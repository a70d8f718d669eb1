"""Structured Streaming operators (SURVEY.md §2 B.9) over the events
table: tumbling / sliding / session windows, stateful dedup, late-data
handling.

Test/oracle strategy (SURVEY.md §5.2): every streaming op is run as a
*bounded deterministic replay* — a file-source stream over the same
parquet the batch twin reads, ``trigger(availableNow=True)``, memory
sink — so running the stream to completion must produce exactly the
batch-twin result, and the DuckDB oracle checks it like any batch
query.

Scale design: watermarks bound state (late rows beyond the watermark
are dropped, state for closed windows is evicted); groupBy(window,
key) shuffles on (window, key) like any agg; session windows merge
per key. The same plans run unchanged against kafka/file sources on
a real cluster — only the source/sink change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_importer_spark.plans.registry import dec4_sum

# events parquet physical schemas. Historically the driver generated
# ts as TIMESTAMP(NANOS) (surfaces as bigint under nanosAsLong and is
# normalized after read); current testdata ships TIMESTAMP(MICROS)
# (a plain Spark timestamp). Streaming file sources need the schema
# up front, so sniff the parquet footer and pick the matching one.
EVENTS_RAW_SCHEMA_NANOS = (
    "event_id bigint, ts bigint, user_id bigint, "
    "event_type string, value double, props string"
)
EVENTS_RAW_SCHEMA_TS = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """True when events.parquet stores ts as TIMESTAMP(NANOS).
    Footer-only read on the driver — no data pages touched. Handles
    both a single file and a directory-style parquet dataset (picks
    the first part file; one dataset writes one physical type)."""
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return False
        path = parts[0]
    ts_type = pq.read_schema(path).field("ts").type
    return getattr(ts_type, "unit", None) == "ns"

_QCOUNTER = [0]


def _events_stream_dir(sf_dir: str) -> str:
    """The file stream source requires a *directory*; stage one with
    a symlink to the (read-only) events parquet. sf_dir is abspath'd
    first: a relative path would both split the cache by caller cwd
    and create a symlink whose target breaks when cwd changes (a
    broken link fails os.path.exists yet still blocks os.symlink)."""
    import hashlib
    import tempfile

    sf_dir = os.path.abspath(sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"dbis_events_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    target = os.path.join(sf_dir, "events.parquet")
    if os.path.lexists(link) and os.path.realpath(link) != os.path.realpath(target):
        os.remove(link)  # stale/broken link from an earlier caller
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            pass  # concurrent caller staged the same link — identical target
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet with ts normalized to a
    µs timestamp (same truncation as the batch loader)."""
    from database_importer_spark.sources.loader import _ensure_nanos_readable

    # Watermarks/windows require LTZ timestamps (NTZ is rejected) —
    # keep ts as LTZ here; _ensure_nanos_readable pins the session
    # timezone to UTC so the values are still deterministic.
    _ensure_nanos_readable(spark)
    stream_dir = _events_stream_dir(sf_dir)
    if _events_ts_is_nanos(sf_dir):
        raw = spark.readStream.schema(EVENTS_RAW_SCHEMA_NANOS).parquet(stream_dir)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.readStream.schema(EVENTS_RAW_SCHEMA_TS).parquet(stream_dir)


def read_events_stream_sliced(
    spark: SparkSession, sf_dir: str, slices: int = 4
) -> DataFrame:
    """Events as a MULTI-MICRO-BATCH bounded stream (VERDICT r10 item
    6): the corpus is staged once per process as ``slices``
    TIME-ORDERED parquet files (repartitionByRange on ts — ascending
    slice ranges, so the file source's path-ordered pickup replays
    time forward) and streamed one file per trigger. Unlike the
    single-directory replay (one micro-batch: watermark moves once,
    state commits once), this drives the real cross-batch machinery:
    the watermark ADVANCES at every batch boundary, state carries and
    evicts across batches, and per-batch commits/progress are
    observable. Staging is process-scoped scratch (the r8 fixed-path
    collision class) and memoized on the _SUCCESS marker; ts is
    normalized to µs exactly like the single-batch reader."""
    from database_importer_spark.cache import fingerprint
    from database_importer_spark.scratch import scratch_dir
    from database_importer_spark.sources.loader import _ensure_nanos_readable

    _ensure_nanos_readable(spark)
    sf_dir = os.path.abspath(sf_dir)
    path = os.path.join(sf_dir, "events.parquet")
    d = os.path.join(scratch_dir(f"events_sliced_{slices}"), fingerprint(path))
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        if _events_ts_is_nanos(sf_dir):
            raw = spark.read.schema(EVENTS_RAW_SCHEMA_NANOS).parquet(path)
            df = raw.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        else:
            df = spark.read.schema(EVENTS_RAW_SCHEMA_TS).parquet(path)
        (
            df.repartitionByRange(slices, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(d)
        )
        # the file source replays OLDEST-mtime-first (not path order):
        # stamp ascending mtimes in part order — part index == range
        # slice order — so the stream replays time FORWARD and the
        # watermark advances at every batch instead of jumping to the
        # end on a last-slice-first pickup
        parts = sorted(
            n for n in os.listdir(d) if n.endswith(".parquet")
        )
        base = os.stat(os.path.join(d, parts[0])).st_mtime
        for i, n in enumerate(parts):
            p = os.path.join(d, n)
            os.utime(p, (base + i * 10, base + i * 10))
    schema = spark.read.parquet(d).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )


def _scratch_checkpoint_dir(name: str) -> str:
    """Per-query scratch checkpoint location, on tmpfs when the host
    has one: the bounded replay's offset log and state-store commits
    are durability bookkeeping for a query whose source is a static
    file — paying disk fsyncs for them is pure tax (measured −120 ms
    per replay at sf0.1, tools/probe_stream.py). On a real cluster
    the checkpoint goes on durable shared storage; this knob is
    replay-harness-only and falls back to the system tempdir.

    The directory is created fresh per invocation (mkdtemp): a
    deterministic counter-derived path could collide with a leftover
    checkpoint from a crashed run or a concurrent process, and a
    foreign committed offset log makes availableNow silently resume
    past the data (empty memory-sink result)."""
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    root = os.path.join(base, "dbis_stream_ckpt")
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{name}_", dir=root)


def run_bounded(
    sdf: DataFrame, output_mode: str, expect_min_batches: int | None = None
) -> DataFrame:
    """Run a streaming DataFrame to completion on its bounded source
    (availableNow) into a memory sink; return the final table.

    Stateful streaming cost scales with state-store *partitions*, not
    data: each shuffle partition opens/commits its own store per
    batch. The replay temporarily drops shuffle partitions to 4 —
    on a real cluster you size this to stateful-key cardinality.

    ``expect_min_batches`` pins the replay's batch structure ON EVERY
    INVOCATION: a multi-batch key silently collapsing to one
    micro-batch (e.g. a staging regression dropping
    maxFilesPerTrigger) would still produce the right rows — this
    catches it where the oracle can't."""
    import shutil

    spark = sdf.sparkSession
    _QCOUNTER[0] += 1
    name = f"dbis_stream_{_QCOUNTER[0]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    ckpt = _scratch_checkpoint_dir(name)
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if expect_min_batches is not None:
            data_batches = [
                p for p in q.recentProgress if p["numInputRows"] > 0
            ]
            if len(data_batches) < expect_min_batches:
                raise AssertionError(
                    f"bounded replay ran {len(data_batches)} data "
                    f"micro-batches, expected >= {expect_min_batches}"
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type with a 10-minute
    watermark: count + exact-decimal sum (dec4_sum long-quantized —
    the r4 lever applies inside streaming aggregations too; the state
    row carries a LONG instead of a DECIMAL and the per-row quantize
    is codegen). Watermark bounds state; on bounded replay (complete
    mode) every window emits."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec4_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 minutes: each event lands in 4
    windows (Expand), aggregated per (window, type)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-merged): start = first event,
    end = last event + gap. State is one open session per user,
    closed by the watermark."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec4_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stateful_dedup(events: DataFrame) -> DataFrame:
    """Streaming dedup within the watermark horizon: first arrival
    wins, state evicted past the watermark. Output projected to the
    dedup key so the result is deterministic."""
    return (
        events.withWatermark("ts", "10 minutes")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def late_data_replay(
    spark: SparkSession, sf_dir: str, tmp_dir: str
) -> DataFrame:
    """Late-data semantics demo: split events into 2 files streamed
    one per micro-batch (maxFilesPerTrigger=1) so the watermark
    advances between batches and genuinely-late rows are dropped
    from the windowed aggregation. Timing-dependent across engines →
    rows-only check."""
    from database_importer_spark.sources.loader import load_table

    ev = load_table(spark, sf_dir, "events")
    split = os.path.join(tmp_dir, "dbis_late_split")
    # batch 0: the bulk, in ts order; batch 1: a late straggler slice
    ev.filter(F.col("event_id") % 10 != 0).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(split, "b=0")
    )
    ev.filter(F.col("event_id") % 10 == 0).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(split, "b=1")
    )
    raw = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint, "
                                "event_type string, value double, props string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(split, "b=*"))
    )
    agg = (
        raw.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    return run_bounded(agg, "append")


def stream_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases within 1 hour after a
    click by the same user. Both sides carry watermarks and the join
    condition bounds event time on both sides — that is what lets
    the state store evict rows (unbounded stream-stream joins are
    unbounded state)."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return clicks.join(purchases, cond, "inner").select(
        "click_id", "user_id", "click_ts", "purchase_id", "purchase_ts",
        "purchase_value",
    )
