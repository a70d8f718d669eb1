"""SparkSession factory with scale-oriented defaults.

The reference relies on the target DBMS as its optimizer/executor
(reference: dbimport/importer.py:312-359 pushes one set-based SQL
statement). Here Catalyst+Tungsten play that role, so the session is
where we pin the configs that matter at 100 TB:

- AQE on (runtime re-plan: shuffle coalescing, skew-join splitting,
  dynamic broadcast conversion) — replaces any hand-tuned partition
  count with a runtime-correct one.
- Arrow on — every pandas_udf / applyInPandas boundary is vectorized
  batch transfer, not per-row pickling (the analogue of the
  reference's ``fast_executemany`` array binding, importer.py:298).
- UTC session timezone — deterministic timestamp semantics across
  engines (oracle comparisons) and executors (cluster correctness).
- shuffle partitions sized from available parallelism; on a real
  cluster this would be ~2-3x total cores, AQE coalesces down.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Spark byte-string suffixes (JavaUtils.byteStringAsBytes): a conf read
# back from a session may carry ANY of these — a vanilla session returns
# maxPartitionBytes as '134217728b', a repo session as '32m', a user
# override as '1g'. Parse them all (r11 verdict gate: an "m"-or-bare-int
# parse crashed join_skew_aqe on the driver's vanilla session).
_BYTE_SUFFIX = {
    "": 1,
    "b": 1,
    "k": 1024,
    "kb": 1024,
    "m": 1024**2,
    "mb": 1024**2,
    "g": 1024**3,
    "gb": 1024**3,
    "t": 1024**4,
    "tb": 1024**4,
    "p": 1024**5,
    "pb": 1024**5,
}


def parse_byte_conf(raw: str) -> int:
    """Parse a Spark byte-string conf value to bytes.

    Accepts every spelling Spark itself emits or accepts for size
    confs — bare integers (bytes) and b/k/kb/m/mb/g/gb/t/tb/p/pb
    suffixes, any case, optional whitespace. Raises ValueError with
    the offending string on anything else (never guess a size)."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", raw)
    if not m or m.group(2).lower() not in _BYTE_SUFFIX:
        raise ValueError(f"unparseable Spark byte-size conf value: {raw!r}")
    return int(m.group(1)) * _BYTE_SUFFIX[m.group(2).lower()]


def get_spark(
    app_name: str = "database-importer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when the env
    var is set, else whatever the environment provides (spark-submit
    on a cluster sets it; bare local runs get ``local[*]``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # start shuffles fine-grained and let AQE coalesce DOWN: the
        # spill-safety knob. At 32 static partitions a 60M-row
        # fact-fact self-join (q21 at sf10) lands ~2M rows per task
        # and dies with UNABLE_TO_ACQUIRE_MEMORY under local[32]'s
        # shared heap; 8x more initial partitions keep every task's
        # hash map inside its memory share, and AQE merges the small
        # post-filter shuffles back so short queries see no extra
        # task-scheduling cost.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # parquet scans: keep footer-based pruning + pushdown on
        .config("spark.sql.parquet.filterPushdown", "true")
        # split large parquet files at 32 MB so a single-file table
        # still scans in parallel, without shattering a big file into
        # more tasks than the row groups can feed. r6 sweep on the
        # 489-row-group sf10 lineitem (1.0 GB): 16m→32m cut the Q1
        # shape 0.94→0.67 s (fewer tasks = less per-task footer/codegen
        # overhead at the same core utilization); 64m/128m were not
        # reliably better and starve parallelism on mid-size files.
        # Splits align to row-group boundaries, so single-row-group
        # files (sf0.1) are one task at ANY setting — this knob only
        # shapes multi-row-group scans.
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # 4x the vectorized parquet reader's column batch (4096→16384
        # rows): fewer batch turnarounds per scan, measured -18% on the
        # sf10 Q1 shape, flat at sf0.1. Memory cost is batch_rows x
        # read-schema width per active task — bounded and small for
        # the column-pruned scans this engine plans.
        .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
        # bigger Arrow batches across the Python boundary: ~12% off
        # pandas-UDF queries at sf10 (fewer per-batch round trips);
        # 64k rows x a few cols stays ~1-2 MB per batch per core
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # report sorted-bucket output ORDERING from bucketed scans so
        # a co-bucketed sort-merge join plans with neither exchange
        # NOR per-task sort. Spark gated this behind a legacy flag
        # because a bucket split across several files concatenates
        # unsorted; every bucketed layout this engine writes goes
        # through operators/partitioning.write_bucketed after a
        # repartition on the bucket key (one file per bucket,
        # asserted in tests), so the reported ordering is truthful.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # stable timestamp semantics when writing/reading parquet
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # parquet TIMESTAMP(NANOS) columns surface as long (ns since
        # epoch); the loader truncates them to µs timestamps — the
        # same truncation DuckDB applies, so oracles agree.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # single-JVM heap for local mode (a real cluster sets executor
        # memory explicitly). r6 cross-process A/B at sf10 (min-of-5
        # per invocation, alternated, tools/probe_heap.py): 16g wins
        # 7-12% on scan/shuffle keys over 8g (q3 1.52->1.39 s,
        # q5_bucketed 611->539 ms, rank-topk 711->662, groupby_double
        # 581->542, merge ~3%) — less spill pressure per task share.
        # BIGGER IS NOT BETTER: 48g is a measured NEGATIVE on the
        # largest shuffle (join_shuffle_sortmerge min 4.4->11.4 s,
        # runs to 91 s — GC churn on huge sorter arrays + loss of
        # compressed oops above ~32g); 16g stays in the compressed-
        # oops range and showed no such storms. GC flavor (G1 vs
        # ParallelGC) A/B'd inconclusive at <=16g — host-stall noise
        # dominates; JVM-default G1 kept.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # the oracle harness legitimately collects full query outputs
        # (toPandas) to diff against DuckDB — at sf10 a map-only key's
        # 60M-row result serializes past the 1g default cap. Engine
        # plans themselves never collect data-sized results.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        # keep managed-table data (bucketed layouts) out of the repo
        .config("spark.sql.warehouse.dir", "/tmp/dbis_warehouse")
        # SPARK_GRAFT_JAVA_OPTS lets cross-process probes A/B JVM-level
        # flags (GC choice, heap geometry) that cannot change inside a
        # live session; empty by default.
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/dbis_derby "
            + os.environ.get("SPARK_GRAFT_JAVA_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # Off-heap Tungsten memory (sort/agg/shuffle buffers outside the
    # GC'd heap) — the standard mitigation when big-shuffle sorter
    # arrays churn the collector. Env-gated for cross-process A/Bs:
    # SPARK_GRAFT_OFFHEAP=16g enables it at that size.
    offheap = os.environ.get("SPARK_GRAFT_OFFHEAP")
    if offheap:
        builder = builder.config("spark.memory.offHeap.enabled", "true").config(
            "spark.memory.offHeap.size", offheap
        )
    return builder.getOrCreate()


def static_plan_session(spark: SparkSession) -> SparkSession:
    """Child session (shared SparkContext, executors, and catalog —
    independent SQLConf) with adaptive execution DISABLED, for
    declared plans whose physical shape is fully determined at plan
    time: broadcast-only star joins, map-only kernels, zero-exchange
    bucketed joins, fixed window/agg pipelines.

    Why: AQE materializes every shuffle (and broadcast) as a
    separately scheduled query stage with a re-optimization round
    trip between stages. For plans with nothing to re-plan — no
    candidate for skew split, no join-side to flip, partial
    aggregation already shrinking the shuffle to rows-per-group —
    that staging buys nothing and costs a per-stage scheduling round
    trip that dominates sub-second queries (measured in
    tools/probe_floor.py: join_broadcast_hash 433→288 ms,
    llm_fingerprint 397→182 ms at sf0.1; both flat vs data size, so
    the same absolute saving holds at sf10). This is a per-query
    planner directive, not an engine default: shapes with real
    re-plan opportunities (fact⨝fact shuffles, count-distinct
    two-level, anything skewable) stay on the AQE session.

    The child shares the SparkContext's broadcast relations, shuffle
    service, and the shared external catalog (bucketed layouts built
    in either session are visible to both); builder-level configs
    (bucketed-scan ordering flag, parquet settings) are inherited
    from the SparkContext conf."""
    cached = getattr(spark, "_dbis_static_child", None)
    if cached is not None:
        return cached
    child = spark.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child._dbis_static_child = child  # idempotent: child of child = child
    spark._dbis_static_child = child
    return child


def skew_plan_session(spark: SparkSession) -> SparkSession:
    """Child session for the AQE SKEW-SPLIT demonstration: broadcast
    joins disabled (plan-time AND AQE runtime — a broadcastable dim
    would dissolve the shuffle the demo exists to rescue) and the
    skew thresholds set as session DEFAULTS (512 KB, factor 2) that
    the demo key OVERRIDES per invocation with a data-sized target
    (lineitem_bytes/64, floored at 512 KB): a fixed small advisory
    shatters a big corpus's hot partition into hundreds of
    micro-tasks (measured: 512 KB at sf10 = ~800 slices,
    scheduling-bound, 7.7 s; data-sized = 5.1 s), a fixed big one
    never fires at small sf. Splits happen at map-output boundaries,
    so the key fans its fact across the default parallelism only
    when the scan itself is single-digit-mapper (small corpora) —
    at sf1+ the 32 MB file splits already provide the mappers. Everything else
    inherits the engine defaults — this is the one-knob-set a real
    cluster job would ship for a known-skewed shuffle join when the
    dim genuinely cannot broadcast."""
    cached = getattr(spark, "_dbis_skew_child", None)
    if cached is not None:
        return cached
    child = spark.newSession()
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    child.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    child.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    child.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    child.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512k"
    )
    child.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")
    child._dbis_skew_child = child
    spark._dbis_skew_child = child
    return child


def pushdown_plan_session(spark: SparkSession) -> SparkSession:
    """Child session for footer-stats aggregates: the DataSource V2
    parquet reader with aggregate pushdown enabled, so a whole-table
    MIN/MAX/COUNT over numeric atomic columns is answered from
    row-group footer statistics — the scan returns one pre-aggregated
    row per row group and never decodes a data page.

    Scoped to a dedicated child because the engine default stays the
    V1 parquet path everywhere else: the rest of the repo's
    plan-shape guarantees (PushedFilters strings, bucketed-scan
    metadata, sorted-bucket ordering) are pinned against V1 plans,
    and pushdown itself is all-or-nothing per aggregate — one
    unsupported expression (strings, timestamps, a filter, a
    non-pushable function) silently reverts the query to a full
    scan, so only plans KNOWN fully pushable (and plan-tested for a
    non-empty PushedAggregation) run here. AQE is off for the same
    reason as static_plan_session: a footer-stats aggregate has
    nothing to re-plan."""
    cached = getattr(spark, "_dbis_pushdown_child", None)
    if cached is not None:
        return cached
    child = spark.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    # default list minus 'parquet' → parquet scans plan as V2 BatchScan
    child.conf.set(
        "spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,text"
    )
    child.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    child._dbis_pushdown_child = child
    spark._dbis_pushdown_child = child
    return child
