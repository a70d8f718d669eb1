"""Partitioning strategies for scale (SURVEY.md §4.4): salted joins
for skewed keys, bucketed tables for shuffle-free co-located joins,
and join-aligned repartitioning.

These are the knobs the 100 TB mandate names explicitly: AQE's skew
split handles most skew at runtime; salting is the static fallback
when one key dominates so hard that even split subpartitions of it
overwhelm a task. Bucketing removes the shuffle from *recurring*
large⨝large joins by persisting both sides pre-hashed on the join
key (the persistent-layout analogue of the reference's server-side
staging table, importer.py:268-291 — co-locate once, join many times).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_importer_spark.cache import fingerprint, memo

SALT = "__dbis_salt"


def _layout_lock(loc: str):
    """Cross-process critical section for layout builds: an flock on
    ``{loc}.lock``. Two processes (e.g. bench and pytest) computing
    the same layout path must not rmtree what the other is reading or
    mid-writing; combined with the only-delete-incomplete policy
    (complete layouts — _SUCCESS present / catalog-registered — are
    never deleted, only reused) this makes concurrent builds safe:
    readers outside the lock only ever touch complete layouts, and
    complete layouts are immutable."""
    import fcntl
    from contextlib import contextmanager

    @contextmanager
    def _lock():
        # The warehouse dir (parent of loc) may not exist yet: it's
        # gitignored, so a fresh checkout runs the first layout key with
        # no spark-warehouse/ — the driver caught exactly this (r6
        # verdict item 1). Create it before opening the lock file.
        os.makedirs(os.path.dirname(loc) or ".", exist_ok=True)
        fd = open(loc + ".lock", "w")
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            fd.close()

    return _lock()


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant equi join: the big side gets a deterministic
    per-row salt (hash of the full row — content-stable, no rand()),
    the small side is replicated once per salt value, and the join
    key becomes (keys + salt). A key holding p% of the big side now
    spreads over ``salt_buckets`` tasks; the small side grows
    ×salt_buckets, which is the explicit cost — only use when the
    small side is comfortably broadcast/replication-sized.

    Result is row-identical to ``big.join(small, on, how)``.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    salted_big = big.withColumn(
        SALT, F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_buckets))
    )
    salts = F.explode(
        F.array(*[F.lit(i) for i in range(salt_buckets)])
    ).alias(SALT)
    replicated_small = small.select("*", salts)
    out = salted_big.join(replicated_small, on=on + [SALT], how=how)
    return out.drop(SALT)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    buckets: int = 8,
    sort: bool = True,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a table pre-hash-partitioned (and sorted) on its join
    keys. Two tables bucketed the same way join with NO exchange and
    (if sorted) no sort — scan → zip partitions → merge.

    ALWAYS repartitions on the bucket keys first (repartition's
    murmur hash == bucketBy's), so each bucket lands in exactly one
    task → exactly ONE file per bucket. This is a correctness
    invariant, not an optimization: session.py turns on the legacy
    `bucketedTableScan.outputOrdering` flag globally, under which a
    sorted-bucket scan REPORTS its sort order and downstream
    sort-merge joins skip their own Sort — truthful only while no
    bucket is split across files (a multi-file bucket concatenates
    unsorted and would silently mis-merge). Writing through this
    function is what keeps the flag safe; test-pinned in
    tests/test_plans.test_bucketed_layout_one_file_per_bucket.

    ``sort_cols`` overrides the in-bucket sort order (must lead with
    the bucket keys to keep the reported ordering useful to a
    same-key merge join; a WINDOW layout extends the keys with the
    frame's ORDER BY so WindowExec's required ordering is satisfied
    straight off the scan)."""
    src = df.repartition(buckets, *[F.col(k) for k in keys])
    w = src.write.mode("overwrite").bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*(sort_cols or keys))
    w.saveAsTable(table)


# Warm-path memo for the ensure_* helpers (cache.memo("ensure")):
# (memo_token, source fingerprint, args) → table name / path. Plan
# canonicalization (a py4j analyzed-plan round trip) and catalog
# existence checks cost ~100-150 ms per query invocation once the
# layout exists — pure per-query constant. A call site may opt in by
# passing a unique memo_token, PROMISING its df derivation is fixed
# code for that token (the token stands in for the canonical plan AND
# the column set in the memo key; the content-addressed table name
# still guards cross-process reuse on first touch). The source-file
# fingerprint stays in the key, so a regenerated corpus invalidates.
#
# Call sites with a memo_token should pass ``df`` as a ZERO-ARG
# CALLABLE returning the DataFrame: constructing the source df is
# itself ~30-70 ms of py4j round trips (reader + projection), and the
# warm path never needs it — the factory is invoked only on a memo
# miss.


def ensure_bucketed_layout(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    df,  # DataFrame, or zero-arg factory () -> DataFrame (see memo note)
    keys: list[str],
    buckets: int = 32,
    sort_cols: list[str] | None = None,
    memo_token: str | None = None,
) -> str:
    """Build (at most once per session) a persistent bucketed copy of
    ``df`` — the projected/derived image of ``{sf_dir}/{source}.parquet``
    — bucketed AND sorted on ``keys``, and return its catalog table
    name. The name encodes (sf_dir, source-file fingerprint, the df's
    CANONICALIZED LOGICAL PLAN, keys, bucket count), so a layout
    widened with more columns, re-bucketed differently, or derived
    through a different transformation (a filter, a different join)
    is a NEW table: a stale or differently-derived layout can never
    be silently reused even when the column names coincide. Builds are
    serialized cross-process by an flock; a COMPLETE leftover layout
    (a peer process built the same content-addressed name) is adopted
    by registering it as a bucketed external table, and only
    half-written leftovers (no _SUCCESS) are cleared — no process can
    delete a layout a peer is scanning.

    This is the co-locate-once-join-many persistent layout of the
    100 TB design (the layout cost amortizes over every downstream
    join on ``keys``); queries over the table still get parquet column
    pruning, so several queries can SHARE one wide layout and each
    read only its columns. write_bucketed itself enforces the
    one-file-per-bucket invariant the session's sorted-bucket
    ordering flag depends on."""
    import hashlib
    import os
    import re
    import shutil

    fp = fingerprint(os.path.join(sf_dir, f"{source}.parquet"))
    ensured = memo("ensure")
    memo_key = None
    if memo_token is not None:
        # the token stands in for the df's derivation (incl. columns),
        # so the warm path runs without materializing the df at all
        memo_key = (
            "bkt", memo_token, fp, tuple(keys), tuple(sort_cols or []), buckets,
        )
        hit = ensured.get(memo_key)
        if hit is not None:
            return hit
    if callable(df):
        df = df()
    # Identify the layout by the df's full derivation, not just its
    # column names: two callers handing same-named projections with
    # different rows (one filtered, one not) must get DIFFERENT
    # layouts. The analyzed logical plan captures the derivation;
    # expression ids (#123) and per-session paths are session noise,
    # so strip ids to keep the tag stable across sessions over the
    # same source files.
    plan_str = df._jdf.queryExecution().analyzed().toString()
    canonical = re.sub(r"#\d+L?", "#", plan_str)
    shape = (
        ",".join(df.columns)
        + "|" + canonical
        + "|" + ",".join(keys)
        + "|" + ",".join(sort_cols or [])
        + f"|{buckets}"
    )
    shape_tag = hashlib.md5(shape.encode()).hexdigest()[:8]
    table = f"dbis_bkt_{source}_{fp}_{shape_tag}"

    def done(name):
        if memo_key is not None:
            ensured[memo_key] = name
        return name

    if spark.catalog.tableExists(table):
        return done(table)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(wh, table)
    with _layout_lock(loc):
        if spark.catalog.tableExists(table):
            return done(table)
        if os.path.exists(os.path.join(loc, "_SUCCESS")):
            # Another process already built this exact layout (the
            # name is content-addressed); adopt it by registering the
            # bucketed external table instead of rebuilding — and
            # never delete a complete layout a peer may be scanning.
            ddl = df._jdf.schema().toDDL()
            sort_clause = ", ".join(sort_cols or keys)
            spark.sql(
                f"CREATE TABLE {table} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({', '.join(keys)}) "
                f"SORTED BY ({sort_clause}) INTO {buckets} BUCKETS "
                f"LOCATION '{loc}'"
            )
            return done(table)
        if os.path.exists(loc):  # crashed half-write: safe under the lock
            shutil.rmtree(loc, ignore_errors=True)
        write_bucketed(df, table, keys, buckets=buckets, sort_cols=sort_cols)
    return done(table)


def ensure_partitioned_layout(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    df,  # DataFrame, or zero-arg factory () -> DataFrame (see memo note)
    part_col: str,
    files_per_partition: int = 1,
    cluster_col: str | None = None,
    memo_token: str | None = None,
) -> str:
    """Build (at most once per corpus) a persistent copy of ``df``
    hive-partitioned on ``part_col`` (a low-cardinality derived
    column, e.g. the event day) and return its path. The directory
    name encodes the same (source fingerprint, canonical plan,
    partition column) identity as the bucketed layouts, so a stale
    or differently-derived layout is never reused; a half-written
    layout (no _SUCCESS marker) is discarded and rebuilt.

    ``files_per_partition``: 1 (default) is right for small or
    many-partition sources (events: 30 day files). For a BIG fact
    with few partition values it starves scan parallelism — one file
    per value means a handful of parquet row groups per partition,
    and splits are row-group-bound (a pruned scan of 1/7 of the
    corpus can end up on ~3 tasks). Setting it >1 salts the
    pre-write repartition with a content hash so each partition
    writes N files and a pruned scan still fans out across the
    executor pool. Content placement does not affect correctness —
    only which file a row lands in.

    ``cluster_col``: when set, the N files per partition are built
    with repartitionByRange(part_col, cluster_col) instead of a hash
    salt — each file covers a contiguous cluster_col slice. This is
    the real ingest layout for time-ordered facts: within-file
    ordering keeps encodings tight and the per-file min/max stats
    razor-sharp, so residual range predicates on cluster_col prune
    pages inside the already-pruned partition (measured on sf10
    lineitem/Q6: hash-salted layout 357 ms, range-clustered 118 ms —
    the salt destroyed the shipdate clustering the predicate needs).
    Range boundaries come from sampling and are placement-only.

    This is the scan-pruning analogue of the bucketed-join layout:
    date-partitioning is how a 100 TB event stream is laid out at
    ingest, and a query filtering on the partition column prunes
    whole directories at PLAN time — the scan-bound cost becomes
    proportional to the queried range, not the corpus."""
    import hashlib
    import os
    import re
    import shutil

    fp = fingerprint(os.path.join(sf_dir, f"{source}.parquet"))
    ensured = memo("ensure")
    memo_key = None
    if memo_token is not None:
        memo_key = (
            "part", memo_token, fp, part_col, files_per_partition, cluster_col,
        )
        hit = ensured.get(memo_key)
        if hit is not None:
            return hit
    if callable(df):
        df = df()
    plan_str = df._jdf.queryExecution().analyzed().toString()
    canonical = re.sub(r"#\d+L?", "#", plan_str)
    shape = (
        ",".join(df.columns)
        + "|" + canonical
        + "|" + part_col
        + "|" + str(files_per_partition)
        + "|" + str(cluster_col)
    )
    shape_tag = hashlib.md5(shape.encode()).hexdigest()[:8]
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(wh, f"dbis_part_{source}_{fp}_{shape_tag}")

    def done(path):
        if memo_key is not None:
            ensured[memo_key] = path
        return path

    if os.path.exists(os.path.join(loc, "_SUCCESS")):
        return done(loc)
    with _layout_lock(loc):
        if os.path.exists(os.path.join(loc, "_SUCCESS")):
            return done(loc)  # a peer finished the build while we waited
        if os.path.exists(loc):  # crashed half-write: safe under the lock
            shutil.rmtree(loc, ignore_errors=True)
        if cluster_col is not None:
            # contiguous cluster_col slices within each partition:
            # global range slices ≈ fpp × |values|, aligned to the
            # part_col boundary because it leads the range keys.
            nvals = df.select(part_col).distinct().count()
            staged = df.repartitionByRange(
                max(1, nvals * files_per_partition),
                F.col(part_col),
                F.col(cluster_col),
            )
        elif files_per_partition > 1:
            # deterministic content-hash salt (NOT rand(): a retried
            # task must re-derive the same placement) → N files per
            # partition value, dropped before write.
            salt = F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]),
                F.lit(files_per_partition),
            )
            staged = (
                df.withColumn("__fpp_salt", salt)
                .repartition(F.col(part_col), F.col("__fpp_salt"))
                .drop("__fpp_salt")
            )
        else:
            staged = df.repartition(F.col(part_col))
        (
            staged.write.mode("overwrite")
            .partitionBy(part_col)
            .parquet(loc)
        )
    return done(loc)


# Leaf-scan cache for partitioned layouts: creating a path-based
# reader re-runs partition DISCOVERY (directory listing + partition
# value parsing over N files) on EVERY call — ~40 ms on a 224-file
# layout, pure per-query constant. A catalog caches exactly this (its
# file index); the loc is content-addressed (source fingerprint in
# the name), so a regenerated corpus produces a new loc and the stale
# entry is simply never hit again. Only the LEAF DataFrame is cached
# — per-query filters/projections still build per call — and layout
# consumers never self-join the layout, so shared expression ids are
# safe. Scoped to the owning LIVE session via cache.memo (child
# sessions have their own SQLConf; a DataFrame is bound to the session
# that created it, and a process memo would pin DataFrames for process
# lifetime). Keys carry a schema fingerprint: two callers
# reading the same loc with different schemas get distinct leaves
# instead of the first registration silently winning.


def _schema_tag(schema) -> str:
    import hashlib

    return hashlib.md5(schema.simpleString().encode()).hexdigest()[:8]


def read_partitioned_layout(spark: SparkSession, loc: str, schema) -> DataFrame:
    """Path-based read of an ensure_partitioned_layout output with an
    explicit schema (skips footer + partition-type inference) and a
    per-session leaf cache (skips per-call partition discovery)."""
    readers = memo("layout_readers", spark)
    key = (loc, _schema_tag(schema))
    df = readers.get(key)
    if df is None:
        df = spark.read.schema(schema).parquet(loc)
        readers[key] = df
    return df


def partitioned_layout_view(spark: SparkSession, loc: str, schema) -> str:
    """Temp-view name over the cached partitioned-layout leaf, for
    declared plans written as a single ``spark.sql`` call (the
    DataFrame filter+agg chain costs ~50-80 ms of py4j round trips
    per invocation; the SQL form ~25 ms). Registered once per
    (session, loc, schema); the loc is content-addressed so a
    regenerated corpus gets a fresh view name."""
    import hashlib

    vname = (
        "dbis_vpart_"
        + hashlib.md5(f"{loc}|{_schema_tag(schema)}".encode()).hexdigest()[:10]
    )
    registered = memo("layout_views", spark)
    if vname not in registered:
        read_partitioned_layout(spark, loc, schema).createOrReplaceTempView(vname)
        registered[vname] = loc
    return vname


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str], how="inner"
) -> DataFrame:
    """Join two same-bucketed tables — Catalyst recognizes the
    co-partitioning from the catalog and plans a shuffle-free SMJ."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)


def repartition_for_join(df: DataFrame, keys: list[str], partitions: int) -> DataFrame:
    """Pre-shuffle once on the join keys so several downstream joins/
    aggs on the same keys reuse one Exchange (Catalyst reuses a
    matching output partitioning instead of re-shuffling)."""
    return df.repartition(partitions, *[F.col(k) for k in keys])
