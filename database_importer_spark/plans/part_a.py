"""Part A declared queries — the reference's own operator surface
(SURVEY.md §2 Part A), each with a DuckDB oracle twin.

The update/merge queries derive a deterministic update source from
``orders`` itself (keys ``o_orderkey % 10 == 0`` re-priced +10.0,
status 'U'; insert rows get keys shifted past the key domain), then
run the engine's Merger — so the oracle can reconstruct the exact
same source in pure SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from database_importer_spark.cache import fingerprint, memo
from database_importer_spark.operators.merge import Merger, candidate_key_check
from database_importer_spark.plans.registry import DEC, declare, frame_cache, t

# Shared oracle fragment: the derived update source (matches
# _updates_df below, column for column).
_U_SQL = """
    SELECT o_orderkey,
           o_totalprice + 10.0 AS o_totalprice,
           'U' AS o_orderstatus
    FROM orders WHERE o_orderkey % 10 = 0
"""


def _updates_df(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )


# --- A.1 sources / metadata ----------------------------------------


@declare(
    "src_file_scan",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def src_file_scan(spark, sf_dir):
    """Whole-table ingest + projection (reference window.py:294-311:
    every sheet → one typed table). Parquet-native: schema travels
    with the file, scan prunes to the projected columns."""
    return t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@declare(
    "src_pk_discovery",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
           (COUNT(*) = COUNT(DISTINCT o_orderkey)
            AND COUNT(*) = COUNT(o_orderkey)) AS is_candidate_key
    FROM orders
    """,
)
def src_pk_discovery(spark, sf_dir):
    """Candidate-key check — the engine's PK discovery analogue
    (reference importer.py:18-28 reads the DBMS catalog; Spark has no
    PK catalog, so keys are *proven* with one aggregate scan)."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderkey").alias("n_distinct"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("n_nulls"),
        (
            (F.count(F.lit(1)) == F.count_distinct("o_orderkey"))
            & (F.count(F.lit(1)) == F.count("o_orderkey"))
        ).alias("is_candidate_key"),
    )


# --- A.2 projection / filter / validation --------------------------


@declare(
    "project_columns",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def project_columns(spark, sf_dir):
    """Column-subset projection (reference importer.py:229-230) —
    pruning reaches the parquet scan (ReadSchema shows 3 columns)."""
    return t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")


@declare(
    "rename_columns",
    oracle="""
    SELECT o_orderkey AS order_id, o_custkey AS customer_id,
           o_totalprice AS total_price
    FROM orders
    """,
)
def rename_columns(spark, sf_dir):
    """Source→target column-name mapping (reference window.py:463-465)."""
    return t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.col("o_totalprice").alias("total_price"),
    )


@declare(
    "filter_notnull_keys",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
    """,
)
def filter_notnull_keys(spark, sf_dir):
    """NULL-key rows can never match — dropped before the merge join
    (reference importer.py:230 dropna(subset=join_on))."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return o.na.drop(subset=["o_orderkey", "o_custkey"])


@declare(
    "assert_unique_keys",
    oracle="""
    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS multiplicity
    FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
    """,
)
def assert_unique_keys(spark, sf_dir):
    """The key-uniqueness invariant as a data query: offending key
    tuples + multiplicity (reference importer.py:242-249 raises on
    any). Map-side partial agg keeps this one scan at any scale."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .filter(F.col("multiplicity") > 1)
    )


# --- A.3 staging / batching ----------------------------------------


@declare("limit0_schema_clone", oracle="SELECT * FROM orders LIMIT 0")
def limit0_schema_clone(spark, sf_dir):
    """Zero-row schema clone (reference importer.py:47-51 TOP 0 CTAS):
    LocalLimit 0 collapses to an empty scan — schema without I/O."""
    return t(spark, sf_dir, "orders").limit(0)


@declare(
    "stage_chunked_batches",
    oracle="""
    WITH numbered AS (
        SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rn
        FROM lineitem
    )
    SELECT CAST(rn // 5000 AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS batch_rows
    FROM numbered GROUP BY 1
    """,
)
def stage_chunked_batches(spark, sf_dir):
    """The reference's 5,000-row staging chunks (importer.py:14,
    :253-261) as a deterministic batch-id assignment. In the engine
    the real analogue is writer batching (JDBC ``batchsize``) —
    this query verifies the partitioning arithmetic. Row numbering is
    the two-phase distributed rank (operators/ranking.py): the fact
    table never funnels through a single-task window."""
    from database_importer_spark.operators.ranking import with_global_row_number

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    return (
        with_global_row_number(
            li,
            [("l_orderkey", False), ("l_linenumber", False)],
            rank_col="__rn",
        )
        .select(F.floor((F.col("__rn") - 1) / 5000).alias("batch_id"))
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("batch_rows"))
    )


# --- A.4 merge core -------------------------------------------------

_POST_UPDATE_SQL = f"""
    WITH u AS ({_U_SQL})
    SELECT a.o_orderkey, a.o_custkey,
           CASE WHEN u.o_orderkey IS NOT NULL
                THEN u.o_orderstatus ELSE a.o_orderstatus END AS o_orderstatus,
           CASE WHEN u.o_orderkey IS NOT NULL
                THEN u.o_totalprice ELSE a.o_totalprice END AS o_totalprice,
           a.o_orderdate, a.o_orderpriority
    FROM orders a LEFT JOIN u ON a.o_orderkey = u.o_orderkey
"""


@declare("update_inner_join", oracle=_POST_UPDATE_SQL)
def update_inner_join(spark, sf_dir):
    """The flagship: set-based update of orders from a derived update
    source (reference importer.py:312-330 UPDATE..FROM..INNER JOIN).
    Broadcast-hash join: the 100 TB target is scanned once, the small
    update side ships to every executor, no shuffle of the big side."""
    target = t(spark, sf_dir, "orders")
    m = Merger(target, _updates_df(spark, sf_dir), join_on=["o_orderkey"])
    return m.merged(update=True)


@declare(
    "update_correlated_subquery",
    oracle=f"""
    WITH u AS ({_U_SQL})
    SELECT o_orderkey, o_custkey,
           CASE WHEN EXISTS (SELECT 1 FROM u WHERE u.o_orderkey = a.o_orderkey)
                THEN (SELECT u.o_orderstatus FROM u WHERE u.o_orderkey = a.o_orderkey)
                ELSE a.o_orderstatus END AS o_orderstatus,
           CASE WHEN EXISTS (SELECT 1 FROM u WHERE u.o_orderkey = a.o_orderkey)
                THEN (SELECT u.o_totalprice FROM u WHERE u.o_orderkey = a.o_orderkey)
                ELSE a.o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders a
    """,
)
def update_correlated_subquery(spark, sf_dir):
    """Same logical op as update_inner_join, oracle written in the
    reference's sqlite correlated-subquery dialect (importer.py:331-354)
    — demonstrating the two dialect branches are one plan (Catalyst
    decorrelates scalar subqueries to joins; we declare the join)."""
    target = t(spark, sf_dir, "orders")
    m = Merger(target, _updates_df(spark, sf_dir), join_on=["o_orderkey"])
    return m.merged(update=True)


@declare(
    "update_rowcount",
    oracle=f"""
    WITH u AS ({_U_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS row_count_updated
    FROM orders a WHERE EXISTS (SELECT 1 FROM u WHERE u.o_orderkey = a.o_orderkey)
    """,
)
def update_rowcount(spark, sf_dir):
    """cur.rowcount parity (reference importer.py:359): rows touched
    by the update = left-semi count (keys validated unique)."""
    target = t(spark, sf_dir, "orders")
    m = Merger(target, _updates_df(spark, sf_dir), join_on=["o_orderkey"])
    return spark.createDataFrame(
        [(m.updated_rowcount(),)], "row_count_updated bigint"
    )


# insert source: half matching keys (updates), half brand-new keys
# (max key + k) — deterministic in both engines.
_INS_SQL = """
    SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders) AS o_orderkey,
           o_totalprice + 10.0 AS o_totalprice,
           'N' AS o_orderstatus
    FROM orders WHERE o_orderkey % 100 = 0
"""


def _insert_source_df(spark, sf_dir):
    # max-key offset as a scalar-subquery-style broadcast crossJoin:
    # the 1-row aggregate executes inside THIS query's plan (broadcast
    # build), not as a driver-side .collect() action per plan build —
    # one job per invocation instead of two full scans.
    o = t(spark, sf_dir, "orders")
    mx = o.agg((F.max("o_orderkey") + F.lit(1)).alias("__key_base"))
    return (
        o.filter(F.col("o_orderkey") % 100 == 0)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("o_orderkey") + F.col("__key_base")).alias("o_orderkey"),
            (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
            F.lit("N").alias("o_orderstatus"),
        )
    )


@declare(
    "insert_anti_join",
    oracle=f"""
    WITH s AS ({_INS_SQL})
    SELECT s.o_orderkey, s.o_totalprice, s.o_orderstatus
    FROM s WHERE NOT EXISTS
        (SELECT 1 FROM orders a WHERE a.o_orderkey = s.o_orderkey)
    """,
)
def insert_anti_join(spark, sf_dir):
    """The reference's NotImplementedError half of MERGE
    (importer.py:361-362), completed: source rows with no target
    match, via left-anti join (broadcast of target keys not needed —
    anti join broadcasts the SMALL side when it's the probe's build)."""
    target = t(spark, sf_dir, "orders")
    src = _insert_source_df(spark, sf_dir)
    return src.join(target.select("o_orderkey"), "o_orderkey", "left_anti")


_UPSERT_ORACLE = f"""
    WITH u AS ({_U_SQL}), s AS ({_INS_SQL})
    SELECT a.o_orderkey, a.o_custkey,
           CASE WHEN u.o_orderkey IS NOT NULL
                THEN u.o_orderstatus ELSE a.o_orderstatus END AS o_orderstatus,
           CASE WHEN u.o_orderkey IS NOT NULL
                THEN u.o_totalprice ELSE a.o_totalprice END AS o_totalprice,
           a.o_orderdate, a.o_orderpriority
    FROM orders a LEFT JOIN u ON a.o_orderkey = u.o_orderkey
    UNION ALL
    SELECT s.o_orderkey, NULL AS o_custkey, s.o_orderstatus, s.o_totalprice,
           NULL AS o_orderdate, NULL AS o_orderpriority
    FROM s WHERE NOT EXISTS
        (SELECT 1 FROM orders a WHERE a.o_orderkey = s.o_orderkey)
    """


@declare("upsert_merge_full", oracle=_UPSERT_ORACLE, cache_frame=True)
def upsert_merge_full(spark, sf_dir):
    """Full MERGE: update matched + insert unmatched under one staged
    scan — the reference's intended end-state ``run(update=True,
    insert=True)`` (importer.py:293-307).

    The source is NOT checkpointed (r7): the r4 checkpoint existed
    because four plan arms re-derived the source subplan (11 scans);
    since r6 the semi probe shares the update arm's broadcast frame,
    so the duplicated subplans are canonically identical and reuse
    one another's exchanges — the A/B now measures the checkpoint as
    pure loss (3.62 → 2.97 s at sf10, tools/probe_merge_fixed.py).
    Dropping it also keeps the source file-anchored, which is what
    lets validate_unique_keys memoize (a checkpointed LogicalRDD has
    no input files to fingerprint, so it re-validated every
    invocation — a fixed 0.6 s job). The reference's staging-table
    step (importer.py:268-291) survives as the plan's single shared
    broadcast materialization of the batch."""
    target = t(spark, sf_dir, "orders")
    src = _updates_df(spark, sf_dir).unionByName(_insert_source_df(spark, sf_dir))
    m = Merger(target, src, join_on=["o_orderkey"])
    return m.merged(update=True, insert=True)


_DELTA_ORACLE = f"""
    WITH u AS ({_U_SQL}), s AS ({_INS_SQL})
    SELECT a.o_orderkey, a.o_custkey, u.o_orderstatus, u.o_totalprice,
           a.o_orderdate, a.o_orderpriority
    FROM orders a JOIN u ON a.o_orderkey = u.o_orderkey
    UNION ALL
    SELECT s.o_orderkey, NULL AS o_custkey, s.o_orderstatus, s.o_totalprice,
           NULL AS o_orderdate, NULL AS o_orderpriority
    FROM s WHERE NOT EXISTS
        (SELECT 1 FROM orders a WHERE a.o_orderkey = s.o_orderkey)
    """


@declare("upsert_merge_delta_rows", oracle=_DELTA_ORACLE)
def upsert_merge_delta_rows(spark, sf_dir):
    """The DELTA-OUTPUT merge (VERDICT r5 #4): only the rows the MERGE
    writes — updated images + inserts — never the unchanged target.
    This is what a lakehouse MERGE commit materializes; the full-table
    `upsert_merge_full` re-emits all target rows for reference parity
    (the reference rewrites its DBMS table server-side), which makes
    its bench row sink-bound at |target|. Here the sink cost is
    batch-proportional: |output| ≤ |source| no matter how big the
    target — at 100 TB the merge writes megabytes, not the table.

    Plan: target streams through one broadcast hash probe per arm
    (inner for updates, anti for inserts) — nothing target-sized
    shuffles, nothing target-sized is output. The source keeps its
    lazy checkpoint — HERE it is what keeps the plan at exactly 3
    broadcast joins with one shared batch materialization (dropping
    it re-derives the batch subplan per arm: 5 broadcast joins, 3
    max-key scans, measured neutral locally but the wrong 100 TB
    shape) — and since r7 passes the pre-checkpoint plan as the
    validate ANCHOR, so key-uniqueness memoizes on the source's file
    fingerprint instead of re-running a fixed job per invocation.

    Optimization r12 (guide §1.2, VERDICT r11 item 3): the PURE
    pre-checkpoint source plan is frame_cache'd (the whole frame must
    not be — a memoized lazy checkpoint would pin computed rows
    across invocations = result caching). The checkpoint is taken on
    a FRESH alias Dataset each invocation: a new QueryExecution means
    new shuffle/broadcast ids, so every run recomputes the batch from
    parquet — reusing the cached object's own toRdd would silently
    resurrect the previous run's shuffle map outputs. The stable
    cached object is what anchors the validate/nonempty memos (its
    per-object plan-string cost is memoized in operators/merge)."""
    target = t(spark, sf_dir, "orders")
    raw = frame_cache(
        spark,
        sf_dir,
        "upsert_merge_delta_rows:src",
        lambda: _updates_df(spark, sf_dir).unionByName(
            _insert_source_df(spark, sf_dir)
        ),
    )
    src = raw.alias("batch").localCheckpoint(eager=False)
    m = Merger(target, src, join_on=["o_orderkey"], validate_anchor=raw)
    return m.merged_delta(update=True, insert=True)


@declare("upsert_merge_bucketed", oracle=_UPSERT_ORACLE)
def upsert_merge_bucketed(spark, sf_dir):
    """The same full MERGE executed against the persistent
    orderkey-bucketed layout — the engine-native equivalent of a
    lakehouse ``MERGE INTO`` on a co-partitioned table (the container
    ships no Delta/Iceberg jars; the layout + Merger(broadcast=False)
    IS that code path). Same oracle as `upsert_merge_full`.

    Why this is the 100 TB merge shape: the broadcast variant collects
    the update batch to the driver and ships it to every executor —
    right for dim-sized batches, wrong once the batch is a few percent
    of a 100 TB target (here it is 11% of rows). Against the bucketed
    layout the plan inverts, and since round 5 it is SINGLE-PASS
    (strategy="full_outer", VERDICT r4 #2): ONE full-outer sort-merge
    join arbitrates update/keep/insert per row — the target scans
    ONCE, in place, with no exchange and no sort (bucketed + truthful
    sorted-bucket metadata); only the ~|batch| source shuffles and
    sorts, once, to align with the layout. Measured vs the former
    two-arm (update ∪ anti-insert) shape at sf10: 1.92 → 1.64 s, and
    the target is scanned once instead of twice. No BATCH-SIZED
    broadcast exists anywhere (the insert source does embed a
    broadcast of a 1-row max-key aggregate, hidden from the visible
    plan by the source's localCheckpoint — that is O(1), not
    O(batch)). Update-batch size stops mattering entirely — a 10 TB
    batch merges with the same plan."""
    from database_importer_spark.plans.relational import (
        orderkey_bucketed_facts,
    )

    _, ot = orderkey_bucketed_facts(spark, sf_dir)
    o = spark.table(ot)

    # r12: pure pre-checkpoint batch plan memoized per corpus
    # fingerprint (same discipline as the delta twin above — fresh
    # alias per invocation keeps every run recomputing from parquet).
    def _build_raw():
        upd = o.filter(F.col("o_orderkey") % 10 == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        )
        mx = o.agg((F.max("o_orderkey") + F.lit(1)).alias("__key_base"))
        ins = (
            o.filter(F.col("o_orderkey") % 100 == 0)
            .crossJoin(F.broadcast(mx))
            .select(
                (F.col("o_orderkey") + F.col("__key_base")).alias("o_orderkey"),
                (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
                F.lit("N").alias("o_orderstatus"),
            )
        )
        return upd.unionByName(ins)
    # MERGE hint: at test sf the batch is broadcast-sized and the
    # planner would happily broadcast it, silently reverting to the
    # other variant's plan (and disabling the bucketed scan it makes
    # unnecessary). The query exists to pin the layout-merge shape —
    # batch-size-independent — so force the sort-merge path. The hint
    # goes through source_join_hint so the Merger applies it only at
    # the join site (a hint on the whole frame also reaches the
    # non-join validation query, where Spark drops it with a warning).
    raw = frame_cache(spark, sf_dir, "upsert_merge_bucketed:src", _build_raw)
    src = raw.alias("batch").localCheckpoint(eager=False)
    m = Merger(
        o,
        src,
        join_on=["o_orderkey"],
        broadcast=False,
        source_join_hint="merge",
        validate_anchor=raw,
    )
    return m.merged(update=True, insert=True, strategy="full_outer")


# Partition-scoped merge batch: one calendar month of updates +
# inserts (the idempotent absolute-value convention of _U_SQL/_INS_SQL,
# scoped so the batch touches exactly ONE of the table's ~80 month
# partitions — the realistic shape: a CDC batch lands in the current
# period, not uniformly across seven years of history).
_PM_MONTH_LO = "1997-03-01"
_PM_MONTH_HI = "1997-04-01"
_PM_INS_DATE = "1997-03-15"

_PART_MERGE_ORACLE = f"""
    WITH u AS (
        SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice,
               'U' AS o_orderstatus, o_orderdate
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '{_PM_MONTH_LO}'
          AND o_orderdate <  TIMESTAMP '{_PM_MONTH_HI}'
          AND o_orderkey % 10 = 0
    ), s AS (
        SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders)
                   AS o_orderkey,
               o_totalprice + 10.0 AS o_totalprice, 'N' AS o_orderstatus,
               TIMESTAMP '{_PM_INS_DATE}' AS o_orderdate
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '{_PM_MONTH_LO}'
          AND o_orderdate <  TIMESTAMP '{_PM_MONTH_HI}'
          AND o_orderkey % 100 = 0
    )
    SELECT a.o_orderkey, a.o_custkey,
           CASE WHEN u.o_orderkey IS NOT NULL
                THEN u.o_orderstatus ELSE a.o_orderstatus END AS o_orderstatus,
           CASE WHEN u.o_orderkey IS NOT NULL
                THEN u.o_totalprice ELSE a.o_totalprice END AS o_totalprice,
           CASE WHEN u.o_orderkey IS NOT NULL
                THEN u.o_orderdate ELSE a.o_orderdate END AS o_orderdate,
           a.o_orderpriority
    FROM orders a LEFT JOIN u ON a.o_orderkey = u.o_orderkey
    UNION ALL
    SELECT s.o_orderkey, NULL AS o_custkey, s.o_orderstatus, s.o_totalprice,
           s.o_orderdate, NULL AS o_orderpriority
    FROM s WHERE NOT EXISTS
        (SELECT 1 FROM orders a WHERE a.o_orderkey = s.o_orderkey)
    """

_PM_PART_COL = "o_month"


def _pm_month_of(df):
    # partition value: yyyymm int derived from the order date
    return (F.year(F.col("o_orderdate")) * 100 + F.month(F.col("o_orderdate"))).cast(
        "int"
    )


def _pm_batch_df(spark, sf_dir, lo=_PM_MONTH_LO, hi=_PM_MONTH_HI,
                 ins_date=_PM_INS_DATE):
    """Month-scoped update ∪ insert batch, carrying o_orderdate so
    every row maps to its target partition (merge contract). Values
    are ABSOLUTE (orig + 10.0 from the immutable source parquet, not
    the live table), which is what makes re-applying the merge
    idempotent.

    ONE scan (an update∪insert twin would scan orders twice and the
    max-key scalar a third time): %100 keys are a subset of %10 keys,
    so the month-filtered %10 scan yields per row an array of [update
    struct, insert struct when %100] — explode(array_compact(...)) is
    codegen (the r4 CDC single-scan pattern; the lambda-HOF Generate
    gotcha does not apply to array/when). The insert key base
    (MAX(o_orderkey)+1) is answered from parquet FOOTER STATS
    (operators/pruning.footer_exact_max — exact for integral columns,
    memoized on file fingerprint, zero jobs zero data pages: the same
    fenced planner-side zone-map class as the top-k threshold) with
    an in-plan broadcast-scalar fallback when stats are absent."""
    import os as _os

    from database_importer_spark.operators.pruning import footer_exact_max

    o = t(spark, sf_dir, "orders")
    in_month = (
        F.col("o_orderdate") >= F.lit(lo).cast("timestamp")
    ) & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    base = o.filter(in_month & (F.col("o_orderkey") % 10 == 0))
    mx = footer_exact_max(_os.path.join(sf_dir, "orders.parquet"), "o_orderkey")
    if mx is not None:
        key_base = F.lit(int(mx) + 1).cast("bigint")
    else:
        scalar = o.agg((F.max("o_orderkey") + F.lit(1)).alias("__key_base"))
        base = base.crossJoin(F.broadcast(scalar))
        key_base = F.col("__key_base")
    return _pm_batch_core(base, key_base, ins_date=ins_date)


def _pm_batch_core(base, key_base, ins_date=_PM_INS_DATE):
    """The update∪insert struct-explode over a month-filtered %10 base
    scan (the r4 CDC single-scan pattern) — shared by the
    source-derived batch (_pm_batch_df) and the staging-derived batch
    (_pm_batch_from_v0)."""
    upd_struct = F.struct(
        F.col("o_orderkey").alias("o_orderkey"),
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
        F.col("o_orderdate").alias("o_orderdate"),
    )
    ins_struct = F.when(
        F.col("o_orderkey") % 100 == 0,
        F.struct(
            (F.col("o_orderkey") + key_base).alias("o_orderkey"),
            (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(ins_date).cast("timestamp").alias("o_orderdate"),
        ),
    )
    return base.select(
        F.explode(F.array_compact(F.array(upd_struct, ins_struct))).alias("r")
    ).select("r.*")


# the batch's months, statically known: updates are filtered to the
# batch month and inserts are dated _PM_INS_DATE inside it
_PM_TOUCHED = [199703]


def _pm_batch_from_v0(spark, sf_dir, loc):
    """The SAME month batch derived from the snapshot table's own
    immutable v0 (byte-identical to the source: v0 IS the unmutated
    load) with the read manifest-pruned to the batch month — the
    staging-table shape of a production CDC feed: batch derivation
    costs |month| (one pruned file), not a full source rescan per
    merge. The insert key base still comes from the source's parquet
    footer stats (identical values; zero jobs), with the in-plan
    scalar fallback reading v0."""
    import os as _os

    from database_importer_spark.operators.pruning import footer_exact_max
    from database_importer_spark.operators.snapshot_table import (
        read_snapshot,
    )

    o = read_snapshot(spark, loc, version=0, part_values=_PM_TOUCHED)
    in_month = (
        F.col("o_orderdate") >= F.lit(_PM_MONTH_LO).cast("timestamp")
    ) & (F.col("o_orderdate") < F.lit(_PM_MONTH_HI).cast("timestamp"))
    base = o.filter(in_month & (F.col("o_orderkey") % 10 == 0))
    mx = footer_exact_max(_os.path.join(sf_dir, "orders.parquet"), "o_orderkey")
    if mx is not None:
        key_base = F.lit(int(mx) + 1).cast("bigint")
    else:
        scalar = read_snapshot(spark, loc, version=0).agg(
            (F.max("o_orderkey") + F.lit(1)).alias("__key_base")
        )
        base = base.crossJoin(F.broadcast(scalar))
        key_base = F.col("__key_base")
    return _pm_batch_core(base, key_base)


def _pm_parts(spark, sf_dir):
    """Shared by the declared key and its plan/filesystem tests:
    (live table loc, full layout schema, pre-write merged frame)."""
    from pyspark.sql import types as T

    from database_importer_spark.operators.merge_partitioned import (
        ensure_live_target,
        merge_touched_only,
        touched_partitions,
    )

    target_schema = t(spark, sf_dir, "orders").schema

    def live_src():
        o = t(spark, sf_dir, "orders")
        return o.withColumn(_PM_PART_COL, _pm_month_of(o))

    loc = ensure_live_target(
        spark, sf_dir, "orders", live_src, _PM_PART_COL, "upsert_pm"
    )
    schema = T.StructType(
        list(target_schema.fields)
        + [T.StructField(_PM_PART_COL, T.IntegerType())]
    )
    batch = _pm_batch_df(spark, sf_dir)
    touched = touched_partitions(
        spark, batch, _pm_month_of(batch), ("upsert_merge_partitioned", loc)
    )
    out = merge_touched_only(
        spark,
        loc,
        schema,
        _PM_PART_COL,
        _pm_month_of,
        batch,
        ["o_orderkey"],
        touched,
    )
    return loc, schema, out, touched


@declare("upsert_merge_partitioned", oracle=_PART_MERGE_ORACLE)
def upsert_merge_partitioned(spark, sf_dir):
    """The flagship MERGE at its 100 TB shape (VERDICT r7 item 1):
    copy-on-write against a month-partitioned live table, rewriting
    ONLY the partitions the batch touches.

    ``upsert_merge_full`` re-emits all target rows per merge because
    the reference rewrites its DBMS table server-side
    (importer.py:293-362) — at 100 TB a megabyte batch must not cost a
    table rewrite. Here the batch (one month of updates + inserts,
    carrying its partition column) drives the lakehouse copy-on-write
    protocol on plain parquet: touched-partition set from the batch
    (one bounded memoized job), a partition-PRUNED scan of only those
    directories (PartitionFilters plan-pinned), broadcast-batch merge
    arms over |partition| rows, and a dynamic-partition-overwrite
    commit that replaces exactly those directories. Untouched
    partitions are never scanned for the write and never rewritten
    (filesystem-pinned). Write cost is |touched| + |batch| — a 10 TB
    table with a one-month batch merges at one-month cost.

    The merge is IDEMPOTENT (absolute SET values; re-applied inserts
    become same-value updates), so the live table converges and every
    invocation returns the same post-merge state — the returned frame
    is the full final table, hash-matched against the pure-SQL oracle,
    which is what proves untouched partitions kept their bytes."""
    loc, schema, out, touched = _pm_parts(spark, sf_dir)
    from database_importer_spark.operators.merge_partitioned import (
        commit_dynamic_overwrite,
        read_live_table,
    )

    commit_dynamic_overwrite(spark, out, _PM_PART_COL, loc)
    # audit read of the FINAL table state (committed bytes, not the
    # pre-write frame): full scan, but a plain column scan, not the
    # merge's join work — the verification read a warehouse would do
    # anyway. Incremental listing: only the touched dirs re-list.
    final = read_live_table(spark, loc, schema, _PM_PART_COL, touched)
    return final.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )


# --- snapshot table: native lakehouse commit protocol -----------------
# The carried "Delta/Iceberg MERGE INTO if jars appear" item, built
# natively (operators/snapshot_table.py): immutable data files,
# versioned manifests with file-level stats, atomic link(2) commits
# with optimistic retry, snapshot-isolated readers, time travel.
# Same batch/oracle family as upsert_merge_partitioned, so the two
# commit primitives (dynamic overwrite vs manifest swap) are directly
# comparable in BASELINE.md.


# Creation contract per declared snapshot table: (v0 files fan-out,
# cdf materialization). AUTHORITATIVE — _snap_loc folds the token into
# the directory name (ADVICE r10: flipping a table's creation params
# must mint a FRESH table, never silently reuse a stale one under the
# create-once contract; the manual dbis_snap_* deletion gotcha class
# dies here), and the creation sites assert their params against it.
_SNAP_CONTRACT = {
    "upsert": (16, False),
    "inc": (16, False),
    "feed": (72, True),
    "replica": (16, False),
    "pspec": (16, False),
    "ptl": (64, False),
    "ref": (16, False),
    "delw": (16, False),
    "dv": (16, False),
    "cdc": (16, True),
    "repl": (16, False),
    "cm": (84, False),
    "catd": (16, False),
    "cats": (4, False),
    "feedc": (84, True),
}


def _snap_contract_token(name):
    files, cdf = _SNAP_CONTRACT[name]
    return f"f{files}" + ("c" if cdf else "")


def _snap_loc(spark, sf_dir, name="upsert"):
    """Table root: warehouse + corpus fingerprint + creation-contract
    token. SHARED across processes — snapshot isolation plus
    optimistic commits make a shared mutable table safe (the
    dynamic-overwrite live table had to be process-scoped precisely
    because its commit deletes files under concurrent readers; the
    manifest protocol removes that class), and idempotent merge
    content means any interleaving of writers converges to the same
    state."""
    import os

    fp = fingerprint(os.path.join(sf_dir, "orders.parquet"))
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    token = _snap_contract_token(name)
    return os.path.join(wh, f"dbis_snap_{name}_{fp}_{token}")


def _snap_batch_touched(spark, sf_dir, loc):
    from database_importer_spark.operators.merge_partitioned import (
        touched_partitions,
    )

    batch = _pm_batch_df(spark, sf_dir)
    touched = touched_partitions(
        spark, batch, _pm_month_of(batch), ("upsert_merge_snapshot", loc)
    )
    return batch, touched


def _snap_create(spark, sf_dir, loc):
    from database_importer_spark.operators.snapshot_table import (
        create_snapshot_table,
    )

    def src():
        o = t(spark, sf_dir, "orders")
        return o.withColumn(_PM_PART_COL, _pm_month_of(o))

    # files=16 pins the v0 fan-out: ~84 order months / 16 ≈ 5-month
    # range slices per file at any sf — sharp manifest pruning even
    # where AQE would coalesce a small corpus to one file.
    return create_snapshot_table(
        spark, loc, src, _PM_PART_COL, "o_orderkey", files=16
    )


def _snap_ensure_merged(spark, sf_dir):
    """Table exists with ≥1 merge commit — the shared precondition of
    the time-travel and pruned-read keys. Memoized per session (the
    merge KEY itself commits fresh every invocation; these two only
    need a post-merge table). Returns (loc, touched)."""
    from database_importer_spark.operators.snapshot_table import (
        latest_version,
        merge_snapshot_commit,
    )
    cache = memo("snapshot_merge_state", spark)
    loc = _snap_loc(spark, sf_dir)
    hit = cache.get(loc)
    if hit is None:
        _snap_create(spark, sf_dir, loc)
        batch, touched = _snap_batch_touched(spark, sf_dir, loc)
        if latest_version(loc) == 0:
            merge_snapshot_commit(
                spark, loc, batch, ["o_orderkey"], _pm_month_of, touched
            )
        hit = (loc, touched)
        cache[loc] = hit
    return hit


_SNAP_OUT_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


@declare("upsert_merge_snapshot", oracle=_PART_MERGE_ORACLE)
def upsert_merge_snapshot(spark, sf_dir):
    """The flagship MERGE on the native snapshot-table commit protocol
    (operators/snapshot_table.py) — the lakehouse-MERGE-INTO
    equivalent, jar-free.

    ``upsert_merge_partitioned`` already bounds the WORK to the
    touched slice; this key also fixes its two protocol gaps: the
    commit is ATOMIC (staged manifest published by link(2) — no
    window where a partition directory is half-replaced) and readers
    are SNAPSHOT-ISOLATED (commits never delete files, so a concurrent
    scan of the previous version cannot hit FAILED_READ_FILE — the
    exact cross-process failure the r8 sweep caught on the
    dynamic-overwrite table, which is why that one must stay
    process-scoped while this table is shared). Conflicting writers
    serialize via optimistic retry on the version link, and idempotent
    merge content (absolute SET values) makes any writer interleaving
    converge. Every invocation performs a real commit: manifest-pruned
    read of only the files overlapping the batch's touched months,
    broadcast-batch merge arms, new files + new manifest. Per-commit
    cost — data AND metadata — scales with the commit, not the table.
    The returned frame is the full final state read from the committed
    manifest, hash-matched against the same pure-SQL oracle as the
    partitioned twin."""
    from database_importer_spark.operators.snapshot_table import (
        merge_snapshot_commit,
        read_snapshot,
    )

    loc = _snap_loc(spark, sf_dir)
    _snap_create(spark, sf_dir, loc)
    batch, touched = _snap_batch_touched(spark, sf_dir, loc)
    v = merge_snapshot_commit(
        spark, loc, batch, ["o_orderkey"], _pm_month_of, touched
    )
    return read_snapshot(spark, loc, version=v).select(*_SNAP_OUT_COLS)


@declare(
    "table_time_travel",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def table_time_travel(spark, sf_dir):
    """Time travel: read VERSION 0 of the snapshot table AFTER it has
    been mutated by at least one merge commit, and hash-match it
    against the untouched source — proof that historical versions
    survive mutation byte-exactly (commits write new files and new
    manifests; they never touch the files an old version references).
    At 100 TB this is the audit/reproducibility read every training
    pipeline needs: "the corpus exactly as the run that trained the
    model saw it", at manifest-resolution cost."""
    from database_importer_spark.operators.snapshot_table import read_snapshot

    loc, _touched = _snap_ensure_merged(spark, sf_dir)
    return read_snapshot(spark, loc, version=0).select(*_SNAP_OUT_COLS)


@declare(
    "table_snapshot_prune_read",
    oracle=f"""
    SELECT * FROM ({_PART_MERGE_ORACLE}) m
    WHERE year(m.o_orderdate) * 100 + month(m.o_orderdate) = 199703
    """,
)
def table_snapshot_prune_read(spark, sf_dir):
    """Manifest-side file pruning: resolve the latest snapshot and
    read the batch's month with the file list pruned DRIVER-SIDE
    against the manifest's per-file partition-column min/max stats —
    files that cannot contain the month are never given to the engine,
    so they are not listed, opened, or read (Iceberg's planning-time
    file pruning; pinned via inputFiles in tests). The residual exact
    filter trims boundary files that straddle the month (v0 files are
    range-clustered on (month, orderkey), so straddle is at most one
    file per edge). Exact vs the merged-state oracle restricted to the
    same month."""
    from database_importer_spark.operators.snapshot_table import read_snapshot

    loc, touched = _snap_ensure_merged(spark, sf_dir)
    df = read_snapshot(spark, loc, part_values=touched)
    return df.filter(F.col(_PM_PART_COL).isin(touched)).select(
        *_SNAP_OUT_COLS
    )


@declare("table_compact_snapshot", oracle=_PART_MERGE_ORACLE)
def table_compact_snapshot(spark, sf_dir):
    """Table maintenance as a commit — the lakehouse OPTIMIZE
    (operators/snapshot_table.compact_snapshot_commit): the merged
    table's content is rewritten into fewer range-clustered files and
    published as a NEW version; rows are bit-identical by construction
    so the post-compaction full state hash-matches the same merge
    oracle, which is exactly what the key proves. Concurrent readers
    of any prior version are untouched (immutable files), and a racing
    MERGE just makes the compactor recompute — the small-file entropy
    every copy-on-write table accumulates is retired without ever
    blocking the table. At 100 TB this runs per-partition on a
    schedule; the protocol is the same."""
    from database_importer_spark.operators.snapshot_table import (
        compact_snapshot_commit,
        read_snapshot,
    )

    loc, _touched = _snap_ensure_merged(spark, sf_dir)
    v = compact_snapshot_commit(spark, loc, files=8)
    return read_snapshot(spark, loc, version=v).select(*_SNAP_OUT_COLS)


@declare(
    "table_schema_evolution",
    oracle=f"""
    SELECT m.*, CAST(NULL AS VARCHAR) AS o_note
    FROM ({_PART_MERGE_ORACLE}) m
    """,
)
def table_schema_evolution(spark, sf_dir):
    """ADD COLUMN as a METADATA-ONLY snapshot commit
    (operators/snapshot_table.evolve_snapshot_schema): the child
    manifest carries the widened schema over the PARENT'S unchanged
    file list — zero data rewritten no matter the table size (the
    Delta/Iceberg schema-evolution contract; file-identity pinned in
    tests). The post-evolution read resolves the manifest schema and
    the parquet reader fills the new column with NULL for every
    pre-evolution file — hash-matched against the merged-state oracle
    widened with a NULL column, which is what proves both halves:
    old data readable under the new schema, new column all-NULL.
    Idempotent across invocations (evolve only if the column is
    absent), so concurrent sweeps converge."""
    from database_importer_spark.operators.snapshot_table import (
        evolve_snapshot_schema,
        read_snapshot,
    )

    loc, _touched = _snap_ensure_merged(spark, sf_dir)
    evolve_snapshot_schema(
        spark, loc, [("o_note", "string")], exist_ok=True
    )
    return read_snapshot(spark, loc).select(*_SNAP_OUT_COLS, "o_note")


def _ref_table(spark, sf_dir):
    """The branch/tag fixture (VERDICT r8 item 4), own table 'ref':
    tag 'train' pinned at v0, at least one merge commit past it, and
    branch 'main' CAS-advanced to a merged version. Every step is
    concurrent-idempotent (tag/branch creation converges on the same
    version; the head-advance loop re-reads on a lost CAS, and peers
    only ever advance the head to idempotent merged states)."""
    from database_importer_spark.operators.snapshot_table import (
        branch_head,
        create_branch,
        create_tag,
        merge_snapshot_commit,
        update_branch,
    )

    loc = _snap_create_named(spark, sf_dir, "ref")
    create_tag(loc, "train", version=0)
    # ONE commit past the tag is the contract (the refs are what the
    # keys measure, not merge throughput — the merge keys own that);
    # the expected_parent CAS means exactly one racer lands v1 and
    # every later invocation observes the chain done.
    from database_importer_spark.operators.snapshot_table import (
        latest_version,
    )

    if latest_version(loc) == 0:
        batch, touched = _snap_batch_touched(spark, sf_dir, loc)
        merge_snapshot_commit(
            spark,
            loc,
            batch,
            ["o_orderkey"],
            _pm_month_of,
            touched,
            expected_parent=0,
        )
    create_branch(loc, "main", version=0)
    for _ in range(100):
        cur = branch_head(loc, "main")
        if cur >= 1:
            break  # ours or a peer's merged version: both converge
        update_branch(loc, "main", 1, expected_version=cur)
    else:
        raise RuntimeError(f"branch head advance lost the CAS race at {loc}")
    return loc


@declare(
    "table_branch_write_read",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def table_branch_write_read(spark, sf_dir):
    """Named refs — the TAG half (VERDICT r8 item 4): tag 'train' is
    pinned at v0, the table is committed PAST it ONCE (CAS-guarded on
    expected_parent — the refs are the contract this key measures,
    merge throughput is the merge keys' job; later invocations observe
    the chain done), and the read resolves the tag — byte-exact v0, hash-
    matched against the untouched source. This is the reproducible-
    training-run primitive ("the corpus exactly as the tagged run saw
    it") with a NAME instead of a version number, and the tag is what
    pins v0 against vacuum (operators/snapshot_table.vacuum_snapshot
    retains ref'd versions). Tags are immutable: re-creating at the
    same version converges (racing peers), at any other version
    raises."""
    from database_importer_spark.operators.snapshot_table import read_snapshot

    loc = _ref_table(spark, sf_dir)
    return read_snapshot(spark, loc, ref="train").select(*_SNAP_OUT_COLS)


@declare("table_branch_head_read", oracle=_PART_MERGE_ORACLE)
def table_branch_head_read(spark, sf_dir):
    """Named refs — the BRANCH half: branch 'main' is advanced to the
    merged version by a compare-and-swap on its current head (a
    numbered ref entry published by link(2) — losers re-read and
    retry, exactly the optimistic loop commit writers run), and the
    read resolves the head. Every advance target is an idempotent
    merge commit, so the head's content hash-matches the merged-state
    oracle no matter how many writers raced. At 100 TB this is the
    serving pointer: consumers read 'main', writers publish versions
    and move it atomically — no consumer ever sees a half-published
    state."""
    from database_importer_spark.operators.snapshot_table import read_snapshot

    loc = _ref_table(spark, sf_dir)
    return read_snapshot(spark, loc, ref="main").select(*_SNAP_OUT_COLS)


def _snap_create_named(spark, sf_dir, name, files=16, cdf=False):
    """Create-once v0 = orders + o_month on a per-key snapshot table
    (the DELETE keys mutate destructively, so they each own a table
    instead of sharing the merge family's). Same fan-out contract as
    _snap_create: files=16 range-clustered on (month, orderkey) —
    every file covers a contiguous ~5-month slice, which is what
    makes the delete classification sharp. Keys whose per-commit cost
    is bounded by the files INTERSECTING one month pass files≈84
    (month-pure-ish slices): a copy-on-write rewrite then touches
    ~1 month of rows instead of a 5-month file — the granularity a
    real table would choose when its merge batches are month-scoped.
    ``cdf`` enables the change-data-feed write contract (merge commits
    materialize their row delta — the tables the CDF keys consume)."""
    from database_importer_spark.operators.snapshot_table import (
        create_snapshot_table,
    )

    assert _SNAP_CONTRACT[name] == (files, cdf), (
        f"creation params for {name!r} drifted from _SNAP_CONTRACT"
    )
    return _snap_create_at(
        spark, sf_dir, _snap_loc(spark, sf_dir, name), files=files, cdf=cdf
    )


def _snap_create_at(spark, sf_dir, loc, files=16, cdf=False):
    """Create-once v0 = orders + o_month at an EXPLICIT location —
    shared by the contract-named tables and the process-scoped ones
    (vacuum demo) whose location is scratch-derived."""
    from database_importer_spark.operators.snapshot_table import (
        create_snapshot_table,
    )

    def src():
        o = t(spark, sf_dir, "orders")
        return o.withColumn(_PM_PART_COL, _pm_month_of(o))

    create_snapshot_table(
        spark, loc, src, _PM_PART_COL, "o_orderkey", files=files, cdf=cdf
    )
    return loc


_DELW_LO, _DELW_HI = 199701, 199712


@declare(
    "table_delete_where",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE year(o_orderdate) * 100 + month(o_orderdate)
          NOT BETWEEN {_DELW_LO} AND {_DELW_HI}
    """,
)
def table_delete_where(spark, sf_dir):
    """Partition-range DELETE as a copy-on-write snapshot commit with
    Iceberg's planning-time METADATA DELETE
    (operators/snapshot_table.delete_where_commit): dropping calendar
    year 1997 (12 of ~80 months) classifies every file against its
    manifest min/max — interior files leave the manifest WITHOUT BEING
    READ (zero IO whatever their size), untouched files are carried by
    identity, and only the ≤2 straddling edge files are rewritten. At
    100 TB this is how retention enforcement must work: deleting a
    year is metadata plus two bounded edge rewrites, never a table
    scan. Re-invocation converges to a pure-metadata commit (interior
    gone, rewritten edges no longer intersect the range). The
    returned frame is the full post-delete state read from the
    committed manifest, hash-matched against the NOT-BETWEEN oracle —
    which is what proves both halves: every 1997 row gone, every
    non-1997 row byte-intact."""
    from database_importer_spark.operators.snapshot_table import (
        delete_where_commit,
        read_snapshot,
    )

    loc = _snap_create_named(spark, sf_dir, "delw")
    v = delete_where_commit(spark, loc, _DELW_LO, _DELW_HI)
    return read_snapshot(spark, loc, version=v).select(*_SNAP_OUT_COLS)


@declare(
    "table_delete_mor",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE o_custkey % 500 <> 3
    """,
)
def table_delete_mor(spark, sf_dir):
    """Scattered-key DELETE as a MERGE-ON-READ snapshot commit
    (operators/snapshot_table.delete_keys_commit) — the equality-
    delete / deletion-vector half of the DELETE design space. The
    doomed keys (orders of every 500th customer — present in
    essentially every month partition, the GDPR-erasure shape where
    copy-on-write would rewrite the whole table) are committed as ONE
    small parquet delete file; the parent's data files republish by
    identity, so write cost is |keys| regardless of table size. The
    read resolves the manifest and applies the delete as a broadcast
    anti-join on o_orderkey (map-side — the 15M-row data never
    shuffles); sequence numbers make a later merge's re-inserted keys
    outrank the delete (pinned in tests), and OPTIMIZE
    (compact_snapshot_commit) retires the delete debt. Hash-matched
    against the plain filtered oracle: deleted keys gone, everything
    else byte-intact."""
    from database_importer_spark.operators.snapshot_table import (
        delete_keys_commit,
        read_snapshot,
    )

    loc = _snap_create_named(spark, sf_dir, "dv")
    doomed = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 500 == 3)
        .select("o_orderkey")
    )
    delete_keys_commit(
        spark, loc, doomed, ["o_orderkey"], tag="custkey_mod500_3"
    )
    return read_snapshot(spark, loc).select(*_SNAP_OUT_COLS)


def _merge_changes_sql(version: int, lo=_PM_MONTH_LO, hi=_PM_MONTH_HI,
                       ins_date=_PM_INS_DATE) -> str:
    """DuckDB SQL for the row-level changes the month-batch MERGE
    makes against a full-orders table state, tagged with the given
    commit version — shared by the single-commit CDF key, the
    multi-step feed key (whose merge lands at a different version),
    and the compacted-chain key (three different months). Month
    batches touch disjoint key sets (updates are month-scoped source
    keys, inserts are above the global max), so each commit's change
    set derives from the ORIGINAL source regardless of merge order."""
    return f"""
    WITH u AS (
        SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice,
               'U' AS o_orderstatus, o_orderdate
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '{lo}'
          AND o_orderdate <  TIMESTAMP '{hi}'
          AND o_orderkey % 10 = 0
    ), s AS (
        SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders)
                   AS o_orderkey,
               o_totalprice + 10.0 AS o_totalprice, 'N' AS o_orderstatus,
               TIMESTAMP '{ins_date}' AS o_orderdate
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '{lo}'
          AND o_orderdate <  TIMESTAMP '{hi}'
          AND o_orderkey % 100 = 0
    )
    SELECT 'update_preimage' AS _change_type, a.o_orderkey, a.o_custkey,
           a.o_orderstatus, a.o_totalprice, a.o_orderdate, a.o_orderpriority,
           CAST({version} AS INTEGER) AS _commit_version
    FROM orders a JOIN u ON a.o_orderkey = u.o_orderkey
    UNION ALL
    SELECT 'update_postimage', a.o_orderkey, a.o_custkey,
           u.o_orderstatus, u.o_totalprice, u.o_orderdate, a.o_orderpriority,
           CAST({version} AS INTEGER)
    FROM orders a JOIN u ON a.o_orderkey = u.o_orderkey
    UNION ALL
    SELECT 'insert', s.o_orderkey, CAST(NULL AS BIGINT),
           s.o_orderstatus, s.o_totalprice, s.o_orderdate,
           CAST(NULL AS VARCHAR), CAST({version} AS INTEGER)
    FROM s WHERE NOT EXISTS
        (SELECT 1 FROM orders a WHERE a.o_orderkey = s.o_orderkey)
    """


@declare("table_changes_merge", oracle=_merge_changes_sql(1))
def table_changes_merge(spark, sf_dir):
    """Row-level CHANGE DATA FEED out of a lakehouse MERGE commit
    (operators/snapshot_table.read_changes) — the consumer primitive
    for merge-maintained tables, where the append-only incremental
    scan is structurally refused. The commit's manifests are diffed
    into removed/added files (copy-on-write bounds both to the
    touched slice), the row delta is the two-way EXCEPT ALL (carried
    rows rewritten byte-identically cancel out and are never
    emitted), and the table key classifies each surviving row as
    insert / update_preimage / update_postimage / delete. Versions
    0→1 of this key's own table are immutable history, so the feed
    is deterministic forever — exactly the 'replay what that commit
    did to the corpus' read a downstream training job uses to update
    its derived state at |commit| cost, not |table|. Hash-matched
    against the batch's update/insert effect derived straight from
    the source."""
    from database_importer_spark.operators.snapshot_table import (
        latest_version,
        merge_snapshot_commit,
        read_changes,
    )

    # own table: only this key commits here, so v1 is ALWAYS the batch
    # merge (the shared merge table's v1 can be any first-comer commit,
    # e.g. a streaming micro-batch). A racing creator that loses the
    # version CAS re-merges the identical batch at v2+ — v0→v1 stays
    # the canonical commit either way. cdf=True: the merge commit
    # MATERIALIZES its row delta as change files (r10 — the Delta
    # `_change_data` design), so this read is a plain scan of them;
    # pre-cdf tables fall back to the read-time digest diff,
    # test-pinned equal.
    loc = _snap_create_named(spark, sf_dir, "cdc", cdf=True)
    if latest_version(loc) == 0:
        batch, touched = _snap_batch_touched(spark, sf_dir, loc)
        merge_snapshot_commit(
            spark, loc, batch, ["o_orderkey"], _pm_month_of, touched
        )
    ch = read_changes(spark, loc, 0, 1, ["o_orderkey"])
    return ch.select("_change_type", *_SNAP_OUT_COLS, "_commit_version")


_INC_CUTOFF = "1998-01-01"


@declare(
    "table_incremental_read",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_INC_CUTOFF}'
    """,
)
def table_incremental_read(spark, sf_dir):
    """Incremental append scan — the consumer side of an append-only
    snapshot feed (operators/snapshot_table.read_incremental). v0 of
    the table holds history (orders before 1998); the 1998 slice
    lands once as an INSERT-only append commit
    (append_snapshot_commit: new files + manifest union, existing
    data never read, CAS-guarded on the parent version so exactly one
    of N racing processes performs the load). The incremental read
    diffs the two manifests and scans ONLY the files the append
    added — untouched history is never listed (inputFiles-pinned in
    tests), and the append-only property of the version range is
    validated from the manifests themselves, not trusted from tags.
    At 100 TB this is the standing primitive for every downstream
    job: catch up from version A to B at |delta| cost, not |table|.
    Hash-matched against the appended slice of the source."""
    from database_importer_spark.operators.snapshot_table import (
        append_snapshot_commit,
        create_snapshot_table,
        latest_version,
        read_incremental,
    )

    loc = _snap_loc(spark, sf_dir, "inc")
    cutoff = F.lit(_INC_CUTOFF).cast("timestamp")

    def src():
        o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
        return o.withColumn(_PM_PART_COL, _pm_month_of(o))

    create_snapshot_table(spark, loc, src, _PM_PART_COL, "o_orderkey", files=16)
    if latest_version(loc) == 0:
        delta = t(spark, sf_dir, "orders").filter(
            F.col("o_orderdate") >= cutoff
        )
        append_snapshot_commit(
            spark,
            loc,
            delta.withColumn(_PM_PART_COL, _pm_month_of(delta)),
            expected_parent=0,
        )
    return read_incremental(spark, loc, 0, latest_version(loc)).select(
        *_SNAP_OUT_COLS
    )


def _feed_table(spark, sf_dir):
    """A snapshot table with a DETERMINISTIC multi-step history —
    the fixture for the change-feed keys:

      v0  create   orders before {_INC_CUTOFF} (+ o_month)
      v1  append   the 1998 slice (INSERT-only commit)
      v2  merge    the month-199703 update∪insert batch
      v3  compact  OPTIMIZE into 8 files (content-preserving)

    Every step is CAS-guarded on its expected parent version
    (expected_parent), so N racing processes build exactly this chain:
    one racer lands each step, the rest observe it done — the same
    concurrent-idempotence contract the r8 sweep protocol requires.
    Returns (loc, head_version)."""
    from database_importer_spark.operators.snapshot_table import (
        append_snapshot_commit,
        compact_snapshot_commit,
        create_snapshot_table,
        latest_version,
        merge_snapshot_commit,
    )

    loc = _snap_loc(spark, sf_dir, "feed")
    cutoff = F.lit(_INC_CUTOFF).cast("timestamp")

    def src():
        o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
        return o.withColumn(_PM_PART_COL, _pm_month_of(o))

    # files=72 ≈ one pre-1998 month per v0 slice: the merge step's
    # removed/added diff is then bounded by ~one month of rows.
    # cdf=True (r10): the merge step materializes its change files at
    # commit time, so consumer reads of v2 are plain scans.
    create_snapshot_table(
        spark, loc, src, _PM_PART_COL, "o_orderkey", files=72, cdf=True
    )
    if latest_version(loc) == 0:
        delta = t(spark, sf_dir, "orders").filter(
            F.col("o_orderdate") >= cutoff
        )
        append_snapshot_commit(
            spark,
            loc,
            delta.withColumn(_PM_PART_COL, _pm_month_of(delta)),
            expected_parent=0,
        )
    if latest_version(loc) == 1:
        batch, touched = _snap_batch_touched(spark, sf_dir, loc)
        merge_snapshot_commit(
            spark,
            loc,
            batch,
            ["o_orderkey"],
            _pm_month_of,
            touched,
            expected_parent=1,
        )
    if latest_version(loc) == 2:
        compact_snapshot_commit(spark, loc, files=8, expected_parent=2)
    return loc, 3


@declare(
    "table_changes_append",
    oracle=f"""
    SELECT 'insert' AS _change_type, o_orderkey, o_custkey, o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority,
           CAST(1 AS INTEGER) AS _commit_version
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_INC_CUTOFF}'
    """,
)
def table_changes_append(spark, sf_dir):
    """The CDF DEGENERATE FAST PATH the production feed actually runs
    on (VERDICT r8 item 3): a pure-append step emits its added rows as
    inserts with NO diff at all — read_changes sees removed == [] and
    plans a plain scan of the commit's added files, so the append-
    dominated common case costs exactly the incremental scan, never
    the digest shuffle the update-step diff needs. Reads v0→v1 of the
    feed table (the 1998 append); history untouched by the later merge
    and compaction commits — the feed over an immutable version range
    is deterministic forever."""
    from database_importer_spark.operators.snapshot_table import read_changes

    loc, _head = _feed_table(spark, sf_dir)
    ch = read_changes(spark, loc, 0, 1, ["o_orderkey"])
    return ch.select("_change_type", *_SNAP_OUT_COLS, "_commit_version")


@declare(
    "table_changes_feed",
    oracle=f"""
    SELECT 'insert' AS _change_type, o_orderkey, o_custkey, o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority,
           CAST(1 AS INTEGER) AS _commit_version
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_INC_CUTOFF}'
    UNION ALL
    SELECT * FROM ({_merge_changes_sql(2)}) mc
    """,
)
def table_changes_feed(spark, sf_dir):
    """Multi-step CHANGE DATA FEED (VERDICT r8 item 3): one
    read_changes call over the version RANGE v0→v3 of the feed table —
    append, merge, and OPTIMIZE in a single consumer read, each step
    priced at its own shape:

      * v1 (pure append)  → added-files scan, inserts, no diff;
      * v2 (merge)        → bounded removed/added digest diff,
                            classified update pre/post + inserts;
      * v3 (compaction)   → SKIPPED by op-tag contract — content-
                            preserving, zero cost (ADVICE r8).

    This is the catch-up read a downstream job issues after missing
    several commits: cost = Σ |touched slice per commit|, maintenance
    commits free, never |table| × steps. Hash-matched against the
    union of the append slice (version 1) and the merge's change set
    (version 2)."""
    from database_importer_spark.operators.snapshot_table import read_changes

    loc, head = _feed_table(spark, sf_dir)
    ch = read_changes(spark, loc, 0, head, ["o_orderkey"])
    return ch.select("_change_type", *_SNAP_OUT_COLS, "_commit_version")


@declare("table_changes_cursor", oracle=_PART_MERGE_ORACLE)
def table_changes_cursor(spark, sf_dir):
    """CDF SUBSCRIBE/RESUME (VERDICT r9 item 3) + the multi-table
    atomic catalog (item 5), composed into the production consumer
    loop: a named CURSOR on the feed table persists "the last version
    this consumer fully applied"; the consumer reads
    read_changes(cursor → head), applies the range to a REPLICA
    snapshot table via the latest-image-per-key CDC apply
    (operators/snapshot_table.apply_changes_commit — Delta's APPLY
    CHANGES), advances the cursor with an entry-number CAS (ABA-proof:
    entry numbers never repeat), and publishes (replica version,
    cursor position) together in ONE catalog manifest entry
    (catalog_commit) — a catalog reader can never observe the replica
    advanced without its cursor, or vice versa.

    Crash/replay convergence (the stream_snapshot_ingest story): a
    consumer dying between apply and cursor-advance re-applies the
    same range as same-value updates — absolute values make the apply
    idempotent, so the replica converges and exactly one racer lands
    each cursor advance. Once the cursor reaches the head the loop is
    a metadata no-op. Cost per catch-up = Σ |commit change sets|
    (materialized change files on this cdf table), never |table| —
    the replica's full state is returned and hash-matched against the
    same merged-state oracle as the flagship merge keys, which is
    what proves the feed carried EVERY row effect. The cursor also
    pins its version against vacuum (a paused consumer can always
    resume). Bounded driver-side steps: cursor/catalog file reads and
    the memoized touched-months collect (the fenced
    touched_partitions class)."""
    from database_importer_spark.operators.merge_partitioned import (
        touched_partitions,
    )
    from database_importer_spark.operators.snapshot_table import (
        advance_cursor,
        apply_changes_commit,
        catalog_commit,
        create_cursor,
        create_snapshot_table,
        cursor_entry,
        read_changes,
        read_snapshot,
    )

    loc, head = _feed_table(spark, sf_dir)
    rloc = _snap_loc(spark, sf_dir, "replica")
    create_snapshot_table(
        spark,
        rloc,
        lambda: read_snapshot(spark, loc, version=0),
        _PM_PART_COL,
        "o_orderkey",
        files=16,
    )
    create_cursor(loc, "replica", version=0)
    cat_loc = rloc + "_catalog"
    for _ in range(8):
        entry_k, pos = cursor_entry(loc, "replica")
        if pos >= head:
            break
        ch = read_changes(spark, loc, pos, head, ["o_orderkey"])
        touched = touched_partitions(
            spark,
            ch.filter(F.col("_change_type") != "update_preimage"),
            F.col(_PM_PART_COL),
            ("table_changes_cursor", loc, pos, head),
        )
        rv = apply_changes_commit(
            spark, rloc, ch, ["o_orderkey"], _pm_month_of, touched,
            range_tag=f"apply:{loc}:{pos}->{head}",
        )
        if advance_cursor(loc, "replica", head, expected_entry=entry_k):
            # the winning consumer publishes BOTH pointers atomically;
            # a losing racer's state was landed by the winner already.
            catalog_commit(
                cat_loc,
                {
                    "replica": {"loc": rloc, "version": rv},
                    "cursor": {"table": loc, "name": "replica",
                               "position": head},
                },
            )
    # warm path after convergence = full replica readback of an
    # immutable version: static session + frame cache (r9 pattern),
    # keyed on the replica's version so any new apply invalidates.
    from database_importer_spark.operators.snapshot_table import (
        latest_version,
    )
    from database_importer_spark.session import static_plan_session

    rv_now = latest_version(rloc)
    cache = memo("replica_frame", spark)
    ck = (rloc, rv_now)
    df = cache.get(ck)
    if df is None:
        df = read_snapshot(
            static_plan_session(spark), rloc, version=rv_now
        ).select(*_SNAP_OUT_COLS)
        cache[ck] = df
    return df


@declare(
    "table_cursor_lag",
    oracle=f"""
    WITH ap AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
        WHERE o_orderdate >= TIMESTAMP '{_INC_CUTOFF}'
    ),
    mc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM ({_merge_changes_sql(2)}) q
    )
    SELECT 'analytics' AS consumer, 3 AS position, 3 AS head,
           0 AS versions_behind, 0 AS pending_commits,
           CAST(0 AS BIGINT) AS pending_change_rows
    UNION ALL
    SELECT 'ml_train', 1, 3, 2, 1, (SELECT n FROM mc)
    UNION ALL
    SELECT 'cold_start', 0, 3, 3, 2,
           (SELECT n FROM ap) + (SELECT n FROM mc)
    """,
)
def table_cursor_lag(spark, sf_dir):
    """CDF consumer GROUPS with lag metrics (VERDICT r10 item 3):
    three named cursors subscribe to the feed table at different
    positions — 'analytics' caught up at the head, 'ml_train' paused
    after the append, 'cold_start' fresh at v0 — and
    operators/snapshot_table.cursor_lag_report computes each
    consumer's versions-behind, pending DATA commits (the compaction
    step v3 is free by the op-tag contract, exactly as read_changes
    skips it), and the EXACT pending change-feed row count, all from
    MANIFEST METADATA alone: cdf merge commits record their
    materialized change files' row counts, appends record their added
    files' — no data file is opened and no Spark job runs (plan-pinned
    LocalTableScan, zero inputFiles). This is the monitoring read a
    consumer-group dashboard polls; at 100 TB its cost is |versions
    scanned| small JSON files, independent of table size. The oracle
    recomputes the two pending row counts from the source: the 1998
    append slice and the month-batch merge's CDF cardinality."""
    from database_importer_spark.operators.snapshot_table import (
        create_cursor,
        cursor_lag_report,
    )

    loc, head = _feed_table(spark, sf_dir)
    create_cursor(loc, "analytics", version=head)
    create_cursor(loc, "ml_train", version=1)
    create_cursor(loc, "cold_start", version=0)
    rep = cursor_lag_report(loc, ["analytics", "ml_train", "cold_start"])
    return spark.createDataFrame(
        [
            (
                r["consumer"],
                r["position"],
                r["head"],
                r["versions_behind"],
                r["pending_commits"],
                r["pending_change_rows"],
            )
            for r in rep
        ],
        "consumer string, position int, head int, versions_behind int, "
        "pending_commits int, pending_change_rows bigint",
    )


_CC_MONTHS = [
    ("1997-01-01", "1997-02-01", "1997-01-15"),
    ("1997-02-01", "1997-03-01", "1997-02-15"),
    ("1997-03-01", "1997-04-01", "1997-03-15"),
]


def _feedc_table(spark, sf_dir):
    """The change-file-compaction fixture: a cdf table accumulating
    one materialized change-file group per commit — v1/v2/v3 = three
    month-batch merges (disjoint key sets), v4 = compact_changes over
    the whole range. Every step expected_parent-guarded: N racing
    processes build this exact chain once. Returns (loc, head=4)."""
    from database_importer_spark.operators.snapshot_table import (
        compact_changes_commit,
        latest_version,
        merge_snapshot_commit,
    )

    loc = _snap_create_named(spark, sf_dir, "feedc", files=84, cdf=True)
    for i, (lo, hi, ins) in enumerate(_CC_MONTHS):
        if latest_version(loc) == i:
            batch = _pm_batch_df(spark, sf_dir, lo, hi, ins)
            month = int(lo[:4]) * 100 + int(lo[5:7])
            merge_snapshot_commit(
                spark, loc, batch, ["o_orderkey"], _pm_month_of,
                [month], expected_parent=i,
            )
    if latest_version(loc) == 3:
        compact_changes_commit(spark, loc, 0, 3, expected_parent=3)
    return loc, 4


@declare(
    "table_changes_compacted",
    oracle=" UNION ALL ".join(
        f"SELECT * FROM ({_merge_changes_sql(i + 1, lo, hi, ins)}) m{i}"
        for i, (lo, hi, ins) in enumerate(_CC_MONTHS)
    ),
)
def table_changes_compacted(spark, sf_dir):
    """CHANGE-FILE COMPACTION (VERDICT r10 seed): three cdf merge
    commits each persisted their own small change-file group; an
    op-tagged maintenance commit (compact_changes_commit — the
    change-data analogue of OPTIMIZE) consolidated them into ONE
    range-clustered file set ordered by _commit_version, indexed by a
    link(2)-CAS sidecar entry so consumers reading OLD version ranges
    (which never walk the compaction commit's manifest) still find
    it. This read spans v0→v4: the three merge steps come back from
    the consolidated files (inputFiles-pinned in tests — per-commit
    small files are no longer opened), the compaction step itself is
    skipped by the op-tag contract, and the result is byte-identical
    to the pre-compaction feed by construction (the consolidated rows
    were read from the change files themselves, version column
    physical). At 100 TB this is the nightly maintenance that keeps a
    long-lived CDF subscribable: a consumer catching up over hundreds
    of commits opens one clustered file set, pruning its subrange via
    the version column's page stats, instead of hundreds of small
    per-commit file groups."""
    from database_importer_spark.operators.snapshot_table import (
        read_changes,
    )

    loc, head = _feedc_table(spark, sf_dir)
    ch = read_changes(spark, loc, 0, head, ["o_orderkey"])
    return ch.select("_change_type", *_SNAP_OUT_COLS, "_commit_version")


@declare(
    "table_vacuum_retention",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def table_vacuum_retention(spark, sf_dir):
    """VACUUM with a RETENTION POLICY (VERDICT r10 item 5): keep the
    last N versions plus every ref-pinned one, physically retire the
    rest. The chain is v0 (tagged 'audit_v0') → v1 month-batch merge →
    v2 idempotent re-merge (same batch: same content, fresh files —
    v1's rewritten slice becomes unreferenced history). vacuum
    keep_latest=1 then retires v1: its manifest goes, its unique data
    files are deleted, and a direct read of v1 fails DESCRIPTIVELY
    ('retired by vacuum', unit-pinned — never a raw internal-path
    FileNotFoundError), while the TAG keeps v0 byte-exact forever —
    returned here and hash-matched against the untouched source,
    which is the retention contract's two halves in one result: what
    the policy keeps stays perfect, what it retires says so.

    The table is PROCESS-SCOPED (scratch-dir class, dead-pid GC'd):
    vacuum DELETES files, so a shared mutable table would reintroduce
    the FAILED_READ_FILE class the snapshot protocol exists to
    prevent — exactly why real lakehouses require a retention window
    longer than any concurrent reader. The shared declared tables
    never vacuum mid-sweep; this key owns its table so the deletion
    path is exercised for real without racing peers."""
    from database_importer_spark.operators.snapshot_table import (
        create_tag,
        latest_version,
        merge_snapshot_commit,
        read_snapshot,
        vacuum_snapshot,
    )
    from database_importer_spark.scratch import scratch_dir
    import os

    fp = fingerprint(os.path.join(sf_dir, "orders.parquet"))
    loc = os.path.join(scratch_dir(f"vret_{fp}"), "tbl")
    _snap_create_at(spark, sf_dir, loc)
    create_tag(loc, "audit_v0", version=0)
    for parent in (0, 1):
        if latest_version(loc) == parent:
            batch, touched = _snap_batch_touched(spark, sf_dir, loc)
            merge_snapshot_commit(
                spark, loc, batch, ["o_orderkey"], _pm_month_of,
                touched, expected_parent=parent,
            )
    vacuum_snapshot(loc, keep_latest=1)
    return read_snapshot(spark, loc, ref="audit_v0").select(
        *_SNAP_OUT_COLS
    )


# --- multi-table atomic catalog commit (VERDICT r10 item 1) -----------
# The catalog machinery (link-CAS top-level manifest) was exercised
# READ-side by table_changes_cursor; this is the WRITER-side
# integration: a transaction that commits TWO tables and publishes
# both version pointers in ONE catalog entry — the multi-table
# generalization of the reference's single-table run()
# (importer.py:293-310), whose staged design implies exactly this
# commit point.


def _cat_summary_agg(df):
    """The derived table's content: per-month order rollup. Sums
    accumulate in DECIMAL(25,4) (order-independent, the repo's money
    rule) and are STORED as decimal — the read casts to double, so
    stored and recomputed values share the one decimal→double cast."""
    return df.groupBy(F.col(_PM_PART_COL).alias("o_month")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(25,4)"))
        .cast("decimal(25,4)")
        .alias("sum_price"),
    )


def _cat_year_of(df):
    return F.floor(F.col("o_month") / 100).cast("int")


@declare(
    "catalog_multi_table_txn",
    oracle=f"""
    WITH m AS ({_PART_MERGE_ORACLE}),
    g AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER)
                   AS o_month,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS s
        FROM m GROUP BY 1
    )
    SELECT o_month, n AS n_orders, s AS sum_price,
           n AS n_orders_live, s AS sum_price_live
    FROM g
    """,
)
def catalog_multi_table_txn(spark, sf_dir):
    """Multi-table TRANSACTION through the catalog (VERDICT r10 item
    1): a DETAIL table (orders snapshot) and a derived SUMMARY table
    (per-month rollup) are committed by one writer — detail gets the
    month-batch MERGE, summary gets the touched months recomputed
    FROM the detail table's new version (a manifest-pruned key-range
    read, cost = |touched slice|) — and the two new versions are
    published together in ONE link(2)-CAS catalog entry. The catalog
    is the COMMIT POINT: a reader resolving through it can never
    observe the detail merged without its summary, or vice versa
    (per-table commits are visible to direct-table readers earlier,
    exactly like files are visible before a manifest lands — the
    entry is what makes them a transaction). Every step is
    expected_parent/CAS-guarded, so N racing writers build one
    deterministic chain and exactly ONE catalog entry lands
    (two-process race pinned in tests/test_snapshot_table.py).

    The returned frame is the cross-table consistency read at the
    catalog version: the summary's STORED rows full-outer-joined to a
    rollup RECOMPUTED from the detail table at its catalog-pinned
    version — emitted as (stored, live) column pairs that the oracle
    states once. Any torn state (summary missing the merge's month,
    detail at the wrong version) breaks the hash. Bounded driver-side
    steps: catalog/manifest file reads + the memoized touched-months
    collect (the fenced touched_partitions class); at 100 TB the
    writer's data work is |touched months|, the catalog entry is one
    small JSON publish, and the consistency read here stands in for
    the downstream query a warehouse would run at the entry's pinned
    versions."""
    from database_importer_spark.operators.snapshot_table import (
        catalog_commit,
        catalog_latest,
        create_snapshot_table,
        latest_version,
        load_catalog,
        merge_snapshot_commit,
        read_snapshot,
        read_snapshot_keyrange,
    )

    # 1. DETAIL table: create-once v0 = orders (+o_month), v1 = the
    #    month-batch merge (expected_parent: one racer lands it).
    dloc = _snap_create_named(spark, sf_dir, "catd")
    if latest_version(dloc) == 0:
        batch, touched = _snap_batch_touched(spark, sf_dir, dloc)
        merge_snapshot_commit(
            spark, dloc, batch, ["o_orderkey"], _pm_month_of, touched,
            expected_parent=0,
        )
    dv = latest_version(dloc)

    # 2. SUMMARY table: v0 = rollup of detail@v0; v1 = the touched
    #    months re-aggregated from detail@dv (manifest-pruned read —
    #    summary maintenance costs |touched|, never |table|).
    sloc = _snap_loc(spark, sf_dir, "cats")
    assert _SNAP_CONTRACT["cats"] == (4, False)

    def s_src():
        base = _cat_summary_agg(read_snapshot(spark, dloc, version=0))
        return base.withColumn("o_year", _cat_year_of(base))

    create_snapshot_table(
        spark, sloc, s_src, "o_year", "o_month", files=4
    )
    if latest_version(sloc) == 0:
        _b, touched = _snap_batch_touched(spark, sf_dir, dloc)
        months = sorted(touched)
        tslice = read_snapshot_keyrange(
            spark, dloc, _PM_PART_COL, months[0], months[-1], version=dv
        ).filter(F.col(_PM_PART_COL).isin(months))
        merge_snapshot_commit(
            spark,
            sloc,
            _cat_summary_agg(tslice),
            ["o_month"],
            _cat_year_of,
            sorted({m // 100 for m in months}),
            expected_parent=0,
        )
    sv = latest_version(sloc)

    # 3. The transaction COMMIT: one catalog entry binding both
    #    versions. Exactly-once: publish only while no entry exists —
    #    the link(2) CAS arbitrates racers, and the loser reads the
    #    winner's (identical, deterministic-chain) entry.
    cat_loc = dloc + "_cat"
    if catalog_latest(cat_loc) is None:
        catalog_commit(
            cat_loc,
            {
                "detail": {"loc": dloc, "version": dv},
                "summary": {"loc": sloc, "version": sv},
            },
        )

    # 4. The catalog-resolved consistency read.
    cat = load_catalog(cat_loc)
    dv_c = cat["tables"]["detail"]["version"]
    sv_c = cat["tables"]["summary"]["version"]
    stored = read_snapshot(spark, sloc, version=sv_c).select(
        "o_month",
        "n_orders",
        F.col("sum_price").cast("double").alias("sum_price"),
    )
    live = _cat_summary_agg(
        read_snapshot(spark, dloc, version=dv_c)
    ).select(
        F.col("o_month").alias("_lm"),
        F.col("n_orders").alias("n_orders_live"),
        F.col("sum_price").cast("double").alias("sum_price_live"),
    )
    return (
        stored.join(live, stored["o_month"] == live["_lm"], "full_outer")
        .select(
            "o_month", "n_orders", "sum_price",
            "n_orders_live", "sum_price_live",
        )
    )


_REPL_YEAR = 1996


def _repl_table(spark, sf_dir):
    """The REPLACE fixture: v0 = full orders, v1 = one atomic
    full-content REPLACE with the {_REPL_YEAR} slice (CAS-guarded on
    expected_parent — exactly one racer lands it, later invocations
    observe the chain done). Both replace keys read immutable
    versions of this chain, so they are deterministic forever."""
    from database_importer_spark.operators.snapshot_table import (
        latest_version,
        replace_snapshot_commit,
    )

    loc = _snap_create_named(spark, sf_dir, "repl")
    if latest_version(loc) == 0:
        o = t(spark, sf_dir, "orders").filter(
            F.year("o_orderdate") == _REPL_YEAR
        )
        replace_snapshot_commit(
            spark,
            loc,
            o.withColumn(_PM_PART_COL, _pm_month_of(o)),
            files=4,
            expected_parent=0,
        )
    return loc


@declare(
    "table_replace_overwrite",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE year(o_orderdate) = {_REPL_YEAR}
    """,
)
def table_replace_overwrite(spark, sf_dir):
    """Full-content REPLACE (INSERT OVERWRITE) as one atomic snapshot
    commit (VERDICT r9 item 2 — the last commit-taxonomy hole;
    operators/snapshot_table.replace_snapshot_commit): the retention
    job that keeps only the {_REPL_YEAR} slice publishes the new
    content as ONE version — no instant at which a reader sees a
    half-replaced table, and every parent file survives by identity
    for time travel until vacuum. Write cost is |new content|, the
    replace contract. Taxonomy contracts around it are pinned in
    tests: read_incremental REFUSES a range containing the replace
    (validated from the manifests — parent files don't survive);
    read_changes fast-paths it as drop+insert by op tag
    (table_changes_replace is that read). Hash-matched against the
    plain year-slice oracle: replaced content exact, nothing else
    visible."""
    from database_importer_spark.operators.snapshot_table import read_snapshot

    loc = _repl_table(spark, sf_dir)
    return read_snapshot(spark, loc, version=1).select(*_SNAP_OUT_COLS)


@declare(
    "table_changes_replace",
    oracle=f"""
    SELECT 'delete' AS _change_type, o_orderkey, o_custkey,
           o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
           CAST(1 AS INTEGER) AS _commit_version
    FROM orders
    UNION ALL
    SELECT 'insert', o_orderkey, o_custkey, o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority,
           CAST(1 AS INTEGER)
    FROM orders
    WHERE year(o_orderdate) = {_REPL_YEAR}
    """,
)
def table_changes_replace(spark, sf_dir):
    """CHANGE DATA FEED over a REPLACE commit — the drop+insert
    degenerate path (Delta's CDF semantics for overwrite commits,
    VERDICT r9 item 2's op-tag contract): every pre-replace row emits
    as ``delete``, every replacement row as ``insert``, with NO diff
    work — this is the one commit shape where diffing the files would
    BE a table scan, so the op tag is also what keeps read_changes'
    bounded-cost claim honest across it. Old-side rows honor the
    deletes that applied at the parent version (a row already
    invisible never reports deleted). Reads the immutable v0→v1 of
    the replace fixture — deterministic forever."""
    from database_importer_spark.operators.snapshot_table import read_changes

    loc = _repl_table(spark, sf_dir)
    ch = read_changes(spark, loc, 0, 1, ["o_orderkey"])
    return ch.select("_change_type", *_SNAP_OUT_COLS, "_commit_version")


@declare(
    "table_partition_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE year(o_orderdate) = 1998
    """,
)
def table_partition_evolution(spark, sf_dir):
    """PARTITION-SPEC EVOLUTION as a metadata-only commit (VERDICT r9
    item 4; operators/snapshot_table.evolve_partition_spec): the table
    starts partitioned by month (v0, pre-1998 history, with o_year
    declared in stats_cols — the forward-compatible move for a table
    expecting to coarsen its spec), evolves to partition by YEAR at v1
    (zero data rewritten — the manifest re-declares the spec and each
    old file's month range migrates into its per-column stats map
    while its recorded o_year stats become its first-class pruning
    range), then the 1998 slice lands under the NEW spec at v2
    (CAS-guarded append). The read prunes by year ACROSS the spec
    boundary: old files prune via their migrated per-column stats,
    new files via first-class year stats — mixed-spec pruning is
    exactly what Iceberg's spec evolution must keep working, and the
    stats-based design makes it free here (a path-based partitioner
    would re-layout). inputFiles-pinned in tests; hash-matched
    against the year slice."""
    from database_importer_spark.operators.snapshot_table import (
        append_snapshot_commit,
        create_snapshot_table,
        evolve_partition_spec,
        latest_version,
        read_snapshot,
    )

    loc = _snap_loc(spark, sf_dir, "pspec")
    cutoff = F.lit(_INC_CUTOFF).cast("timestamp")

    def src():
        o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
        o = o.withColumn(_PM_PART_COL, _pm_month_of(o))
        return o.withColumn("o_year", F.year("o_orderdate").cast("int"))

    create_snapshot_table(
        spark,
        loc,
        src,
        _PM_PART_COL,
        "o_orderkey",
        files=16,
        stats_cols=["o_year"],
    )
    evolve_partition_spec(spark, loc, "o_year")
    if latest_version(loc) == 1:
        d = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= cutoff)
        d = d.withColumn(_PM_PART_COL, _pm_month_of(d)).withColumn(
            "o_year", F.year("o_orderdate").cast("int")
        )
        # files=8 > |distinct years in the slice| (the scaled corpora
        # shift replicated dates past 1998): the post-evolution range
        # clustering is on o_year alone, so the partitioner can emit
        # at most one file per year — 8 slots make every appended file
        # YEAR-PURE and the pruned read decodes only the asked year
        # (files=2 coalesced 1998+1999 into one 4.5M-row file whose
        # residual filter discarded half of what it decoded).
        append_snapshot_commit(spark, loc, d, files=8, expected_parent=1)
    # fixed-shape map-only read of an immutable snapshot: static
    # session (no AQE wrapper) + frame cache per (table, version) —
    # the r9 point-lookup warm path; version in the key invalidates
    # on commits.
    from database_importer_spark.session import static_plan_session

    v = latest_version(loc)
    cache = memo("pspec_frame", spark)
    ck = (loc, v)
    df = cache.get(ck)
    if df is None:
        df = (
            read_snapshot(
                static_plan_session(spark), loc, version=v, part_values=[1998]
            )
            .filter(F.col("o_year") == 1998)
            .select(*_SNAP_OUT_COLS)
        )
        cache[ck] = df
    return df


@declare(
    "upsert_merge_commit_only",
    oracle=f"""
    SELECT * FROM ({_PART_MERGE_ORACLE}) m
    WHERE year(m.o_orderdate) * 100 + month(m.o_orderdate) = 199703
    """,
)
def upsert_merge_commit_only(spark, sf_dir):
    """The MERGE benched at the cost of the COMMIT ITSELF (VERDICT r8
    item 2): same snapshot-table copy-on-write merge as
    ``upsert_merge_snapshot``, but the returned frame is the commit's
    OWN OUTPUT — the rows its new data files hold (manifest diff →
    added entries; operators/snapshot_table.commit_added_entries),
    restricted to the batch's month — instead of a full-table audit
    readback. The full-state keys stay as the correctness contract
    (they prove untouched files kept their bytes); this key separates
    MERGE cost from read-the-whole-table cost in the bench: every
    timed component — manifest-pruned slice read, broadcast merge
    arms, new files + manifest, bounded added-files readback — scales
    with the commit, not the table, which is the number that matters
    at 100 TB (the audit read alone ≈ DuckDB's whole CTAS in the
    full-state rows, BASELINE r8 decompositions). Exactness: the
    candidate set is stats-complete for the touched month, so the new
    files contain every post-merge row of that month (neighbor months
    ride along in rewritten files and are filtered out); hash-matched
    against the merged-state oracle restricted to the same month."""
    from database_importer_spark.operators.snapshot_table import (
        commit_added_entries,
        load_manifest,
        merge_snapshot_commit,
    )
    from database_importer_spark.operators.snapshot_table import (
        _read_with_deletes,
    )
    from pyspark.sql import types as T

    # files≈84 → month-pure-ish v0 slices: the commit rewrites ~one
    # month of rows, not a 5-month file (the 100 TB granularity choice
    # for month-scoped batches; the full-state twins keep files=16 so
    # both shapes stay measured). The batch derives from the table's
    # own immutable v0, manifest-pruned to the month (the staging
    # shape: |month| derivation cost, no per-merge source rescan), and
    # its touched set is the statically-known batch month.
    loc = _snap_create_named(spark, sf_dir, "cm", files=84)
    batch = _pm_batch_from_v0(spark, sf_dir, loc)
    touched = list(_PM_TOUCHED)
    v = merge_snapshot_commit(
        spark, loc, batch, ["o_orderkey"], _pm_month_of, touched
    )
    m = load_manifest(loc, v)
    schema = T.StructType.fromJson(m["schema"])
    added = commit_added_entries(loc, v)
    # new files carry seq=v > every delete seq, so no delete applies
    out = _read_with_deletes(spark, loc, schema, added, [])
    return out.filter(F.col(_PM_PART_COL).isin(touched)).select(
        *_SNAP_OUT_COLS
    )


_PTL_LO, _PTL_HI = 1000, 2000


@declare(
    "table_point_lookup_pruned",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderkey BETWEEN {_PTL_LO} AND {_PTL_HI}
    """,
)
def table_point_lookup_pruned(spark, sf_dir):
    """Secondary-key FILE PRUNING from per-column manifest stats
    (VERDICT r8 item 1 — the Iceberg per-column-stats half of the
    protocol): a key-range read by ``o_orderkey`` planned entirely
    from the manifest.

    The table declares ``sort_cols=["o_orderkey"]`` (Iceberg write
    order: files range-cluster on the KEY, so each covers a contiguous
    disjoint key slice) and ``stats_cols=["o_orderkey"]`` (every
    commit records the key's per-file footer min/max in the manifest).
    The read prunes DRIVER-SIDE: files whose key range misses
    [lo, hi] are never listed, opened, or read
    (operators/snapshot_table.snapshot_files_keyrange — same fenced
    metadata class as the month pruning of table_snapshot_prune_read,
    now for an arbitrary declared column); the residual BETWEEN
    reaches the parquet scan and row-group-prunes inside the 1-2
    surviving boundary files. This is the most common real read after
    partition pruning — point/range lookup by primary key on a
    100 TB table at manifest + 1-file cost — and the write contract
    (sort order + stats columns) persists across later commits, so
    the pruning stays sharp as the table mutates. inputFiles-pinned
    in tests/test_snapshot_table.py."""
    from database_importer_spark.operators.snapshot_table import (
        create_snapshot_table,
        latest_version,
        read_snapshot_keyrange,
    )
    from database_importer_spark.session import static_plan_session

    loc = _snap_loc(spark, sf_dir, "ptl")

    def src():
        o = t(spark, sf_dir, "orders")
        return o.withColumn(_PM_PART_COL, _pm_month_of(o))

    # files=64: pruning granularity. At sf10 a 16-file layout writes
    # ~55 MB single-row-group files — the BETWEEN residual then decodes
    # the whole surviving file because there is no row group to prune
    # INSIDE it; 64 files ≈ 4x less data behind the one file the
    # manifest keeps (at real scale: size files to the row-group
    # budget you want lookups to pay — here each small file IS one
    # row group, so file granularity is row-group granularity).
    # files=128 measured a WASH vs 64 in alternated cross-process A/B
    # at sf10 (0.087-0.122 both: the residual is the noop-sink +
    # scheduling constant, not scan bytes) — don't re-chase.
    create_snapshot_table(
        spark,
        loc,
        src,
        _PM_PART_COL,
        files=64,
        sort_cols=["o_orderkey"],
        stats_cols=["o_orderkey"],
    )
    # fixed-shape map-only read: the AQE wrapper is pure scheduling
    # cost here (the r5 static-session lever), and the built frame is
    # CACHED per (table, version, range) — a snapshot's plan is
    # immutable, so re-invocations skip the ~0.1 s of py4j plan
    # construction entirely (the r6 constant-removal class; same
    # pattern as the layout reader caches). The version in the key
    # invalidates if the table ever gains commits.
    v = latest_version(loc)
    cache = memo("ptl_frame", spark)
    ck = (loc, v, _PTL_LO, _PTL_HI)
    df = cache.get(ck)
    if df is None:
        df = read_snapshot_keyrange(
            static_plan_session(spark),
            loc,
            "o_orderkey",
            _PTL_LO,
            _PTL_HI,
            version=v,
        ).select(*_SNAP_OUT_COLS)
        cache[ck] = df
    return df


@declare("sink_jdbc_live_merge", oracle=_UPSERT_ORACLE)
def sink_jdbc_live_merge(spark, sf_dir):
    """The LIVE JDBC data plane (reference importer.py:253-309),
    executed for real: orders is bulk-loaded into an embedded Derby
    database over ``df.write.jdbc`` (per-partition executor
    connections, 5,000-row array-bound batches), the update∪insert
    source is staged the same way, the generated staged-merge SQL
    (sources/jdbc_sink.py, derby dialect) runs server-side over one
    driver connection, and the post-merge table is read back through
    ``spark.read.jdbc``. Must hash-match the pure-DataFrame
    ``upsert_merge_full`` oracle — the server-side and Spark-side
    merges are the same operator.

    Scale note: at 100 TB the JDBC hop is for dimension/serving
    tables (the reference's whole use case), not the fact path —
    staging parallelism = DataFrame partitions, merge cost is
    server-side. The in-test Derby DB is scratch (tempdir, shut down
    and removed after the read-back is checkpointed)."""
    import shutil
    import tempfile
    import uuid

    from database_importer_spark.sources import jdbc_sink as J

    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    ]
    tmp = tempfile.mkdtemp(prefix="dbis_derby_")
    db = f"{tmp}/db"
    url = J.derby_url(db, create=True)
    try:
        (
            t(spark, sf_dir, "orders").select(*cols)
            .write.mode("overwrite")
            .option("batchsize", J.BATCH_SIZE)
            .option(
                "createTableColumnTypes",
                "o_orderstatus VARCHAR(8), o_orderpriority VARCHAR(32)",
            )
            .jdbc(url, "ORDERS_TGT")
        )
        plan = J.build_merge_plan(
            "ORDERS_TGT",
            ["o_orderkey"],
            ["o_totalprice", "o_orderstatus"],
            dialect="derby",
            run_id=uuid.uuid4().hex[:8],
        )
        J.execute_statements(spark, url, [plan.drop_staging, plan.create_staging])
        src = _updates_df(spark, sf_dir).unionByName(_insert_source_df(spark, sf_dir))
        J.stage_dataframe(
            src.select("o_orderkey", "o_totalprice", "o_orderstatus"),
            url,
            plan.staging,
        )
        J.execute_statements(
            spark,
            url,
            [
                plan.index_staging,  # after the bulk stage: load stays
                plan.index_target,   # array-batched, probes become lookups
                plan.update,
                plan.insert,
                plan.drop_staging_after,
                plan.drop_index_target,  # leave no transient schema behind
            ],
        )
        # materialize before the scratch DB disappears
        return (
            spark.read.jdbc(url, "ORDERS_TGT")
            .select(*cols)
            .localCheckpoint(eager=True)
        )
    finally:
        J.derby_shutdown(spark, db)
        shutil.rmtree(tmp, ignore_errors=True)


# --- A.5 scalar/type layer as data queries -------------------------


@declare(
    "dtype_translate",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) AS as_text,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS as_number,
           CAST(o_orderkey AS DOUBLE) AS as_decimal,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS as_date
    FROM orders
    """,
)
def dtype_translate(spark, sf_dir):
    """The canonical-type layer (reference util.py:87-104) as CAST
    queries — text/number/decimal/datetime round-trips. FLOOR before
    the double→bigint cast: Spark truncates, DuckDB rounds; the
    engine's lint (cast_needs_warning) flags exactly this class."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("as_text"),
        F.floor("o_totalprice").cast("bigint").alias("as_number"),
        F.col("o_orderkey").cast("double").alias("as_decimal"),
        F.col("o_orderdate").cast("date").cast("string").alias("as_date"),
    )


@declare(
    "null_normalize",
    oracle="""
    WITH w AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'nan'::DOUBLE
                    ELSE o_totalprice END AS v
        FROM orders
    ), n AS (
        SELECT CASE WHEN isnan(v) THEN NULL ELSE v END AS v FROM w
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(v) AS BIGINT) AS n_not_null,
           CAST(SUM(CAST(v AS DECIMAL(25,4))) AS DOUBLE) AS sum_v
    FROM n
    """,
)
def null_normalize(spark, sf_dir):
    """NaN→NULL normalization (reference importer.py:257-259 collapses
    NaN/NA/NaT to SQL NULL). Spark keeps NaN ≠ NULL for doubles —
    ``nanvl`` is the ingest-time normalizer."""
    o = t(spark, sf_dir, "orders")
    w = o.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(float("nan")))
        .otherwise(F.col("o_totalprice"))
        .alias("v")
    )
    n = w.select(F.nanvl(F.col("v"), F.lit(None).cast("double")).alias("v"))
    return n.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_not_null"),
        F.sum(F.col("v").cast("decimal(25,4)")).cast("double").alias("sum_v"),
    )


_TYPE_CANON_SQL = """
    CASE lower(data_type)
        WHEN 'bigint' THEN 'bigint'
        WHEN 'integer' THEN 'int'
        WHEN 'varchar' THEN 'string'
        WHEN 'double' THEN 'double'
        WHEN 'timestamp' THEN 'timestamp'
        WHEN 'float[]' THEN 'array<float>'
        ELSE lower(data_type)
    END
"""


def _canon_spark_type(simple: str) -> str:
    # Spark spells parquet timestamps timestamp_ntz / ns-normalized
    # ones timestamp; both are 'timestamp' canonically
    return {"timestamp_ntz": "timestamp"}.get(simple, simple)


@declare(
    "src_catalog_columns",
    oracle=f"""
    SELECT table_name, CAST(ordinal_position AS INT) AS ordinal,
           column_name, {_TYPE_CANON_SQL} AS canonical_type
    FROM information_schema.columns
    WHERE table_name IN ('region','nation','customer','supplier','part',
                         'orders','lineitem','events','documents','embeddings')
    """,
)
def src_catalog_columns(spark, sf_dir):
    """Full-database column-catalog scan ordered by ordinal position —
    the reference's INFORMATION_SCHEMA.COLUMNS walk (util.py:31-76),
    built from df.schema metadata (pure plan-time; no data read).
    Type names canonicalized to one spelling on both engines."""
    from database_importer_spark.sources.loader import load_tables

    rows = []
    for name, df in load_tables(spark, sf_dir).items():
        for i, f in enumerate(df.schema.fields, start=1):
            rows.append(
                (name, i, f.name, _canon_spark_type(f.dataType.simpleString()))
            )
    return spark.createDataFrame(
        rows, "table_name string, ordinal int, column_name string, canonical_type string"
    )


@declare(
    "src_table_columns",
    oracle=f"""
    SELECT CAST(ordinal_position AS INT) AS ordinal, column_name,
           {_TYPE_CANON_SQL} AS canonical_type
    FROM information_schema.columns WHERE table_name = 'orders'
    """,
)
def src_table_columns(spark, sf_dir):
    """Ordered column list of one table (importer.py:30-39) —
    ``df.schema`` walk, the engine's DESCRIBE."""
    o = t(spark, sf_dir, "orders")
    rows = [
        (i, f.name, _canon_spark_type(f.dataType.simpleString()))
        for i, f in enumerate(o.schema.fields, start=1)
    ]
    return spark.createDataFrame(
        rows, "ordinal int, column_name string, canonical_type string"
    )


@declare(
    "candidate_key_composite",
    oracle="""
    SELECT (COUNT(*) = COUNT(DISTINCT l_orderkey || '|' || l_linenumber)
            AND COUNT(*) = COUNT(l_orderkey)
            AND COUNT(*) = COUNT(l_linenumber)) AS is_candidate_key
    FROM lineitem
    """,
)
def candidate_key_composite(spark, sf_dir):
    """Composite-key inference over lineitem via the engine's
    candidate_key_check (single-scan aggregate)."""
    li = t(spark, sf_dir, "lineitem")
    ok = candidate_key_check(li, ["l_orderkey", "l_linenumber"])
    return spark.createDataFrame([(ok,)], "is_candidate_key boolean")


@declare(
    "scd2_versioned_merge",
    cache_frame=True,
    oracle="""
    WITH dim AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               o_orderdate AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to,
               TRUE AS is_current
        FROM orders
    ), u AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 20 = 0 THEN 'V' ELSE o_orderstatus END
                   AS o_orderstatus,
               o_totalprice + CASE WHEN o_orderkey % 20 = 0 THEN 5.0 ELSE 0.0 END
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
    ), changed AS (
        SELECT d.o_orderkey FROM dim d JOIN u ON d.o_orderkey = u.o_orderkey
        WHERE d.o_orderstatus IS DISTINCT FROM u.o_orderstatus
           OR d.o_totalprice IS DISTINCT FROM u.o_totalprice
    )
    SELECT d.o_orderkey, d.o_orderstatus, d.o_totalprice, d.valid_from,
           CASE WHEN c.o_orderkey IS NOT NULL
                THEN TIMESTAMP '2002-01-01' ELSE d.valid_to END AS valid_to,
           CASE WHEN c.o_orderkey IS NOT NULL THEN FALSE ELSE TRUE END
               AS is_current
    FROM dim d LEFT JOIN changed c ON d.o_orderkey = c.o_orderkey
    UNION ALL
    SELECT u.o_orderkey, u.o_orderstatus, u.o_totalprice,
           TIMESTAMP '2002-01-01' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
    FROM u WHERE u.o_orderkey IN (SELECT o_orderkey FROM changed)
    """,
)
def scd2_versioned_merge(spark, sf_dir):
    """SCD2 versioned merge over an orders-derived dimension: every
    20th key changes (closed + new open version), other update rows
    are attribute-identical (carried forward untouched) — exercising
    the changed/unchanged/new-key branches with an exact oracle."""
    from database_importer_spark.operators.scd2 import scd2_merge

    o = t(spark, sf_dir, "orders")
    dim = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 20 == 0, F.lit("V"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 20 == 0, F.lit(5.0)).otherwise(F.lit(0.0))
        ).alias("o_totalprice"),
    )
    return scd2_merge(
        dim,
        updates,
        keys=["o_orderkey"],
        tracked=["o_orderstatus", "o_totalprice"],
        batch_time=F.lit("2002-01-01").cast("timestamp"),
    )


@declare(
    "src_jdbc_parallel_read",
    oracle="""
    SELECT 4 AS n_read_partitions,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
               AS price_sum
    FROM orders
    """,
)
def src_jdbc_parallel_read(spark, sf_dir):
    """The JDBC READ side, live and parallel: orders is bulk-loaded
    into embedded Derby, then read back with
    ``partitionColumn=o_orderkey`` over 4 bounded range predicates —
    Spark's parallel-ingest shape for relational sources (each
    executor opens its own connection and scans one key range; a
    single-connection read would serialize the whole table through
    one task — the JDBC twin of the single-partition-window
    scale-killer). Bounds come from the data, the partition count is
    audited into the result, and the checksum proves the 4 range
    scans partition the table exactly (no row lost or read twice)."""
    import shutil
    import tempfile

    from database_importer_spark.sources import jdbc_sink as J

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    tmp = tempfile.mkdtemp(prefix="dbis_derby_read_")
    db = f"{tmp}/db"
    url = J.derby_url(db, create=True)
    try:
        o.write.mode("overwrite").option("batchsize", J.BATCH_SIZE).jdbc(
            url, "ORDERS_SRC"
        )
        lo, hi = 0, 10_000_000_000
        back = spark.read.jdbc(
            url,
            "ORDERS_SRC",
            column="o_orderkey",
            lowerBound=lo,
            upperBound=hi,
            numPartitions=4,
        )
        n_parts = back.rdd.getNumPartitions()
        return (
            back.agg(
                F.lit(n_parts).cast("int").alias("n_read_partitions"),
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_orderkey").alias("key_checksum"),
                F.sum(F.col("o_totalprice").cast(DEC))
                .cast("double")
                .alias("price_sum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        J.derby_shutdown(spark, db)
        shutil.rmtree(tmp, ignore_errors=True)
