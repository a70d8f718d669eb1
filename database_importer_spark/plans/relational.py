"""Relational closure — SURVEY.md §2 B.1-B.4 (scans/sinks, filters,
joins, aggregations), each with a DuckDB oracle twin.

Scale notes live on each query: what the planner should pick
(broadcast vs SMJ, pushdown reaching the scan) and why that holds at
1000 executors. Double aggregates use exact DECIMAL accumulation cast
to DOUBLE (registry.DEC) so values are order-independent and hash
identically across engines.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from database_importer_spark.operators.asof import asof_join
from database_importer_spark.scratch import scratch_dir
from database_importer_spark.plans.registry import (
    DEC,
    dec4_sum,
    declare,
    frame_cache,
    t,
)
from database_importer_spark.session import static_plan_session

def orderkey_bucketed_facts(spark, sf_dir, buckets: int = 32):
    """The shared persistent orderkey-bucketed layout of the two fact
    tables (lineitem, orders): built at most once per (sf_dir, source
    fingerprint, column set) via ensure_bucketed_layout, carrying the
    UNION of the columns every orderkey-join query in the workload
    needs — `join_bucketed_colocated` reads 3 of them,
    `tpch_q3_bucketed` 4+3, `tpch_q5_bucketed` 4+3; parquet column
    pruning keeps each query's scan narrow. Returns
    (lineitem_table, orders_table)."""
    from database_importer_spark.operators.partitioning import (
        ensure_bucketed_layout,
    )

    lt = ensure_bucketed_layout(
        spark,
        sf_dir,
        "lineitem",
        lambda: t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate",
            "l_suppkey", "l_quantity",
        ),
        ["l_orderkey"],
        buckets=buckets,
        memo_token="orderkey_facts_lineitem",
    )
    ot = ensure_bucketed_layout(
        spark,
        sf_dir,
        "orders",
        # the FULL orders schema: upsert_merge_bucketed merges onto
        # this layout and returns every target column; the rollup/Q3/
        # Q5 consumers still read only their 2-3 columns via pruning
        lambda: t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ),
        ["o_orderkey"],
        buckets=buckets,
        memo_token="orderkey_facts_orders",
    )
    return lt, ot


# --- B.1 scans / sinks ---------------------------------------------


@declare(
    "scan_parquet_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity < 10
    """,
)
def scan_parquet_pushdown(spark, sf_dir):
    """Filter + projection reaching the parquet scan: .explain shows
    PushedFilters [GreaterThanOrEqual(l_shipdate), LessThan(l_quantity)]
    and a 4-column ReadSchema — at 100 TB this is the difference
    between reading 4 columns of a few row groups and the whole table."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_quantity") < 10)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@declare(
    "scan_csv_json",
    oracle="""
    SELECT * FROM region
    UNION ALL
    SELECT * FROM region
    """,
)
def scan_csv_json(spark, sf_dir):
    """CSV + JSON sources with explicit schemas (no inference job),
    round-tripped from the region table. Explicit schema matters at
    scale: inference is a full extra pass over the input."""
    r = t(spark, sf_dir, "region")
    base = scratch_dir("scan_csv_json")
    csv_p, json_p = base + ".csv", base + ".json"
    r.write.mode("overwrite").option("header", True).csv(csv_p)
    r.write.mode("overwrite").json(json_p)
    schema = "r_regionkey int, r_name string"
    csv_df = spark.read.schema(schema).option("header", True).csv(csv_p)
    json_df = spark.read.schema(schema).json(json_p)
    return csv_df.unionByName(json_df)


@declare(
    "sink_parquet_partitioned",
    oracle="""
    SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
    """,
)
def sink_parquet_partitioned(spark, sf_dir):
    """Partitioned parquet sink + partition-pruned re-read. Hive-style
    ``order_year=YYYY`` directories mean a reader filtering on year
    touches one directory — partition pruning is the 100 TB analogue
    of the reference's per-table staging."""
    o = t(spark, sf_dir, "orders")
    out = scratch_dir("sink_parquet")
    o.withColumn("order_year", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("order_year").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy(F.col("order_year").cast("int").alias("order_year")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# --- B.2 filters ----------------------------------------------------


@declare(
    "filter_comparison",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
    WHERE l_quantity > 30 AND l_discount BETWEEN 0.02 AND 0.06
    """,
)
def filter_comparison(spark, sf_dir):
    """Comparison + BETWEEN predicates — both push down to the
    parquet scan (row-group pruning on min/max stats), so at 100 TB
    only matching row groups are read at all."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30) & F.col("l_discount").between(0.02, 0.06)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@declare(
    "filter_in_like",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND (p_name LIKE '%a%' OR p_type LIKE 'small%')
    """,
)
def filter_in_like(spark, sf_dir):
    """IN-list + LIKE predicates: the IN converts to an OR chain that
    pushes to the scan; LIKE with a leading wildcard stays a residual
    filter (no stats can prune it) — both map-side, no shuffle."""
    p = t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & (F.col("p_name").like("%a%") | F.col("p_type").like("small%"))
    ).select("p_partkey", "p_name", "p_brand", "p_type")


@declare(
    "filter_null_semantics",
    oracle="""
    WITH w AS (
        SELECT o_orderkey,
               NULLIF(o_orderstatus, 'O') AS s1,
               NULLIF(o_orderpriority, '1-URGENT') AS s2
        FROM orders
    )
    SELECT o_orderkey,
           s1 IS NULL AS s1_is_null,
           s2 IS NOT NULL AS s2_not_null,
           (s1 IS NOT DISTINCT FROM s2) AS null_safe_eq
    FROM w
    """,
)
def filter_null_semantics(spark, sf_dir):
    """NULL three-valued logic + null-safe equality: Spark ``<=>``
    (eqNullSafe) ≡ ANSI IS NOT DISTINCT FROM."""
    o = t(spark, sf_dir, "orders")
    w = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("s1"),
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("s2"),
    )
    return w.select(
        "o_orderkey",
        F.col("s1").isNull().alias("s1_is_null"),
        F.col("s2").isNotNull().alias("s2_not_null"),
        F.col("s1").eqNullSafe(F.col("s2")).alias("null_safe_eq"),
    )


# --- B.3 joins ------------------------------------------------------


@declare(
    "join_broadcast_hash",
    cache_frame=True,
    oracle="""
    SELECT r.r_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(25,4))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_broadcast_hash(spark, sf_dir):
    """Star join with broadcast dims: nation/region are KB-sized at
    any SF — broadcasting them means the 100 TB fact side never
    shuffles; each task joins locally against the hashed dim.

    Fixed-shape plan: runs on the static-plan session — AQE has no
    join side to flip and no skew to split here, and its per-stage
    scheduling round trips dominated the wall clock (433→288 ms at
    sf0.1, BASELINE.md round 5; the saving is flat vs data size).
    Declared as ONE spark.sql call (r7): this row is pure per-query
    constant at every sf (dims don't scale), so the ~8 py4j
    DataFrame round trips were a measurable slice of it; BROADCAST
    hints keep the identical 2-BHJ plan (pin unchanged)."""
    from database_importer_spark.plans.registry import dec4_sum_sql, sql_view

    spark = static_plan_session(spark)
    c = sql_view(spark, sf_dir, "customer")
    n = sql_view(spark, sf_dir, "nation")
    r = sql_view(spark, sf_dir, "region")
    return spark.sql(f"""
        SELECT /*+ BROADCAST(n), BROADCAST(r) */ r_name,
               COUNT(*) AS n_customers,
               {dec4_sum_sql('c_acctbal')} AS sum_acctbal
        FROM {c} c
        JOIN {n} n ON c.c_nationkey = n.n_nationkey
        JOIN {r} r ON n.n_regionkey = r.r_regionkey
        GROUP BY r_name
    """)


@declare(
    "join_shuffle_sortmerge",
    cache_frame=True,
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,4)))
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_shuffle_sortmerge(spark, sf_dir):
    """Large⨝large on the natural key: planner picks shuffle
    hash/sort-merge; both sides hash-partition on l_orderkey —
    co-partitioning (bucketing) on orderkey would eliminate the
    shuffle entirely on a persistent 100 TB layout. AQE handles skew."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec4_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


@declare(
    "join_bucketed_colocated",
    cache_frame=True,
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,4)))
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_colocated(spark, sf_dir):
    """The 100 TB answer to the fact⨝fact shuffle tax: the same
    lineitem⨝orders rollup as join_shuffle_sortmerge, but over a
    PERSISTENT BUCKETED LAYOUT (both sides pre-hash-partitioned and
    sorted on orderkey, operators/partitioning.write_bucketed). The
    catalog's bucketing metadata satisfies the join's distribution
    requirement, so the plan has ZERO exchange under the sort-merge
    join — scan → zip co-bucketed files → merge; the only shuffle left
    is the 5-row-per-partition final aggregate
    (test_plans.test_bucketed_join_eliminates_fact_shuffle). The
    layout is built once per (sf_dir, source fingerprint) and reused —
    co-locate once, join many times, the persistent-layout analogue of
    the reference's server-side staging (importer.py:268-291). At
    100 TB the recurring join reads both tables in place with no
    network movement at all; layout cost amortizes over every
    downstream orderkey join.

    The layout is SHARED: one wide bucketed copy of each fact
    (operators/partitioning.ensure_bucketed_layout) serves this
    rollup and the full `tpch_q3_bucketed` twin — parquet column
    pruning means each query still reads only its columns, which is
    exactly how a production bucketed table amortizes: one layout,
    every orderkey join in the workload.

    Zero-exchange plan → static-plan session: with no shuffle at all
    there is literally nothing for AQE to adapt."""
    spark = static_plan_session(spark)
    lt, ot = orderkey_bucketed_facts(spark, sf_dir)
    jl, jo = spark.table(lt), spark.table(ot)
    # MERGE hint: at test sf the orders side is broadcast-sized and the
    # planner would happily broadcast it — but the query exists to pin
    # the fact⨝fact plan (both sides 100 TB-big), so force the SMJ the
    # bucketing makes shuffle-free.
    return (
        jl.hint("merge")
        .join(jo.hint("merge"), jl.l_orderkey == jo.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec4_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


@declare(
    "join_left_semi",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)
    """,
)
def join_left_semi(spark, sf_dir):
    """Semi join: existence check without multiplying rows — the
    build side only ships keys, so it broadcasts far later than a
    full join would."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return o.join(c, o.o_custkey == c.c_custkey, "left_semi").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@declare(
    "join_left_anti",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)
    """,
)
def join_left_anti(spark, sf_dir):
    """NOT-EXISTS as left_anti: orders with no rich customer. The
    filtered dim broadcasts, so the fact side streams map-side — the
    same no-fact-shuffle shape the merge insert-half uses."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return o.join(c, o.o_custkey == c.c_custkey, "left_anti").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@declare(
    "join_outer_full",
    oracle="""
    WITH co AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_customers
                FROM customer GROUP BY 1),
         su AS (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_suppliers
                FROM supplier GROUP BY 1)
    SELECT COALESCE(co.nk, su.nk) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           COALESCE(n_suppliers, 0) AS n_suppliers
    FROM co FULL OUTER JOIN su ON co.nk = su.nk
    """,
)
def join_outer_full(spark, sf_dir):
    """Full outer with coalesced keys — the classic reconciliation
    shape (who has customers but no suppliers and vice versa)."""
    co = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    su = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    j = co.alias("co").join(su.alias("su"), F.col("co.nk") == F.col("su.nk"), "full_outer")
    return j.select(
        F.coalesce(F.col("co.nk"), F.col("su.nk")).alias("nationkey"),
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )


@declare(
    "join_theta_range",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_shipped_in_window
    FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate BETWEEN o.o_orderdate
                          AND o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderpriority
    """,
)
def join_theta_range(spark, sf_dir):
    """Mixed equi + range predicate: the equi part drives the hash
    join (no cartesian blow-up) and the range residual filters inside
    the join — exactly how a 100 TB range join must be shaped (a pure
    theta join would BNLJ and never finish)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= F.expr("o_orderdate + INTERVAL 90 DAYS"))
    )
    return (
        li.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_shipped_in_window"))
    )


@declare(
    "join_asof_nearest",
    cache_frame=True,
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS purchase_ts, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def join_asof_nearest(spark, sf_dir):
    """As-of join: latest purchase at-or-before each click, per user —
    the engine's window-carry asof (no range join; see
    operators/asof.py). Oracle: DuckDB ASOF LEFT JOIN.

    Both sides are filters of the SAME event stream, so the tagged
    combined frame is built with when() projections over ONE scan
    (operators/asof.asof_fill) instead of asof_join's two-scan union —
    identical (ts, side, tiebreak) ordering semantics, half the I/O.

    The tagged frame rides a WINDOW-ALIGNED bucketed layout (the r5
    window-alignment law applied to asof, VERDICT r5 #1b): bucketed on
    the as-of partition key (user_id) and in-bucket-sorted by
    (user_id, __asof_ts, __asof_side, __asof_tie) — exactly the
    carry-forward window's required distribution AND ordering, so
    asof_fill runs straight off the scan with ZERO exchange and ZERO
    sort (plan-pinned in tests/test_plans.py; 620→324 ms at sf10).
    This is the realistic 100 TB shape: a time-series store lays
    events out sorted by (entity, ts) at ingest, and every as-of /
    carry-forward query over it is then a map-only pass. The general
    two-frame asof_join API (operators/asof.py) stays layout-free.
    Fixed shape → static-plan session."""
    from database_importer_spark.operators.asof import asof_fill
    from database_importer_spark.operators.partitioning import (
        ensure_bucketed_layout,
    )

    spark = static_plan_session(spark)

    def both():
        ev = t(spark, sf_dir, "events").filter(
            F.col("event_type").isin("click", "purchase")
        )
        is_p = F.col("event_type") == "purchase"
        return ev.select(
            F.when(~is_p, F.col("event_id")).alias("event_id"),
            "user_id",
            F.when(~is_p, F.col("ts")).alias("ts"),
            F.col("ts").alias("__asof_ts"),
            F.when(is_p, F.lit(0)).otherwise(F.lit(1)).alias("__asof_side"),
            F.when(is_p, F.col("event_id")).alias("__asof_tie"),
            F.when(is_p, F.col("ts")).alias("purchase_ts"),
            F.when(is_p, F.col("value")).alias("purchase_value"),
        )

    table = ensure_bucketed_layout(
        spark, sf_dir, "events", both, ["user_id"],
        sort_cols=["user_id", "__asof_ts", "__asof_side", "__asof_tie"],
        memo_token="asof_tagged_events",
    )
    out = asof_fill(
        spark.table(table), on=["user_id"], payload=["purchase_ts", "purchase_value"]
    )
    return out.select("event_id", "user_id", "ts", "purchase_ts", "purchase_value")


@declare(
    "join_cross_limited",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def join_cross_limited(spark, sf_dir):
    """Cross join constrained to tiny inputs (dims × distinct states)
    — the only shape where cartesian products are acceptable."""
    r = t(spark, sf_dir, "region")
    s = t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s).select("r_name", "o_orderstatus")


# --- B.4 aggregations ----------------------------------------------


@declare(
    "agg_hash_groupby",
    cache_frame=True,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4)))
                AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash_groupby(spark, sf_dir):
    """TPC-H Q1 shape: partial (map-side) + final hash aggregation —
    the shuffle carries one row per (group × partition), not the
    data. DECIMAL accumulation makes the sums order-independent, so
    results are bit-identical at any parallelism (the property that
    makes this oracle-checkable AND cluster-deterministic).
    Scan → partial agg → 6-row exchange → final agg is a fixed shape
    with nothing for AQE to re-plan → static-plan session (measured
    0.81→0.68 s at sf10). Declared as ONE spark.sql call (r6): the
    dec4 DataFrame chain costs ~100-200 ms of per-invocation py4j
    round trips; same physical plan, bit-equal output."""
    from database_importer_spark.plans.registry import dec4_sum_sql, sql_view

    spark = static_plan_session(spark)
    v = sql_view(spark, sf_dir, "lineitem")
    dq = dec4_sum_sql("l_quantity")
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
               {dq} AS sum_qty,
               {dec4_sum_sql('l_extendedprice')} AS sum_base_price,
               {dec4_sum_sql('l_extendedprice * (1 - l_discount)')}
                   AS sum_disc_price,
               {dq} / COUNT(*) AS avg_qty,
               COUNT(*) AS count_order
        FROM {v}
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
    """)


@declare(
    "agg_hash_groupby_double",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(FLOOR(l_quantity * 100 + 0.5)) / 100 AS sum_qty,
           SUM(FLOOR(l_extendedprice * 100 + 0.5)) / 100 AS sum_base_price,
           SUM(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)) / 100
               AS sum_disc_price,
           SUM(FLOOR(l_quantity * 100 + 0.5)) / 100 / COUNT(*) AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash_groupby_double(spark, sf_dir):
    """Q1 shape on the NATIVE-DOUBLE fast path — the plan you run at
    100 TB when you don't need decimal semantics. agg_hash_groupby pays
    a deliberate DECIMAL(25,4) accumulation tax to be bit-reproducible
    (measured 5.1 s vs 0.88 s plain-double at sf10). This variant gets
    exactness AND native speed from one invariant: each term is
    quantized to an INTEGER-VALUED cent count, and integer sums are
    EXACT — hence order-independent, partitioning-independent, and
    bit-identical across engines — as long as the running sum stays
    below 2^53 (9e15 cents ≈ $90T per group; the 100 TB guard, stated,
    not assumed). The quantizer is ``floor(x*100 + 0.5)`` — pure IEEE
    double ops both engines evaluate identically (half-up for the
    non-negative money/quantity domain), NOT round(): Spark's ROUND on
    doubles detours through BigDecimal/Double.toString per value
    (measured 2.25 s vs 0.88 s at sf10 — 2.5× the whole query). Spark
    side accumulates LONG (floor yields long), DuckDB sums the
    integer-valued doubles; both end at the identical IEEE quotient
    after /100. Measured sf10: 0.88 s ≈ the plain-double floor, vs
    5.76 s decimal — the oracle tax fully refunded. Fixed shape →
    static-plan session. Declared as ONE spark.sql call (r6): the
    DataFrame chain costs ~100-300 ms of per-invocation py4j round
    trips; same physical plan, bit-equal output. Frame-cached per
    corpus fingerprint (r11 borderline-band constant shave)."""
    from database_importer_spark.plans.registry import frame_cache, sql_view

    def build():
        s = static_plan_session(spark)
        v = sql_view(s, sf_dir, "lineitem")

        def csum(expr):
            return f"SUM(FLOOR(({expr}) * 100 + 0.5)) / 100"

        return s.sql(f"""
            SELECT l_returnflag, l_linestatus,
                   {csum('l_quantity')} AS sum_qty,
                   {csum('l_extendedprice')} AS sum_base_price,
                   {csum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
                   {csum('l_quantity')} / COUNT(*) AS avg_qty,
                   COUNT(*) AS count_order
            FROM {v}
            WHERE l_shipdate <= TIMESTAMP '2001-09-02'
            GROUP BY l_returnflag, l_linestatus
        """)

    return frame_cache(spark, sf_dir, "agg_hash_groupby_double", build)


@declare(
    "agg_count_distinct",
    cache_frame=True,
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark, sf_dir):
    """Exact distinct WITHOUT Catalyst's Expand rewrite. Naively,
    ``count_distinct + count(*)`` plans an Expand node that duplicates
    every input row (one copy per aggregate class) before the shuffle —
    measured 9.1× the DuckDB proxy flat across sf (r3 residual #1).
    The manual two-level shape — pre-aggregate on (group, key) with
    map-side combine, then count rows per group — is a plain
    partial+final hash-agg pipeline: the first exchange carries one row
    per DISTINCT (priority, custkey) pair, the second one row per
    (partition, priority). No row duplication anywhere; at 100 TB the
    shuffle scales with distinct pairs, not corpus rows. Plan test:
    test_plans.test_count_distinct_has_no_expand. At scale prefer
    approx_count_distinct unless exactness is required (see
    agg_approx_distinct). Single spark.sql declaration (r6
    py4j-constant shave); same two-level physical plan."""
    from database_importer_spark.plans.registry import sql_view

    spark = static_plan_session(spark)
    v = sql_view(spark, sf_dir, "orders")
    return spark.sql(f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_customers,
               CAST(SUM(__orders_per_pair) AS BIGINT) AS n_orders
        FROM (
            SELECT o_orderpriority, o_custkey, COUNT(*) AS __orders_per_pair
            FROM {v}
            GROUP BY o_orderpriority, o_custkey
        )
        GROUP BY o_orderpriority
    """)


@declare(
    "agg_count_distinct_bucketed",
    cache_frame=True,
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_count_distinct_bucketed(spark, sf_dir):
    """Exact distinct over a CUSTKEY-BUCKETED orders layout — the
    layout twin of `agg_count_distinct` (same oracle), completing the
    aggregation law on the distinct shape (VERDICT r7 item 2).

    The two-level rewrite's first exchange carries one row per
    distinct (priority, custkey) pair — already minimal, but still a
    full shuffle of the pair stream. When the table is bucketed on
    the DISTINCT key, hashpartitioning(custkey) satisfies the inner
    GROUP BY (priority, custkey)'s clustering requirement outright
    (equal custkeys are co-located, hence equal pairs are), so the
    pair collapse runs IN PLACE off the scan with no exchange at all;
    the only exchange in the plan moves the ~|distinct pairs| rows of
    the second level onto 5 priority groups. At 100 TB the distinct
    work rides the layout the way q18's groupBy(orderkey) does —
    shuffle bytes ∝ distinct pairs of the PRUNED columns, with the
    corpus never moving. Fixed shape → static-plan session;
    plan-pinned single-exchange in tests/test_plans.py."""
    from database_importer_spark.operators.partitioning import (
        ensure_bucketed_layout,
    )

    spark = static_plan_session(spark)

    def src():
        return t(spark, sf_dir, "orders").select(
            "o_orderpriority", "o_custkey"
        )

    table = ensure_bucketed_layout(
        spark,
        sf_dir,
        "orders",
        src,
        keys=["o_custkey"],
        memo_token="cd_custkey_orders",
    )
    return spark.sql(f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_customers,
               CAST(SUM(__orders_per_pair) AS BIGINT) AS n_orders
        FROM (
            SELECT o_orderpriority, o_custkey, COUNT(*) AS __orders_per_pair
            FROM {table}
            GROUP BY o_orderpriority, o_custkey
        )
        GROUP BY o_orderpriority
    """)


@declare(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """CUBE: all 4 grouping sets in one pass (Expand + aggregate) —
    one scan instead of four."""
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dec4_sum(F.col("l_quantity")).alias("sum_qty"),
    )


@declare(
    "agg_approx_distinct",
    oracle="""
    WITH e AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_nd
               FROM orders)
    SELECT exact_nd, TRUE AS approx_within_15pct FROM e
    """,
)
def agg_approx_distinct(spark, sf_dir):
    """HLL++ sketch vs exact: the query asserts the estimate lands
    within 15% of truth (algorithm-specific values can't hash-match
    across engines; the tolerance verdict can). At 100 TB the sketch
    is mergeable — no distinct-shuffle of the raw keys. The verdict is
    computed IN the plan (no driver-side collect): one lazy job."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.count_distinct("o_custkey").alias("exact_nd"),
        F.approx_count_distinct("o_custkey").alias("approx_nd"),
    ).select(
        "exact_nd",
        (
            F.abs(F.col("approx_nd") - F.col("exact_nd"))
            <= 0.15 * F.col("exact_nd")
        ).alias("approx_within_15pct"),
    )


@declare(
    "agg_percentile_exact",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
           ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_exact(spark, sf_dir):
    """Exact interpolated percentile (full sort per group). ROUND(6)
    guards the one non-order-independent step (linear interpolation
    may differ in the last ulp between engines)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
    )


@declare(
    "agg_collect_sorted",
    oracle="""
    SELECT r.r_name,
           array_to_string(list_sort(list(n.n_name)), '|') AS nations,
           CAST(length(list(n.n_name)) AS INT) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_collect_sorted(spark, sf_dir):
    """Array agg canonicalized with sort_array — collect order is
    partition-dependent, sorted output is deterministic. Serialized
    to a joined string for hashing: pandas represents Spark arrays as
    numpy ndarrays but DuckDB lists as Python lists — value-equal,
    repr-different."""
    n = t(spark, sf_dir, "nation")
    r = F.broadcast(t(spark, sf_dir, "region"))
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("nations"),
            F.size(F.collect_list("n_name")).alias("n_nations"),
        )
    )


@declare(
    "join_skew_salted",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT event_type,
               CAST(length(event_type) AS BIGINT) AS weight
        FROM events
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value * d.weight AS DECIMAL(25,4)))
                AS DOUBLE) AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def join_skew_salted(spark, sf_dir):
    """Skew-resistant equi join via operators/partitioning.salted_join:
    the fact side gets a deterministic per-row salt (xxhash64 of its
    columns — content-stable, no rand()), the dim side replicates once
    per salt value, and the join key becomes (event_type, salt). A key
    holding p%% of the fact table spreads over 16 tasks instead of
    hot-spotting one; result is row-identical to the unsalted join
    (the oracle IS the unsalted join). The merge hint forces the
    shuffle path — with a broadcast join salting would be moot, which
    is exactly when you'd not use this operator. Scale: dim grows
    ×16 (replication-sized dims only); fact shuffles once on the
    salted key. AQE skew-split handles moderate skew at runtime;
    this is the static fallback for one-key-dominates cases."""
    from database_importer_spark.operators.partitioning import salted_join

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.length("event_type").cast("bigint").alias("weight"),
        )
        .hint("merge")
    )
    joined = salted_join(ev, dim, on=["event_type"], salt_buckets=16)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dec4_sum(F.col("value") * F.col("weight")).alias("weighted_value"),
    )


@declare(
    "join_skew_aqe",
    oracle="""
    WITH f AS (
        SELECT CASE WHEN l_orderkey % 5 <> 0 THEN 0
                    ELSE l_orderkey END AS hot,
               l_extendedprice, l_returnflag
        FROM lineitem
    ), d AS (
        SELECT o_orderkey AS hot,
               CAST(o_orderkey % 7 + 1 AS DOUBLE) AS w
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL SELECT 0, 1.0
    )
    SELECT f.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(f.l_extendedprice * d.w AS DECIMAL(25,4)))
                AS DOUBLE) AS weighted_sum
    FROM f JOIN d ON f.hot = d.hot
    GROUP BY f.l_returnflag
    """,
)
def join_skew_aqe(spark, sf_dir):
    """AQE SKEW-SPLIT at data volume (carried since r3; the runtime
    half of the skew story next to join_skew_salted's static salt):
    80%% of lineitem maps to ONE hot join key (orderkeys not divisible
    by 5 collapse to 0), joined to a non-broadcastable derived dim
    (one row per surviving key + the hot key). Under a plain hash
    shuffle the hot key's partition IS the job's wall clock — one
    task sorts/joins 80%% of the fact. The dedicated
    session.skew_plan_session disables broadcast (plan-time and AQE
    runtime — a broadcast join would dissolve the demo's shuffle) and
    sizes the skew thresholds so OptimizeSkewedJoin actually FIRES
    from sf0.1 up: the hot partition splits into ~8 MB task slices,
    each joined against a replicated copy of the dim's matching rows
    — plan-pinned (skew=true in the final adaptive plan,
    tests/test_plans.py) at sf0.1, the same mechanism that splits the
    ~1 GB hot partition into ~128 tasks at sf10. Result is
    skew-invariant (split+replicate preserves join semantics), so the
    oracle is the plain join; sums accumulate DECIMAL(25,4) (term
    magnitudes overflow the dec4 long path at sf10).

    Optimization round r11 (guide §3.1 — pick the strategy
    deliberately): the join is now SHUFFLED-HASH (dim side hinted as
    the build — each task builds a hash table over its ~|dim|/p
    slice, tiny here) instead of sort-merge: same shuffle, same skew
    split (OptimizeSkewedJoin handles SHJ exactly like SMJ —
    ShuffledHashJoin(skew=true) plan-pinned), but neither side pays
    the sort. A/B at sf10 (OPTIMIZATION_r11.md §2, alternated
    min-of-6): SMJ 6.01 s vs SHJ 5.24 s, rows identical. The r4
    shuffled-hash negative (hash-relation OOM at 60M rows) does not
    apply: the build side here is the dim slice, never the fact. The
    built frame is memoized per corpus fingerprint AFTER the
    conf-sizing lines (which re-run every invocation — the advisory
    must track the live corpus), shaving the ~160 ms plan-build
    constant."""
    import os as _os

    from database_importer_spark.session import (
        parse_byte_conf,
        skew_plan_session,
    )

    spark = skew_plan_session(spark)
    # size the split target to the DATA, exactly like a real job: the
    # advisory is the per-task slice the hot partition splits into —
    # a fixed small value shatters a big corpus's hot partition into
    # hundreds of micro-tasks (measured: 512k advisory at sf10 ⇒
    # ~800 slices, scheduling-bound), a fixed big one never fires at
    # small sf. lineitem_bytes/64 keeps ~a few dozen slices for the
    # hot 80% at any scale, floored at 512k so sf0.1 still qualifies.
    li_path = _os.path.join(sf_dir, "lineitem.parquet")
    li_bytes = (
        sum(
            _os.path.getsize(_os.path.join(li_path, n))
            for n in _os.listdir(li_path)
        )
        if _os.path.isdir(li_path)
        else _os.path.getsize(li_path)
    )
    target = max(512 * 1024, li_bytes // 64)
    for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ):
        spark.conf.set(k, str(target))
    def build():
        li = t(spark, sf_dir, "lineitem")
        fact = li.select(
            F.when(F.col("l_orderkey") % 5 != 0, F.lit(0).cast("bigint"))
            .otherwise(F.col("l_orderkey"))
            .alias("hot"),
            "l_extendedprice",
            "l_returnflag",
        )
        # AQE splits a skewed reduce partition at MAP-OUTPUT boundaries —
        # a one-mapper shuffle (sf0.1's single-row-group file scans as ONE
        # task) is structurally unsplittable however skewed. A real 100 TB
        # scan has thousands of mappers; when the corpus is too small to
        # provide them, a round-robin fan-out models that mapper
        # population. When the scan already splits into many tasks (sf1+:
        # multi-row-group files at 32 MB splits), the extra fact-sized
        # shuffle would be pure waste — skip it.
        # parse_byte_conf: a VANILLA session (the driver's) returns
        # this conf byte-suffixed ('134217728b'), the repo session
        # '32m' — handle every Spark byte-string spelling (r11 gate).
        max_pb = parse_byte_conf(
            spark.conf.get("spark.sql.files.maxPartitionBytes")
        )
        fact_out = fact
        if li_bytes // max_pb < 8:
            fact_out = fact.repartition(spark.sparkContext.defaultParallelism)
        o = t(spark, sf_dir, "orders")
        dim = (
            o.filter(F.col("o_orderkey") % 5 == 0)
            .select(
                F.col("o_orderkey").alias("hot"),
                (F.col("o_orderkey") % 7 + 1).cast("double").alias("w"),
            )
            .unionAll(
                spark.range(1).select(
                    F.lit(0).cast("bigint").alias("hot"),
                    F.lit(1.0).alias("w"),
                )
            )
            # guide §3.1: shuffled-hash, build = the per-partition dim
            # slice — same shuffle and skew split as SMJ, no sorts
            # (A/B: 6.01 → 5.24 s at sf10, OPTIMIZATION_r11.md §2)
            .hint("shuffle_hash")
        )
        return (
            fact_out.join(dim, "hot")
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(
                    (F.col("l_extendedprice") * F.col("w")).cast(DEC)
                )
                .cast("double")
                .alias("weighted_sum"),
            )
        )

    return frame_cache(spark, sf_dir, "join_skew_aqe", build)


@declare(
    "scan_orc_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_checksum
    FROM nation GROUP BY n_regionkey
    """,
)
def scan_orc_roundtrip(spark, sf_dir):
    """ORC as a second columnar source/sink (Spark-native writer +
    vectorized reader, same pushdown/pruning machinery as parquet):
    write the nation table to ORC, read it back, aggregate. The
    oracle runs on the original parquet — value equality proves the
    round trip is lossless. At scale ORC matters for interop with
    Hive-lineage warehouses; the plan is identical in shape to the
    parquet scan (BatchScan orc ... ReadSchema pruned)."""
    n = t(spark, sf_dir, "nation")
    path = scratch_dir("scan_orc")
    n.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_nationkey").alias("key_checksum"),
    )


@declare(
    "scan_schema_evolution",
    oracle="""
    WITH batch1 AS (
        SELECT n_nationkey, n_name, NULL AS n_comment_len
        FROM nation WHERE n_regionkey < 2
    ),
    batch2 AS (
        SELECT n_nationkey, n_name,
               CAST(length(n_name) AS BIGINT) AS n_comment_len
        FROM nation WHERE n_regionkey >= 2
    ),
    unioned AS (SELECT * FROM batch1 UNION ALL SELECT * FROM batch2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(n_comment_len) AS BIGINT) AS n_with_new_col,
           CAST(SUM(n_comment_len) AS BIGINT) AS new_col_checksum
    FROM unioned
    """,
)
def scan_schema_evolution(spark, sf_dir):
    """Schema drift across ingest batches — the day-2 reality of any
    long-lived ingestion pipeline: batch 1 lands without a column,
    batch 2 adds it. `mergeSchema` unifies the footers at read time;
    old rows surface NULL for the new column (exactly the reference's
    pandas `convert_dtypes` nullability semantics, window.py:296,
    without a rewrite of old files). At 100 TB this is metadata-only:
    no data file is touched, the union happens in the scan."""
    n = t(spark, sf_dir, "nation")
    base = scratch_dir("schema_evo")
    n.filter(F.col("n_regionkey") < 2).select("n_nationkey", "n_name").write.mode(
        "overwrite"
    ).parquet(base + "/b=1")
    n.filter(F.col("n_regionkey") >= 2).select(
        "n_nationkey",
        "n_name",
        F.length("n_name").cast("bigint").alias("n_comment_len"),
    ).write.mode("overwrite").parquet(base + "/b=2")
    merged = spark.read.option("mergeSchema", True).parquet(
        base + "/b=1", base + "/b=2"
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_comment_len").alias("n_with_new_col"),
        F.sum("n_comment_len").alias("new_col_checksum"),
    )


@declare(
    "scan_csv_malformed",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (WHERE n_nationkey % 7 != 3) AS BIGINT)
               AS n_good,
           CAST(COUNT(*) FILTER (WHERE n_nationkey % 7 = 3) AS BIGINT)
               AS n_corrupt,
           CAST(SUM(n_nationkey) FILTER (WHERE n_nationkey % 7 != 3)
               AS BIGINT) AS good_key_checksum
    FROM nation
    """,
)
def scan_csv_malformed(spark, sf_dir):
    """Bad-record handling on CSV ingest — the day-1 reality of file
    feeds: some rows don't parse. A CSV is staged with every 7th-ish
    row deterministically corrupted (non-numeric key), read back
    PERMISSIVE with a ``columnNameOfCorruptRecord`` side channel, and
    the query audits good vs captured-corrupt rows. PERMISSIVE is the
    100 TB default — one malformed row must quarantine, not kill the
    job (DROPMALFORMED/FAILFAST are per-feed policy). Map-only plus a
    1-row aggregate; corrupt capture adds no shuffle."""
    n = t(spark, sf_dir, "nation")
    staged = n.select(
        F.when(
            F.col("n_nationkey") % 7 == 3,
            F.concat(F.lit("BAD_"), F.col("n_name")),
        )
        .otherwise(F.col("n_nationkey").cast("string"))
        .alias("k"),
        "n_name",
    )
    base = scratch_dir("scan_csv_malformed")
    staged.write.mode("overwrite").option("header", True).csv(base)
    back = spark.read.schema(
        "n_nationkey int, n_name string, _corrupt string"
    ).options(
        header=True,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    ).csv(base)
    return back.agg(
        F.count("n_nationkey").alias("n_good"),
        F.count("_corrupt").alias("n_corrupt"),
        F.sum("n_nationkey").alias("good_key_checksum"),
    )


@declare(
    "sink_dynamic_partition_overwrite",
    oracle="""
    WITH v1 AS (
        SELECT CAST(YEAR(o_orderdate) AS INT) AS yr, o_orderkey, o_totalprice
        FROM orders
    ),
    v2 AS (  -- rewrite ONLY year 1997 with doubled prices
        SELECT yr, o_orderkey, o_totalprice * 2 AS o_totalprice
        FROM v1 WHERE yr = 1997
    ),
    final AS (
        SELECT * FROM v1 WHERE yr != 1997
        UNION ALL
        SELECT * FROM v2
    )
    SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
               AS price_sum
    FROM final GROUP BY yr
    """,
)
def sink_dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite — the idempotent-backfill
    primitive: rewriting one partition's data must replace ONLY that
    partition, leaving every other partition untouched (static
    overwrite mode would drop them all). partitionOverwriteMode=
    dynamic scopes the commit to partitions present in the incoming
    frame — at 100 TB this is the difference between rewriting one
    day and clobbering the table. The audit re-aggregates the final
    directory state."""
    o = t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("yr"),
        "o_orderkey",
        "o_totalprice",
    )
    base = scratch_dir("dyn_overwrite")
    o.write.mode("overwrite").partitionBy("yr").parquet(base)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            o.filter(F.col("yr") == 1997)
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
            .write.mode("overwrite")
            .partitionBy("yr")
            .parquet(base)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return (
        spark.read.parquet(base)
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dec4_sum(F.col("o_totalprice")).alias("price_sum"),
        )
    )


@declare(
    "maintenance_compact_small_files",
    oracle="""
    SELECT 64 AS n_files_before, 4 AS n_files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum
    FROM lineitem
    """,
)
def maintenance_compact_small_files(spark, sf_dir):
    """Small-file compaction — the #1 operational chore of any
    long-running ingest: streaming/batch appends fragment a table
    into thousands of KB-sized files and scan throughput collapses
    (one task + one open per file). A 64-file fragmented copy is
    compacted with a plain repartition rewrite to 4 right-sized
    files; the audit proves no row was lost or duplicated. At 100 TB
    you'd compact per-partition with AQE coalescing (or a table
    format's OPTIMIZE) — the rewrite-and-audit shape is the same."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    base = scratch_dir("compact")
    frag, compact = base + "/frag", base + "/compact"
    li.repartition(64).write.mode("overwrite").parquet(frag)
    n_before = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    n_after = len([f for f in os.listdir(compact) if f.endswith(".parquet")])
    return spark.read.parquet(compact).agg(
        F.lit(n_before).cast("int").alias("n_files_before"),
        F.lit(n_after).cast("int").alias("n_files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").alias("key_checksum"),
    )


@declare(
    "sink_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_written,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
               AS price_sum,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
               AS n_high_discount
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def sink_observed_metrics(spark, sf_dir):
    """Pipeline observability: ``df.observe`` attaches named metric
    expressions that are computed DURING the sink job itself — row
    counts, sums, data-quality counters come back with the write, no
    second audit scan of the data (at 100 TB an after-the-fact audit
    query doubles the pipeline's read volume). The observed metrics
    of a filtered lineitem write are returned as the result and must
    equal the oracle's recomputation."""
    from pyspark.sql import Observation

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    obs = Observation("write_audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_written"),
        dec4_sum(F.col("l_extendedprice")).alias("price_sum"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_high_discount"),
    )
    base = scratch_dir("observed_sink")
    observed.write.mode("overwrite").parquet(base)  # metrics ride this job
    m = obs.get
    return spark.createDataFrame(
        [(m["n_written"], m["price_sum"], m["n_high_discount"])],
        "n_written bigint, price_sum double, n_high_discount bigint",
    )
