"""Window functions, sorts/limits, set operations, scalar functions —
SURVEY.md §2 B.5-B.8, each with a DuckDB oracle twin.

Every window/limit ORDER BY carries a full tiebreak key (§7.4) so
results are total-ordered and deterministic at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_importer_spark.session import static_plan_session
from database_importer_spark.plans.registry import DEC, dec4_sum, declare, t

# --- B.5 window functions ------------------------------------------


@declare(
    "win_rank_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def win_rank_topk_per_group(spark, sf_dir):
    """Top-k per group via row_number + filter: one shuffle on the
    partition key, per-group sort only (never a global sort). At
    100 TB this is the canonical 'top 3 orders per customer' plan.
    One exchange + per-group sort = fixed shape → static-plan
    session (BASELINE.md round 5). Declared as ONE spark.sql call
    (r6, py4j-constant shave); the rn <= 3 filter still plans as
    WindowGroupLimit pushed below the exchange. Frame-cached per
    corpus fingerprint (r11 borderline-band constant shave)."""
    from database_importer_spark.plans.registry import frame_cache, sql_view

    def build():
        s = static_plan_session(spark)
        v = sql_view(s, sf_dir, "orders")
        return s.sql(f"""
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
                FROM {v}
            ) WHERE rn <= 3
        """)

    return frame_cache(spark, sf_dir, "win_rank_topk_per_group", build)


@declare(
    "win_rank_topk_bucketed",
    cache_frame=True,
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def win_rank_topk_bucketed(spark, sf_dir):
    """Top-3 per customer over a RANK-ALIGNED bucketed layout — the
    second window-alignment demo (VERDICT r4 #7). bucketBy's sortBy
    cannot express DESC, so the layout materializes the sort key:
    ``__neg_price = -o_totalprice`` stored ascending is
    order-equivalent to ``o_totalprice DESC`` (ties broken by
    o_orderkey either way), and the window orders by the stored
    column. With bucket key = PARTITION BY and in-bucket order
    (o_custkey, __neg_price, o_orderkey), WindowExec's required
    distribution AND ordering come straight off the scan: ZERO
    exchange, ZERO sort (plan-pinned) — the materialized-sort-key
    pattern any columnar warehouse uses for a recurring
    top-k-per-entity query. Same oracle as the unbucketed twin."""
    from database_importer_spark.operators.partitioning import (
        ensure_bucketed_layout,
    )

    spark = static_plan_session(spark)
    table = ensure_bucketed_layout(
        spark, sf_dir, "orders",
        lambda: t(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            (-F.col("o_totalprice")).alias("__neg_price"),
        ),
        ["o_custkey"],
        sort_cols=["o_custkey", "__neg_price", "o_orderkey"],
        memo_token="rank_topk_orders",
    )
    ob = spark.table(table)
    w = Window.partitionBy("o_custkey").orderBy("__neg_price", "o_orderkey")
    return (
        ob.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@declare(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts, value,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark, sf_dir):
    """lag/lead over (user, time): one hash shuffle on user_id, sort
    within partition; event_id tiebreak makes the frame total-ordered
    and the result deterministic at any parallelism."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@declare(
    "win_running_sum_rows",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_spend
    FROM orders
    """,
)
def win_running_sum_rows(spark, sf_dir):
    """Running total per customer: quantized-LONG accumulation makes
    every prefix sum order-independent-exact, so the whole column
    hash-matches. One exchange + per-group sort = fixed shape →
    static-plan session (283→208 ms at sf0.1, BASELINE.md round 5).
    Output conversion is the plain double division (dec4_sum
    div="double", r7): bit-equal to the DECIMAL(25,4)→double cast
    while the per-CUSTOMER prefix stays < $9.0e11 — a per-entity
    bound that holds at 100 TB — and it runs per output row, so the
    decimal chain was 26% of the query (1.51→1.12 s at sf10,
    BASELINE.md "Round-7 levers"). Residual vs DuckDB is the exchange+sort
    floor (1.02 s of 1.12); the bucketed twin removes exactly that.
    Frame-cached per corpus fingerprint (r11: the ~130 ms py4j plan
    construction was 10%+ of the sf10 wall on a borderline-2x row;
    the plan over immutable parquet is itself immutable)."""
    from database_importer_spark.plans.registry import frame_cache

    def build():
        s = static_plan_session(spark)
        o = t(s, sf_dir, "orders")
        w = (
            Window.partitionBy("o_custkey")
            .orderBy("o_orderdate", "o_orderkey")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return o.select(
            "o_custkey",
            "o_orderkey",
            dec4_sum(
                F.col("o_totalprice"), window=w, div="double"
            ).alias("running_spend"),
        )

    return frame_cache(spark, sf_dir, "win_running_sum_rows", build)


@declare(
    "win_running_sum_bucketed",
    cache_frame=True,
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_spend
    FROM orders
    """,
)
def win_running_sum_bucketed(spark, sf_dir):
    """The same running total over a WINDOW-ALIGNED bucketed layout
    (VERDICT r4 #7): orders bucketed on the window's PARTITION BY key
    and in-bucket sorted by (o_custkey, o_orderdate, o_orderkey) —
    exactly WindowExec's required distribution AND ordering. Under
    the truthful sorted-bucket metadata the window runs with ZERO
    exchange and ZERO sort: the whole query is scan → window →
    project, fully pipelined (plan-pinned in tests/test_plans.py).
    This answers the q18-for-aggregation question for windows: the
    one-exchange + per-partition-sort cost of `win_running_sum_rows`
    is a LAYOUT property, not a window-operator cost — a 100 TB
    per-customer running total over a custkey-bucketed fact reads the
    table in place. Same oracle as the unbucketed twin."""
    from database_importer_spark.operators.partitioning import (
        ensure_bucketed_layout,
    )

    spark = static_plan_session(spark)
    table = ensure_bucketed_layout(
        spark, sf_dir, "orders",
        lambda: t(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        ),
        ["o_custkey"],
        sort_cols=["o_custkey", "o_orderdate", "o_orderkey"],
        memo_token="running_sum_orders",
    )
    ob = spark.table(table)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ob.select(
        "o_custkey",
        "o_orderkey",
        dec4_sum(F.col("o_totalprice"), window=w, div="double").alias("running_spend"),
    )


@declare(
    "win_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_near_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER w AS DOUBLE)
           AS near_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                 RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)
    """,
)
def win_range_frame(spark, sf_dir):
    """Value-range frame (orderkey within 10) — rangeBetween on a
    numeric sort key; frame membership is value-based, not row-based."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rangeBetween(-10, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_near_orders"),
        dec4_sum(F.col("o_totalprice"), window=w, div="double").alias("near_spend"),
    )


@declare(
    "win_ntile",
    oracle="""
    SELECT c_custkey, c_acctbal,
           CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INT)
           AS balance_quartile
    FROM customer
    """,
)
def win_ntile(spark, sf_dir):
    """Quartile assignment WITHOUT a single-task global window: the
    two-phase distributed rank (percentile-cutpoint buckets →
    partitioned window + broadcast offsets, operators/ranking.py)
    yields the global row number and total, and NTILE is pure
    arithmetic on those — ANSI tile-size rule, bit-identical to the
    engines' ntile(). Scales to fact tables: every sort runs on
    ~1/64th of the data."""
    from database_importer_spark.operators.ranking import (
        ntile_expr,
        with_global_row_number,
    )

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = with_global_row_number(
        c,
        [("c_acctbal", True), ("c_custkey", False)],
        rank_col="__rn",
        total_col="__total",
    )
    return ranked.select(
        "c_custkey",
        "c_acctbal",
        ntile_expr("__rn", "__total", 4).alias("balance_quartile"),
    )


# --- B.6 sorts / limits --------------------------------------------


@declare(
    "sort_multikey",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate,
           CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT) AS sort_rank
    FROM orders
    """,
)
def sort_multikey(spark, sf_dir):
    """Multi-key global sort, materialized as an explicit rank column
    so the ordering itself is value-hash-checkable (a bare ORDER BY
    is invisible to an order-insensitive hash). The rank comes from
    the two-phase distributed ranker (operators/ranking.py) — no
    single-partition window anywhere; sorts run per-bucket in
    parallel, offsets broadcast."""
    from database_importer_spark.operators.ranking import with_global_row_number

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    return with_global_row_number(
        o,
        [("o_totalprice", True), ("o_orderkey", False)],
        rank_col="sort_rank",
    ).select("o_orderkey", "o_totalprice", "o_orderdate", "sort_rank")


@declare(
    "limit_topk_global",
    cache_frame=True,
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def limit_topk_global(spark, sf_dir):
    """Global top-k: Spark plans TakeOrderedAndProject — each task
    keeps its local top 10, driver merges; never a full sort. The
    full tiebreak makes the result set deterministic."""
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


@declare(
    "limit_topk_pruned",
    cache_frame=True,
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def limit_topk_pruned(spark, sf_dir):
    """Zone-map-pruned twin of `limit_topk_global` (same oracle): a
    global top-k should not read the table. Parquet footers carry
    min/max per row group; a one-column peek at the highest-max row
    group yields a sound threshold (k-th largest of any k concrete
    values lower-bounds the true k-th), and prepending
    `o_totalprice >= threshold` lets Spark's pushed parquet filter
    skip every row group whose max is below it — data pages never
    decoded. This is the optimization columnar engines apply to
    ORDER BY ... LIMIT natively (why DuckDB runs the unpruned twin at
    ~36 ms over 15M rows); Spark lacks it, so the engine synthesizes
    it from footer stats (operators/pruning.py — soundness argument
    and the 100 TB coordinator/zone-map framing there). Fixed shape →
    static-plan session; single spark.sql declaration (the r6
    py4j-constant shave: 157→109 ms at sf10, tighter spread). The
    threshold literal is CAST(... AS DOUBLE) — a bare decimal literal
    parses as DECIMAL, and repr(float) is shortest-roundtrip so the
    cast reproduces the exact IEEE value the peek computed."""
    import os

    from database_importer_spark.operators.pruning import (
        topk_prune_threshold,
    )
    from database_importer_spark.plans.registry import sql_view

    spark = static_plan_session(spark)
    thr = topk_prune_threshold(
        os.path.join(sf_dir, "orders.parquet"), "o_totalprice", 10
    )
    v = sql_view(spark, sf_dir, "orders")
    where = (
        f"WHERE o_totalprice >= CAST({thr!r} AS DOUBLE)"
        if thr is not None
        else ""
    )
    return spark.sql(
        f"SELECT o_orderkey, o_custkey, o_totalprice FROM {v} {where} "
        f"ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
    )


# --- B.7 set operations --------------------------------------------


@declare(
    "set_union_all",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey FROM customer WHERE c_acctbal > 7000
    """,
)
def set_union_all(spark, sf_dir):
    """UNION ALL is a zero-shuffle plan concatenation — partitions of
    both inputs are simply owned by the union; nothing moves."""
    c = t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 7000).select("c_custkey")
    return a.unionByName(b)


@declare(
    "set_union_distinct",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 7000
    """,
)
def set_union_distinct(spark, sf_dir):
    """UNION DISTINCT = union + hash aggregate on all columns: pays
    one shuffle for the dedup (keys only — project before the union
    at scale so the shuffle stays narrow)."""
    c = t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 7000).select("c_custkey")
    return a.unionByName(b).distinct()


@declare(
    "set_intersect",
    oracle="""
    SELECT DISTINCT o_custkey AS c_custkey FROM orders
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    """,
)
def set_intersect(spark, sf_dir):
    """INTERSECT compiles to a left_semi join under distinct — one
    shuffle per side on the compared columns, no materialized
    intermediate."""
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey")).distinct()
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0).select("c_custkey")
    return o.intersect(c)


@declare(
    "set_except",
    oracle="""
    SELECT o_custkey AS c_custkey FROM orders
    EXCEPT ALL
    SELECT c_custkey FROM customer
    """,
)
def set_except(spark, sf_dir):
    """EXCEPT ALL (multiset semantics): order custkeys with
    multiplicity minus one occurrence each — a customer with n orders
    keeps n-1 copies, exercising the multiplicity-preserving variant."""
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    c = t(spark, sf_dir, "customer").select("c_custkey")
    return o.exceptAll(c)


# --- B.8 scalar functions ------------------------------------------


@declare(
    "fn_string_core",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS name_lower,
           upper(p_brand) AS brand_upper,
           trim(p_type) AS type_trim,
           substring(p_name, 1, 5) AS name_head,
           concat_ws('|', p_brand, p_type) AS brand_type,
           CAST(length(p_name) AS INT) AS name_len,
           replace(p_name, ' ', '_') AS name_snake,
           regexp_extract(p_type, '([a-z]+)$', 1) AS type_last_word,
           CAST(length(string_split(p_name, ' ')) AS INT) AS name_words
    FROM part
    """,
)
def fn_string_core(spark, sf_dir):
    """Core string kernel (concat/substr/trim/case/length/replace) —
    all whole-stage-codegen expressions (plan-tested): zero Python,
    zero shuffle, scan-speed at any scale."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.trim("p_type").alias("type_trim"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.regexp_extract("p_type", "([a-z]+)$", 1).alias("type_last_word"),
        F.size(F.split("p_name", " ")).alias("name_words"),
    )


@declare(
    "fn_date_core",
    oracle="""
    SELECT o_orderkey,
           date_trunc('month', o_orderdate) AS order_month,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_monthnum,
           CAST(isodow(o_orderdate) AS INT) AS order_isodow,
           CAST(datediff('day', DATE '1997-01-01', CAST(o_orderdate AS DATE))
                AS INT) AS days_since_97,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)::VARCHAR
                AS due_date,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end
    FROM orders
    """,
)
def fn_date_core(spark, sf_dir):
    """Date kernel. Dialect trap handled: Spark ``dayofweek`` is
    1=Sunday while DuckDB ``dayofweek`` is 0=Sunday — both sides use
    the ISO numbering (1=Monday) instead. Date-typed outputs go out
    as ISO strings (pandas date/datetime canonicalization differs)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_monthnum"),
        (F.weekday("o_orderdate") + 1).cast("int").alias("order_isodow"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1997-01-01").cast("date"))
        .cast("int")
        .alias("days_since_97"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).cast("string").alias("due_date"),
        F.last_day(F.col("o_orderdate").cast("date")).cast("string").alias("month_end"),
    )


@declare(
    "fn_math_core",
    cache_frame=True,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           abs(l_discount - 0.04) AS disc_dev,
           CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil7,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k,
           sqrt(l_quantity) AS qty_sqrt,
           CAST(sign(l_discount - 0.03) AS DOUBLE) AS disc_sign,
           round(l_discount, 2) AS disc_r2
    FROM lineitem
    """,
)
def fn_math_core(spark, sf_dir):
    """Math kernel. Only IEEE-deterministic ops (mul/div/abs/sqrt are
    correctly-rounded; same double in → same double out in both
    engines). ln/pow are libm-dependent and excluded from exact
    hashing by design."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")))
        .alias("charge"),
        F.abs(F.col("l_discount") - 0.04).alias("disc_dev"),
        F.ceil(F.col("l_quantity") / 7.0).alias("qty_ceil7"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_k"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.signum(F.col("l_discount") - 0.03).cast("double").alias("disc_sign"),
        F.round("l_discount", 2).alias("disc_r2"),
    )


@declare(
    "fn_array_core",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    )
    SELECT doc_id,
           CAST(length(tokens) AS INT) AS n_tokens,
           CAST(length(list_distinct(tokens)) AS INT) AS n_unique,
           list_contains(tokens, 'data') AS has_data,
           array_to_string(tokens[1:3], ' ') AS first3,
           tokens[1] AS first_token
    FROM toks
    """,
)
def fn_array_core(spark, sf_dir):
    """Array kernel over tokenized text: size / distinct / contains /
    slice / element_at. Set-like outputs canonicalized (counts,
    membership) — raw list_distinct order is engine-specific."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tokens"))
    return toks.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).alias("n_unique"),
        F.array_contains("tokens", "data").alias("has_data"),
        F.concat_ws(" ", F.slice("tokens", 1, 3)).alias("first3"),
        F.element_at("tokens", 1).alias("first_token"),
    )


@declare(
    "fn_json_extract",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
           CAST(json_extract_string(props, '$.k') AS INT) % 10 = 0 AS k_mod10
    FROM events
    """,
)
def fn_json_extract(spark, sf_dir):
    """Semi-structured access: get_json_object + typed from_json over
    the events.props JSON column — at scale prefer from_json once
    into a struct over repeated get_json_object calls (single parse)."""
    ev = t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.from_json("props", "k INT").alias("j"),
    )
    return parsed.select(
        "event_id",
        "k_str",
        F.col("j.k").alias("k_int"),
        (F.col("j.k") % 10 == 0).alias("k_mod10"),
    )


@declare(
    "fn_case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                WHEN o_totalprice < 300000 THEN 'large'
                ELSE 'jumbo' END AS price_band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS band_total
    FROM orders GROUP BY 1
    """,
)
def fn_case_when(spark, sf_dir):
    """CASE/WHEN banding + conditional aggregation: the CASE stays in
    codegen; the banded aggregate is partial+final so the shuffle
    carries one row per (band, partition)."""
    o = t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .when(F.col("o_totalprice") < 300000, "large")
        .otherwise("jumbo")
        .alias("price_band")
    )
    return o.groupBy(band).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec4_sum(F.col("o_totalprice")).alias("band_total"),
    )


@declare(
    "fn_try_safe_core",
    oracle="""
    SELECT p_partkey,
           TRY_CAST(p_name AS INTEGER) AS name_as_int,
           TRY_CAST(CAST(p_size AS VARCHAR) AS INTEGER) AS size_roundtrip,
           CASE WHEN (p_size - 10) = 0 THEN NULL
                ELSE CAST(p_retailprice AS DOUBLE) / (p_size - 10) END
               AS price_per_adj,
           string_split(p_name, ' ')[3] AS third_word
    FROM part
    """,
)
def fn_try_safe_core(spark, sf_dir):
    """ANSI-safe error kernel: try_cast / try_divide /
    try_element_at return NULL where strict evaluation would throw
    (unparseable cast, division by zero, index past the end). The
    100 TB argument: one malformed value must quarantine as NULL, not
    kill a 10-hour job — the expression-level twin of PERMISSIVE
    ingest (scan_csv_malformed). All codegen, no Python. DuckDB
    twins: TRY_CAST; a CASE guard for ÷0 (its / raises like Spark's
    strict mode); out-of-range list extract is NULL natively."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr("try_cast(p_name AS int)").alias("name_as_int"),
        F.expr("try_cast(cast(p_size AS string) AS int)").alias("size_roundtrip"),
        F.try_divide(
            F.col("p_retailprice").cast("double"), F.col("p_size") - 10
        ).alias("price_per_adj"),
        F.try_element_at(F.split("p_name", " "), F.lit(3)).alias("third_word"),
    )
