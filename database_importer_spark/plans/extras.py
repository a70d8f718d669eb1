"""Coverage-widening extras: window value functions, distribution
ranks, conditional/hash/bitwise scalar kernels, and exact moment
statistics — each with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_importer_spark.plans.registry import DEC, dec4_sum, declare, t

@declare(
    "agg_events_value_rollup",
    oracle="""
    SELECT event_type,
           strftime(ts, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) / COUNT(*)
               AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
    """,
)
def agg_events_value_rollup(spark, sf_dir):
    """Per-(event_type, day) rollup of the metric stream — the
    telemetry-cube shape (round 4's last dec4 application: the events
    `value` column is an exact-2dp metric, so the sum accumulates as
    quantized LONGs at native speed, bit-identical to the
    DECIMAL(25,4) oracle; see registry.dec4_sum APPLICABILITY).
    avg = exact-sum double / exact count: one IEEE division per
    OUTPUT group, deterministic on both engines given identical
    inputs — never AVG() over doubles, whose accumulation order
    differs per engine/partitioning. min/max are order-independent
    by nature. Day keys leave as ISO strings (SURVEY §7.4).

    Scale: one map-side partial + one exchange on (type, day) —
    cube cardinality (|types|×|days|), not event count; the 100 TB
    shape for any metrics rollup. The group key is date_trunc (pure
    long arithmetic on the µs tick); the ISO STRING renders after
    aggregation — one format call per OUTPUT group, not per event."""
    ev = t(spark, sf_dir, "events")
    cnt = F.count(F.lit(1))
    return (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("__day"))
        .agg(
            cnt.alias("n_events"),
            dec4_sum(F.col("value")).alias("sum_value"),
            (dec4_sum(F.col("value")) / cnt).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "event_type",
            F.date_format("__day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "sum_value",
            "avg_value",
            "min_value",
            "max_value",
        )
    )


@declare(
    "agg_events_rollup_partitioned",
    cache_frame=True,
    oracle="""
    SELECT event_type,
           strftime(ts, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) / COUNT(*)
               AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14'
    GROUP BY event_type, strftime(ts, '%Y-%m-%d')
    """,
)
def agg_events_rollup_partitioned(spark, sf_dir):
    """The same telemetry rollup as `agg_events_value_rollup`, over a
    DATE-PARTITIONED events layout, pruned to one queried week — the
    scan-pruning twin of the bucketed-join family (VERDICT r4 #5).

    `agg_events_value_rollup` is scan-bound: the rollup costs ≈ one
    full pass over the corpus. But a 100 TB event stream is laid out
    date-partitioned at ingest, and this query's own group key IS the
    partition key — so the range filter prunes whole day directories
    at plan time (PartitionFilters on the scan, plan-pinned in
    tests/test_plans.py) and the cost becomes proportional to the
    queried range (7 of 30 days here), not the corpus. The layout is
    built once per corpus (operators/partitioning.
    ensure_partitioned_layout, one file per day) and amortizes over
    every ranged query; `day` is a real column of the layout, so the
    groupBy reads it for free instead of re-deriving date_trunc per
    event. Fixed shape (pruned scan → partial agg → one exchange) →
    static-plan session."""
    from database_importer_spark.cache import memo
    from database_importer_spark.operators.partitioning import (
        ensure_partitioned_layout,
        partitioned_layout_view,
    )
    from database_importer_spark.session import static_plan_session

    spark = static_plan_session(spark)

    def ev():
        return t(spark, sf_dir, "events").withColumn(
            "day", F.date_trunc("day", "ts").cast("date")
        )

    loc = ensure_partitioned_layout(
        spark, sf_dir, "events", ev, "day", memo_token="events_day_rollup"
    )
    # explicit schema skips per-query footer + partition inference
    # (same measured win as tpch_q6_partitioned); cached per layout
    # loc so warm calls skip building the source frame too
    schemas = memo("layout_schemas")
    schema = schemas.get(loc)
    if schema is None:
        schema = ev().schema
        schemas[loc] = schema
    from database_importer_spark.plans.registry import dec4_sum_sql

    v = partitioned_layout_view(spark, loc, schema)
    d4 = dec4_sum_sql("value")
    return spark.sql(f"""
        SELECT event_type,
               DATE_FORMAT(day, 'yyyy-MM-dd') AS day,
               COUNT(*) AS n_events,
               {d4} AS sum_value,
               {d4} / COUNT(*) AS avg_value,
               MIN(value) AS min_value,
               MAX(value) AS max_value
        FROM {v}
        WHERE day >= DATE '2024-01-08' AND day <= DATE '2024-01-14'
        GROUP BY event_type, day
    """)


@declare(
    "win_first_last_nth",
    oracle="""
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_val,
           last_value(value) OVER w AS last_val,
           nth_value(value, 2) OVER w AS second_val
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last_nth(spark, sf_dir):
    """Window value functions over an explicit full-partition frame
    (the default frame differs between engines — pin it)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    )


@declare(
    "win_distribution_ranks",
    oracle="""
    SELECT c_custkey,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           CAST(dense_rank() OVER w AS BIGINT) AS dr
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def win_distribution_ranks(spark, sf_dir):
    """percent_rank / cume_dist / dense_rank — rank arithmetic is
    (rank-1)/(n-1): integer ratios, bit-exact across engines. The
    order (c_acctbal, c_custkey) is a total order (custkey unique),
    so rank = dense_rank = row_number and the distributed two-phase
    ranker (operators/ranking.py) supplies both rank and total — no
    single-partition window over the table."""
    from database_importer_spark.operators.ranking import with_global_row_number

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = with_global_row_number(
        c,
        [("c_acctbal", False), ("c_custkey", False)],
        rank_col="__rn",
        total_col="__total",
    )
    return ranked.select(
        "c_custkey",
        ((F.col("__rn") - 1) / (F.col("__total") - 1)).alias("pr"),
        (F.col("__rn") / F.col("__total")).alias("cd"),
        F.col("__rn").alias("dr"),
    )


@declare(
    "fn_conditional_core",
    oracle="""
    SELECT o_orderkey,
           coalesce(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
           ifnull(NULLIF(o_orderpriority, '1-URGENT'), 'urgent') AS prio_or_urgent,
           greatest(o_totalprice, 100000.0) AS at_least_100k,
           least(o_totalprice, 100000.0) AS at_most_100k
    FROM orders
    """,
)
def fn_conditional_core(spark, sf_dir):
    """Null-handling kernel (coalesce/nullif/nvl2/least/greatest) —
    codegen expressions; the SQL-semantics corners (NULL propagation
    through least/greatest) are pinned by the exact oracle."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias(
            "status_or_open"
        ),
        F.ifnull(F.nullif("o_orderpriority", F.lit("1-URGENT")), F.lit("urgent")).alias(
            "prio_or_urgent"
        ),
        F.greatest("o_totalprice", F.lit(100000.0)).alias("at_least_100k"),
        F.least("o_totalprice", F.lit(100000.0)).alias("at_most_100k"),
    )


@declare(
    "fn_hash_digest",
    oracle="""
    SELECT p_partkey, md5(p_name) AS name_md5, sha256(p_name) AS name_sha256
    FROM part
    """,
)
def fn_hash_digest(spark, sf_dir):
    """Content digests (hex-lowercase on both engines) — the
    grounding for digest-based dedup and integrity checks."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("name_md5"),
        F.sha2("p_name", 256).alias("name_sha256"),
    )


@declare(
    "fn_bitwise_core",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS low_byte,
           o_orderkey | 1 AS set_low,
           xor(o_orderkey, 21845) AS xored,
           o_orderkey << 2 AS shl2,
           o_orderkey >> 3 AS shr3
    FROM orders
    """,
)
def fn_bitwise_core(spark, sf_dir):
    """Bitwise kernel (and/or/xor/shifts/bit_count) — codegen; used
    by the engine itself for SimHash banding and bucket ids, so the
    cross-engine bit semantics are oracle-pinned here once."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(1)).alias("set_low"),
        k.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 3).alias("shr3"),
    )


@declare(
    "fn_string_extra",
    oracle="""
    SELECT p_partkey,
           lpad(p_brand, 12, '*') AS brand_lpad,
           rpad(p_brand, 12, '*') AS brand_rpad,
           reverse(p_brand) AS brand_rev,
           repeat(p_brand, 2) AS brand_twice,
           CAST(strpos(p_name, 'a') AS INT) AS first_a,
           translate(p_type, 'aeiou', 'AEIOU') AS type_vowel_upper,
           upper(substr(p_type, 1, 1)) || lower(substr(p_type, 2))
               AS type_title
    FROM part
    """,
)
def fn_string_extra(spark, sf_dir):
    """Extended string kernel (split/regexp/translate/lpad/levenshtein
    etc.) — codegen JVM expressions; regexp flavors differ between
    engines, so the oracle pins the exact dialect-compatible subset."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_lpad"),
        F.rpad("p_brand", 12, "*").alias("brand_rpad"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.instr("p_name", "a").alias("first_a"),
        F.translate("p_type", "aeiou", "AEIOU").alias("type_vowel_upper"),
        F.initcap("p_type").alias("type_title"),
    )


@declare(
    "agg_moments_explicit",
    oracle="""
    WITH s AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))
                        * CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS s2
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           s1 / n AS mean_price,
           ROUND((s2 - s1 * s1 / n) / (n - 1) / 1000000.0, 2) AS var_price_k2,
           ROUND(sqrt((s2 - s1 * s1 / n) / (n - 1)), 2) AS std_price
    FROM s
    """,
)
def agg_moments_explicit(spark, sf_dir):
    """Variance/stddev from exact decimal power sums — the built-in
    stddev aggregates are float-order-dependent across engines; the
    sum-of-squares form is order-independent, so the moments are
    deterministic at any parallelism. The s2 - s1²/n subtraction
    cancels catastrophically (~1e19 operands → ~1e2 absolute error),
    so variance is reported in (k$)² rounded to 2 dp — granularity
    far above the cancellation noise."""
    o = t(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast(DEC)
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).cast("double").alias("s1"),
        F.sum(d * d).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return s.select(
        "o_orderpriority",
        "n",
        (s1 / n).alias("mean_price"),
        F.round((s2 - s1 * s1 / n) / (n - 1) / 1000000.0, 2).alias("var_price_k2"),
        F.round(F.sqrt((s2 - s1 * s1 / n) / (n - 1)), 2).alias("std_price"),
    )


@declare(
    "agg_pivot",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag = 'A'
                THEN CAST(l_quantity AS DECIMAL(25,4)) END) AS DOUBLE) AS qty_A,
           CAST(SUM(CASE WHEN l_returnflag = 'N'
                THEN CAST(l_quantity AS DECIMAL(25,4)) END) AS DOUBLE) AS qty_N,
           CAST(SUM(CASE WHEN l_returnflag = 'R'
                THEN CAST(l_quantity AS DECIMAL(25,4)) END) AS DOUBLE) AS qty_R
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_pivot(spark, sf_dir):
    """Pivot (long→wide): explicit pivot values keep it one pass with
    no distinct-values pre-job — at scale always enumerate the pivot
    domain. Oracle = portable conditional aggregation."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dec4_sum(F.col("l_quantity")))
        .select(
            "l_linestatus",
            F.col("A").alias("qty_A"),
            F.col("N").alias("qty_N"),
            F.col("R").alias("qty_R"),
        )
    )


@declare(
    "set_unpivot",
    oracle="""
    SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'o_custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value
    FROM orders
    """,
)
def set_unpivot(spark, sf_dir):
    """Unpivot/melt (wide→long) via the native unpivot operator —
    generates rows without a join or explode payload copy."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").cast("double")
    )
    return o.unpivot(
        "o_orderkey", ["o_totalprice", "o_custkey"], "metric", "value"
    )


@declare(
    "llm_split_train_val",
    oracle="""
    WITH assigned AS (
        SELECT doc_id,
               CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                    WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM assigned GROUP BY split
    """,
)
def llm_split_train_val(spark, sf_dir):
    """Deterministic train/val/test split by multiplicative key
    hashing (Knuth constant) — reproducible across runs, engines and
    cluster sizes; no rand(). Checksum pins exact membership."""
    d = t(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias("split")
    )
    return d.groupBy(split).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
    )


@declare(
    "ts_gap_fill_ffill",
    oracle="""
    WITH sel AS (SELECT * FROM events WHERE user_id < 5),
    bounds AS (
        SELECT user_id, date_trunc('hour', MIN(ts)) AS t0, MAX(ts) AS t1
        FROM sel GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, g.g AS grid_ts
        FROM bounds, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS g(g)
    )
    SELECT g.user_id, g.grid_ts, o.value AS filled_value
    FROM grid g
    ASOF LEFT JOIN sel o
      ON g.user_id = o.user_id AND g.grid_ts >= o.ts
    """,
)
def ts_gap_fill_ffill(spark, sf_dir):
    """Hourly gap-filled per-user series with forward fill
    (hypertable gap-fill analogue) — grid via sequence()+explode,
    fill via one union+window pass. Oracle: DuckDB ASOF LEFT JOIN
    of the generated grid onto observations."""
    from database_importer_spark.operators.timeseries import gap_fill_ffill

    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    return gap_fill_ffill(ev, "user_id", "ts", "value", 3600)


@declare(
    "ts_bucket_rollup",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', ts) AS h0, date_trunc('day', ts) AS d0,
               date_trunc('month', ts) AS m0, value
        FROM events
    )
    SELECT 'hour' AS resolution, h0 AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
    FROM b GROUP BY h0
    UNION ALL
    SELECT 'day', d0, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE)
    FROM b GROUP BY d0
    UNION ALL
    SELECT 'month', m0, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE)
    FROM b GROUP BY m0
    """,
)
def ts_bucket_rollup(spark, sf_dir):
    """Hour/day/month continuous-aggregate rollup in ONE scan via SQL
    GROUPING SETS (Expand) — the oracle spells it as three scans;
    results are identical, the single-scan plan is the scale win."""
    from database_importer_spark.operators.timeseries import time_bucket_rollup

    ev = t(spark, sf_dir, "events")
    return time_bucket_rollup(spark, ev, "ts", "value")


@declare(
    "fn_map_core",
    oracle="""
    WITH w AS (
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events
    )
    SELECT event_id,
           map(['k', 'k2'], [k, k * 2])['k'][1] AS k_val,
           map(['k', 'k2'], [k, k * 2])['k2'][1] AS k2_val,
           CAST(cardinality(map(['k', 'k2'], [k, k * 2])) AS INT) AS m_size,
           array_to_string(list_sort(map_keys(map(['k', 'k2'], [k, k * 2]))), ',')
               AS keys_sorted
    FROM w
    """,
)
def fn_map_core(spark, sf_dir):
    """Map-typed column kernel: construction, key access, size,
    canonicalized key list (map iteration order is engine-specific —
    always sort before comparing). DuckDB map access returns a list;
    the oracle unwraps with [1]."""
    ev = t(spark, sf_dir, "events")
    w = ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )
    m = F.map_from_arrays(
        F.array(F.lit("k"), F.lit("k2")), F.array(F.col("k"), F.col("k") * 2)
    )
    return w.select(
        "event_id",
        m.getItem("k").alias("k_val"),
        m.getItem("k2").alias("k2_val"),
        F.size(m).alias("m_size"),
        F.concat_ws(",", F.sort_array(F.map_keys(m))).alias("keys_sorted"),
    )


@declare(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS exact_p50,
           TRUE AS approx_within_tolerance
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark, sf_dir):
    """Approximate percentile sketch vs exact: the sketch value is
    algorithm-specific (no cross-engine twin), so the query asserts
    it lands within 5% of the exact percentile — tolerance verdict
    hashes, sketch internals don't. At 100 TB the sketch is the only
    option: mergeable, single-pass, no per-group sort."""
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("exact_p50"),
        F.expr("approx_percentile(l_quantity, 0.5, 1000)").alias("approx_p50"),
    )
    return g.select(
        "l_returnflag",
        "exact_p50",
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            <= 0.05 * F.greatest(F.abs(F.col("exact_p50")), F.lit(1.0))
        ).alias("approx_within_tolerance"),
    )


@declare(
    "ts_resample_ohlc",
    oracle="""
    WITH keyed AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS VARCHAR)[:10] AS bucket,
               value,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '#' ||
                   lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
        FROM events
    )
    SELECT event_type, bucket,
           arg_min(value, ord) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ord) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM keyed GROUP BY event_type, bucket
    """,
)
def ts_resample_ohlc(spark, sf_dir):
    """Downsample a tick stream to per-day OHLC bars per series —
    the time-series resample every metrics/trading pipeline runs.
    Open/close are order-statistics (min_by/max_by over a composite
    (ts, event_id) key — the tiebreak makes duplicate timestamps
    deterministic on both engines, the gap_fill_ffill lesson applied
    up front). One partial+final hash aggregate: no window, no sort,
    shuffle carries only (series, bucket) groups. At 100 TB this is
    the same single exchange regardless of ticks-per-bar skew."""
    ev = t(spark, sf_dir, "events")
    ord_key = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lit("#"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.select(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("bucket"),
            "value",
            ord_key.alias("ord"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.expr("min_by(value, ord)").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, ord)").alias("close"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


@declare(
    "agg_histogram_fixed_bins",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bin,
           CAST(floor(o_totalprice / 50000) * 50000 AS DOUBLE) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS min_val,
           MAX(o_totalprice) AS max_val
    FROM orders GROUP BY 1, 2
    """,
)
def agg_histogram_fixed_bins(spark, sf_dir):
    """Fixed-width numeric histogram (the profiling primitive behind
    data-quality dashboards): bin id is a pure row-local projection,
    then one partial+final count aggregate — the shuffle carries at
    most n_bins rows per task regardless of table size, the textbook
    map-side-combine win. (For unknown ranges, compose with the
    approx-percentile sketch to pick bounds first.)"""
    o = t(spark, sf_dir, "orders")
    bin_col = F.floor(F.col("o_totalprice") / 50000).cast("int")
    return (
        o.select(
            bin_col.alias("bin"),
            (bin_col * 50000).cast("double").alias("bin_lo"),
            "o_totalprice",
        )
        .groupBy("bin", "bin_lo")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("min_val"),
            F.max("o_totalprice").alias("max_val"),
        )
    )


@declare(
    "agg_incremental_maintenance",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_incremental_maintenance(spark, sf_dir):
    """Incremental aggregate maintenance — the materialized-view
    pattern: yesterday's per-group partials (count, DECIMAL sum) plus
    today's delta batch re-aggregate to EXACTLY the full-table
    aggregate, because (count, sum) is a commutative monoid and
    DECIMAL addition is order-independent. At 100 TB this is the
    difference between rescanning history and touching only the
    delta: the engine never re-reads the 'old' partition — it reuses
    its partial rows. Oracle = the direct full aggregate, proving
    merge(state, delta) ≡ recompute."""
    o = t(spark, sf_dir, "orders")
    cut = F.lit("1999-01-01").cast("timestamp")

    def partials(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5))
            ).alias("__sum_q"),
        )

    state = partials(o.filter(F.col("o_orderdate") < cut))   # "yesterday"
    delta = partials(o.filter(F.col("o_orderdate") >= cut))  # today's batch
    return (
        state.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            # merging LONG partials is the mergeable-state twin of the
            # decimal merge: exact, and the final decimal conversion
            # happens once per output group (registry.dec4_sum recipe)
            (F.sum("__sum_q").cast("decimal(25,0)") / 10000)
            .cast(DEC)
            .cast("double")
            .alias("total_price"),
        )
    )
