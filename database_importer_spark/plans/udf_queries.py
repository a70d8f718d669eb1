"""UDF / UDAF / UDTF surface (SURVEY.md §2 B.11), each with an exact
DuckDB twin where the logic is SQL-expressible.

The ordering of preference at scale (SURVEY §4.4): built-in
expression > pandas_udf (Arrow-vectorized) > applyInPandas (grouped
Arrow) > row-at-a-time @udf (the slow path — declared here exactly
once, for capability parity with scalar Python logic like the
reference's identifier quoting)."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from database_importer_spark.functions.identifiers import quote_identifier
from database_importer_spark.session import static_plan_session
from database_importer_spark.plans.registry import declare, t


@declare(
    "udf_python_scalar",
    oracle="""
    SELECT p_partkey,
           '[' || replace(p_brand, ']', ']]') || ']' AS quoted_brand
    FROM part
    """,
)
def udf_python_scalar(spark, sf_dir):
    """Row-at-a-time Python UDF: the reference's quote_identifier
    (util.py:135-143) lifted to a column function. Deliberately the
    slow path — kept off hot paths; here it runs over the small part
    dim only."""
    quote = F.udf(quote_identifier, StringType())
    p = t(spark, sf_dir, "part")
    return p.select("p_partkey", quote("p_brand").alias("quoted_brand"))


@declare(
    "udf_pandas_vectorized",
    cache_frame=True,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS discounted
    FROM lineitem
    """,
)
def udf_pandas_vectorized(spark, sf_dir):
    """Arrow-vectorized pandas_udf: whole columns cross the Python
    boundary as Arrow batches (~10-100x over row-at-a-time). The
    numpy float64 math is the same IEEE ops as the SQL twin — exact.
    Map-only plan → static-plan session: there is no shuffle for AQE
    to stage at all (364→258 ms at sf0.1, BASELINE.md round 5).
    Cost decomposition (BASELINE.md "Round-6 probes", sf10): compute floor
    0.39 s, + 0.73 s for the two-input-column Arrow round trip =
    1.12 s — the residual vs DuckDB is serialization by construction,
    and only the UDF's inputs cross (the projection stays JVM-side);
    the mapInArrow alternative measured 12x WORSE (whole rows cross)."""
    spark = static_plan_session(spark)

    @F.pandas_udf("double")
    def discounted(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1.0 - discount)

    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        discounted("l_extendedprice", "l_discount").alias("discounted"),
    )


@declare(
    "udaf_applyInPandas",
    oracle="""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           quantile_cont(c_acctbal, 0.5) AS median_acctbal
    FROM customer GROUP BY c_nationkey
    """,
)
def udaf_applyInPandas(spark, sf_dir):
    """Grouped-map UDAF: per-nation median via applyInPandas — one
    Arrow batch per group, shuffle on the group key only. pandas'
    interpolated median ≡ quantile_cont(0.5) (selection + one exact
    IEEE mean for even counts) — exact twin."""

    def group_median(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "c_nationkey": [pdf["c_nationkey"].iloc[0]],
                "n_customers": [len(pdf)],
                "median_acctbal": [pdf["c_acctbal"].median()],
            }
        )

    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").applyInPandas(
        group_median,
        "c_nationkey int, n_customers bigint, median_acctbal double",
    )


@declare(
    "udtf_explode_custom",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    SELECT doc_id,
           unnest(list_transform(generate_series(1, length(l) - 1),
                  i -> l[i] || ' ' || l[i + 1])) AS bigram
    FROM toks
    """,
)
def udtf_explode_custom(spark, sf_dir):
    """Python UDTF (Spark 4 @udtf) expanding each document into its
    word bigrams via a SQL lateral join — the custom row-generator
    surface. (The built-in-only equivalent is transform+explode; the
    UDTF form is declared for arbitrary Python generators.)"""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, bigram string")
    class Bigrams:
        def eval(self, doc_id: int, text: str):
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield doc_id, toks[i] + " " + toks[i + 1]

    spark.udtf.register("dbis_bigrams", Bigrams)
    t(spark, sf_dir, "documents").createOrReplaceTempView("dbis_docs_for_udtf")
    return spark.sql(
        "SELECT b.doc_id, b.bigram FROM dbis_docs_for_udtf, "
        "LATERAL dbis_bigrams(doc_id, text) b"
    )


@declare(
    "udf_cogroup_pandas",
    oracle="""
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(25,4))), 0)
                AS DOUBLE) AS total_spend,
           MAX(c.c_acctbal) AS acctbal
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey % 10 = 0
    GROUP BY c.c_custkey
    """,
)
def udf_cogroup_pandas(spark, sf_dir):
    """cogroup().applyInPandas — the two-sided grouped-Arrow surface:
    each key's customer rows and order rows arrive as a pandas frame
    PAIR in one Python call (the shape for per-key reconciliation
    logic that needs both sides at once, e.g. auditing a dimension
    against its facts). Both sides shuffle once on the key, groups
    stream through Arrow; per-key decimal-quantized sums keep the
    result order-independent and oracle-exact. Slow path by the §4.4
    ordering — here it runs on a 10% key slice."""
    import pandas as pd

    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)

    def reconcile(key, cust: pd.DataFrame, orders: pd.DataFrame) -> pd.DataFrame:
        if cust.empty:
            return pd.DataFrame(
                columns=["c_custkey", "n_orders", "total_spend", "acctbal"]
            )
        # quantize to int 1e-4 units -> exact, order-independent sum
        spend = int(
            (orders["o_totalprice"] * 10_000).round().astype("int64").sum()
        ) if len(orders) else 0
        return pd.DataFrame(
            {
                "c_custkey": [key[0]],
                "n_orders": [len(orders)],
                "total_spend": [spend / 10_000.0],
                "acctbal": [cust["c_acctbal"].max()],
            }
        )

    return (
        c.groupBy("c_custkey")
        .cogroup(o.groupBy("o_custkey"))
        .applyInPandas(
            reconcile,
            "c_custkey bigint, n_orders bigint, total_spend double, acctbal double",
        )
    )


@declare(
    "udf_map_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem WHERE l_quantity >= 30
    """,
)
def udf_map_in_arrow(spark, sf_dir):
    """mapInArrow — the whole-batch end of the Python surface: batches
    arrive as raw Arrow RecordBatches (no pandas conversion), computed
    with Arrow kernels, yielded back. Declared for the surface; know
    its cost model (measured at sf10, BASELINE.md "Round-6 probes"): a MAP
    operator ships EVERY column of every row through Python both ways,
    so for a scalar expression it loses badly to a pandas_udf, which
    ships only the UDF's input columns while the projection stays
    JVM-side (13.5 s vs 1.1 s on the same computation; builtin 0.4 s).
    Use mapInArrow only when the computation genuinely consumes whole
    batches (multi-column restructuring, batch-level libraries) —
    never as a 'faster pandas_udf'. Multiplication of doubles is
    IEEE-exact, so the result hash-matches the SQL twin bit for
    bit."""
    import pyarrow as pa
    import pyarrow.compute as pc

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 30).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )

    def net(batches):
        for b in batches:
            net_price = pc.multiply(
                b.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), b.column("l_discount")),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("l_orderkey"), b.column("l_linenumber"), net_price],
                ["l_orderkey", "l_linenumber", "net_price"],
            )

    return li.mapInArrow(
        net, "l_orderkey bigint, l_linenumber int, net_price double"
    )
