"""Query registry: one declared query per SURVEY.md §2 key.

Each entry pairs a Spark plan builder ``fn(spark, sf_dir) →
DataFrame`` with an optional DuckDB oracle SQL string (None for
genuinely non-SQL-expressible ops — the driver then records a
rows-only check).

Determinism discipline (SURVEY.md §7.4) applied throughout:
  * every computed column aliased identically on both sides;
  * double aggregates accumulate in DECIMAL(25,4) (exact, order-
    independent) then cast to DOUBLE — both engines produce the
    identical IEEE value, so value-hashes match without rounding
    games;
  * every window/limit ORDER BY carries a full tiebreak key;
  * arrays canonicalized with sort_array / list_sort;
  * counts cast to BIGINT on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from database_importer_spark.cache import fingerprint, memo


@dataclass
class DeclaredQuery:
    key: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


REGISTRY: dict[str, DeclaredQuery] = {}


def declare(key: str, oracle: str | None = None, cache_frame: bool = False):
    """Register ``fn`` as the Spark plan for ``key`` with its oracle.

    ``cache_frame=True`` memoizes the BUILT DataFrame per (key,
    corpus fingerprint) via :func:`frame_cache` — the r9
    point-lookup / r11 borderline-trio warm path applied at the
    registry level (optimization round r11). It removes ONLY the
    py4j/analysis plan-construction constant (25-660 ms/key measured,
    OPTIMIZATION_r11.md "Baseline measurements"); every materialization still
    recomputes from the parquet inputs — a cached *plan* is not a
    cached *result*. Set it ONLY for pure builders: plans over
    immutable parquet / memoized immutable ensure_* layouts, with no
    localCheckpoint (a lazy checkpoint would pin computed source
    rows across invocations = result caching), no table commits, no
    streaming replay, no per-invocation conf dependence."""

    def deco(fn):
        run = fn
        if cache_frame:
            import functools

            @functools.wraps(fn)
            def run(spark, sf_dir, _fn=fn, _key=key):  # noqa: ANN001
                return frame_cache(
                    spark, sf_dir, _key, lambda: _fn(spark, sf_dir)
                )

        REGISTRY[key] = DeclaredQuery(key, run, oracle)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (parquet scan → pushdown-capable),
    ns-timestamp columns normalized to µs (see sources.loader)."""
    from database_importer_spark.sources.loader import load_table

    return load_table(spark, sf_dir, name)


# Temp-view memo: (session, table fingerprint) → view name. Lets a
# declared plan be ONE spark.sql(...) call instead of a chain of py4j
# DataFrame calls: each DataFrame method is a Python→JVM round trip
# (~5-10 ms), so a six-way join built through the API costs ~150-200
# ms of pure construction per invocation, while one sql() call
# parses+analyzes entirely JVM-side (~40 ms measured for the same q5
# shape at sf10). The fingerprint in the name keys invalidation: a
# regenerated corpus re-registers the view over the fresh schema.


def sql_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Register (once per session + table fingerprint) a temp view
    over ``t(spark, sf_dir, name)`` and return its name — the leaf
    handle for single-``spark.sql`` declared plans."""
    fp = fingerprint(os.path.join(sf_dir, f"{name}.parquet"))
    vname = f"dbis_v_{name}_{fp}"
    views = memo("sql_views", spark)
    if vname not in views:
        t(spark, sf_dir, name).createOrReplaceTempView(vname)
        views[vname] = vname
    return vname


def frame_cache(spark: SparkSession, sf_dir: str, name: str, build):
    """Memoize a declared key's BUILT DataFrame per (key name, corpus
    fingerprint) — the r9 point-lookup warm path generalized: a plan
    over immutable parquet is itself immutable, so re-running the
    builder only re-pays py4j/analysis construction (40-130 ms
    measured on the window/agg shapes). Sound ONLY for builders that
    are pure functions of the corpus (no mutable tables, no layout
    side effects beyond their own memoized ensure_*); the fingerprint
    covers every *.parquet in sf_dir so a regenerated corpus rebuilds.
    The cache dies with the session."""
    d = os.path.abspath(sf_dir)
    k = (name,) + tuple(
        fingerprint(os.path.join(d, n))
        for n in sorted(os.listdir(d))
        if n.endswith(".parquet")
    )
    frames = memo("declared_frames", spark)
    df = frames.get(k)
    if df is None:
        df = build()
        frames[k] = df
    return df


# Exact-decimal accumulation type for double aggregates: wide enough
# that no testdata sum can overflow, scale 4 covers every source
# column's printed precision. At 100 TB you would widen to (38,4).
DEC = "decimal(25,4)"


def dec4_sum(col, window=None, div="decimal"):
    """DECIMAL(25,4)-exact SUM at native-long speed (round 4).

    Produces the bit-identical double that
    ``SUM(CAST(col AS DECIMAL(25,4)))::DOUBLE`` produces — the
    established oracle convention — while accumulating plain LONGs:

      1. quantize per row: ``floor(col*10000 + 0.5)`` recovers the
         EXACT 4-decimal integer, guaranteed (not probabilistic),
         because the input is an exact ≤4-decimal quantity whose
         double representation is within a few ulps (~1e-6 of a unit
         at the $1e5 scale) of the true value — never within 0.5;
      2. SUM the longs — exact to 2^63 (≈ $9e14 per group at 4dp:
         decades of 100 TB headroom, vs 2^53 if summed as doubles),
         order- and partitioning-independent, fastest agg path
         (measured: Q1 shape at sf10 5.76 s decimal → 0.88 s);
      3. one decimal conversion per OUTPUT group:
         long → decimal / 10000 → DECIMAL(25,4) → double walks the
         same decimal→double cast both engines already hash-match on.

    APPLICABILITY — use ONLY when ``col`` is exactly representable in
    ≤4 decimals: a ≤2dp money/qty column, or a product/sum of two of
    them (2dp×2dp = 4dp). An expression needing REAL rounding (e.g. a
    6dp triple product like price*(1-disc)*(1+tax)) must keep the
    DECIMAL cast: there HALF_UP on the decimal string and
    floor(+0.5) on the binary value can disagree at a .00005 tie.
    Verified bit-equal to the DuckDB oracle at sf0.01/0.1/1/10.

    ``div="double"`` (r7) replaces the output conversion with a plain
    IEEE division ``S / 1e4``: when the LONG sum S is exactly double-
    representable (|S| < 2^53 ⇔ < $9.0e11 at 4dp), long→double is
    exact and the correctly-rounded quotient S/10000 is the nearest
    double to the exact rational S/10^4 — the SAME double the
    DECIMAL(25,4)→double cast produces, bit for bit. Use it for
    WINDOW sums, where (a) the conversion runs once per output ROW
    (not per group: measured 1.51→1.12 s on the 15M-row running
    total at sf10 — the decimal chain was 26% of the query) and
    (b) the bound is per window PARTITION (one customer's prefix
    spend), a per-entity property that holds at 100 TB regardless of
    corpus size. Keep the default decimal chain for GROUP aggregates:
    a global money sum at sf10 is already ~2.3e16 4dp-units > 2^53,
    so group sums need the 2^63 decimal headroom.
    """
    from pyspark.sql import functions as F

    q = F.floor(col * 10000 + F.lit(0.5))
    s = F.sum(q).over(window) if window is not None else F.sum(q)
    if div == "double":
        return (s / F.lit(10000.0)).cast("double")
    return (s.cast("decimal(25,0)") / 10000).cast(DEC).cast("double")


def dec4_sum_sql(expr: str) -> str:
    """Spark-SQL spelling of :func:`dec4_sum` (same quantize → LONG
    sum → one decimal division per group; same applicability rules) —
    for declared plans written as a single ``spark.sql`` call. The
    cast chain walks the identical Catalyst coercions as the Column
    version, so values stay bit-equal to the DuckDB oracle."""
    return (
        f"CAST(CAST(CAST(SUM(FLOOR(({expr}) * 10000 + 0.5)) "
        f"AS DECIMAL(25,0)) / 10000 AS {DEC}) AS DOUBLE)"
    )
