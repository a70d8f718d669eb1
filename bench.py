"""Bench harness (BASELINE.md protocol): headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], warm session, min of 5 runs, full
materialization through the noop sink (no driver collect cost, no
column-pruning shortcut a bare count() would allow).

Min-of-N, not median: this host is a shared VM with rare multi-second
stalls (measured: the same query, same session, same plan ranges
0.6 s .. 167 s across bench invocations while an isolated rerun is
always fast). Min is the standard noise-floor estimator; the DuckDB
side of BASELINE.md's comparison uses the identical rule.

Prints ONE JSON line:
{"metric": "...", "value": <total sec>, "unit": "sec",
 "queries": {key: sec}, "sf": <sf>, "duckdb_calib_sec": <sec>,
 "cpus": <n>, "master": "local[n]", "heap": "16g"}
and appends the per-run timings to BENCH_RUNS_sf<sf>.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from database_importer_spark import get_spark  # noqa: E402
from database_importer_spark.plans import REGISTRY  # noqa: E402

# Headline set: the flagship merge + the heaviest representative of
# each capability family (join, agg, window, sort, asof, dedup,
# similarity, text, streaming, UDF-boundary).
HEADLINE = [
    "upsert_merge_full",
    "upsert_merge_bucketed",
    "upsert_merge_delta_rows",
    "upsert_merge_partitioned",
    "upsert_merge_snapshot",
    "tpch_q3_shipping_priority",
    "tpch_q3_bucketed",
    "tpch_q5_local_supplier_volume",
    "tpch_q5_bucketed",
    "tpch_q6_forecast_revenue",
    "tpch_q6_partitioned",
    "join_shuffle_sortmerge",
    "join_bucketed_colocated",
    "join_broadcast_hash",
    "join_asof_nearest",
    "agg_hash_groupby",
    "agg_hash_groupby_double",
    "agg_count_distinct",
    "agg_count_distinct_bucketed",
    "win_rank_topk_per_group",
    "win_running_sum_rows",
    "win_running_sum_bucketed",
    "win_rank_topk_bucketed",
    "agg_events_rollup_partitioned",
    "limit_topk_global",
    "limit_topk_pruned",
    "table_snapshot_prune_read",
    "table_point_lookup_pruned",
    "table_delete_where",
    "table_delete_mor",
    "table_incremental_read",
    "table_changes_merge",
    "table_changes_append",
    "table_changes_feed",
    "table_changes_cursor",
    "table_changes_replace",
    "table_replace_overwrite",
    "table_partition_evolution",
    "upsert_merge_commit_only",
    "table_branch_write_read",
    "table_branch_head_read",
    "catalog_multi_table_txn",
    "table_changes_compacted",
    "join_skew_aqe",
    "fn_math_core",
    "llm_dedup_exact",
    "llm_similarity_topk",
    "llm_text_tokenize_tf",
    "llm_fingerprint",
    "stream_tumbling_window",
    "stream_tumbling_multibatch",
    "udf_pandas_vectorized",
]

RUNS = 5

# BENCH_RUNS_* files sit beside this script; tests point it elsewhere.
RUNS_DIR = os.path.dirname(os.path.abspath(__file__))


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_runs(fns: dict, n: int = RUNS) -> dict[str, list[tuple[float, object]]]:
    """One warm-up call of every callable in ``fns``, then ``n`` rounds
    of one timed call each, the order reversed on odd rounds so host
    drift lands on every callable alike. Returns, per name, the ``n``
    (wall-clock seconds, return value) pairs; the bench reports their
    min."""
    for fn in fns.values():
        fn()
    out: dict[str, list] = {name: [] for name in fns}
    names = list(fns)
    for i in range(n):
        for name in names if i % 2 == 0 else names[::-1]:
            t0 = time.perf_counter()
            res = fns[name]()
            out[name].append((time.perf_counter() - t0, res))
    return out


def setup(spark) -> dict:
    """Core count, master and driver heap of the live SparkContext."""
    sc = spark.sparkContext
    return {
        "cpus": sc.defaultParallelism,
        "master": sc.master,
        "heap": sc.getConf().get("spark.driver.memory", "1g"),
    }


def sf_tag(sf_dir: str) -> str:
    """The scale factor a corpus directory names: .../sf0.1 -> "0.1"."""
    return sf_dir.rstrip("/").rsplit("sf", 1)[-1]


def append_runs(doc: dict, sf_dir: str) -> tuple[str, int]:
    """Append one invocation ``doc`` (which names its ``metric``) to
    RUNS_DIR/BENCH_RUNS_sf<sf, dots as underscores>.json. Appending,
    not overwriting (VERDICT r7 item 6): the committed arrays of earlier
    invocations are what a reader compares against. Returns the path
    and the invocation count."""
    assert "metric" in doc, "every BENCH_RUNS invocation names its metric"
    path = os.path.join(RUNS_DIR, f"BENCH_RUNS_sf{sf_tag(sf_dir).replace('.', '_')}.json")
    env = {"invocations": []}
    if os.path.exists(path):
        try:
            with open(path) as f:
                prev = json.load(f)
            env = prev if "invocations" in prev else {"invocations": [prev]}
        except Exception:
            pass
    env["invocations"].append(doc)
    with open(path, "w") as f:
        json.dump(env, f, indent=1)
    return path, len(env["invocations"])


def duckdb_calibration(sf_dir: str) -> float:
    """Fixed DuckDB aggregate over the same corpus (min of 3): a
    HOST-SPEED anchor embedded in the bench line. The r7 driver run
    was uniformly 1.2-2.9x slower than local on identical code — a
    loaded machine, only diagnosable by git archaeology. With this
    anchor in the artifact, a slow host shows up as a proportionally
    slow calibration value and the per-query numbers can be read
    relative to it."""
    import duckdb

    con = duckdb.connect()
    q = (
        "SELECT l_returnflag, COUNT(*), SUM(l_quantity) FROM "
        f"'{sf_dir}/lineitem.parquet' GROUP BY 1"
    )
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute(q).fetchall()
        times.append(time.perf_counter() - t0)
    con.close()
    return round(min(times), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_tag(sf_dir)
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for key in HEADLINE:
        q = REGISTRY[key]
        # warm-up run builds file indexes / JIT; then timed runs
        timed = timed_runs({key: lambda: materialize(q.fn(spark, sf_dir))})[key]
        times = [s for s, _ in timed]
        results[key] = round(min(times), 3)
        runs[key] = [round(t, 3) for t in times]

    # The raw per-run timings let a reader separate host-noise spread
    # from a real regression without re-running (this VM shows
    # multi-second stalls; min is the noise-floor estimator, the
    # spread is the evidence). They go to a SIDE FILE, not the JSON
    # line: the round driver records only a bounded tail of stdout,
    # and r6's inline "runs" pushed the line past that window — the
    # driver archived BENCH_r06.json with parsed=null. The final line
    # must stay compact enough to survive a 2000-char tail.
    calib = duckdb_calibration(sf_dir)
    path, count = append_runs(
        {
            "metric": "headline_query_wall_clock_runs",
            "unit": "sec",
            "runs": runs,
            "sf": sf,
            "n": RUNS,
            "duckdb_calib_sec": calib,
        },
        sf_dir,
    )
    print(f"per-run timings appended to {path} (invocation {count})", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock_total",
                "value": round(sum(results.values()), 3),
                "unit": "sec",
                "queries": results,
                "sf": sf,
                "duckdb_calib_sec": calib,
                **setup(spark),
            }
        )
    )


if __name__ == "__main__":
    main()
