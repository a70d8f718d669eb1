"""Generate PLANS.md: annotated formatted physical plans for the
flagship queries — the '.explain and iterate' evidence, refreshed by
running this script.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from database_importer_spark import get_spark  # noqa: E402
from database_importer_spark.plans import REGISTRY  # noqa: E402

SF = "/root/testdata/sf0.001"

# the 16-hex corpus fingerprint in layout and snapshot-table names
# (``dbis_bkt_orders_<fp>_<tag>``): it changes with the corpus copy's
# path and mtimes, so PLANS.md masks it to stay stable across copies
_FINGERPRINT = re.compile(r"\b(dbis_(?:bkt|part|snap)_\w*?_)[0-9a-f]{16}(?=_)")


def mask_fingerprints(text: str) -> str:
    return _FINGERPRINT.sub(r"\1<fp>", text)

ANNOTATED = {
    "scan_parquet_pushdown": "Filters + 4-column projection reach the parquet scan (PushedFilters / ReadSchema).",
    "update_inner_join": "The merge: target scanned ONCE, never exchanged; update source broadcast (BuildRight). At 100 TB the big side only streams.",
    "upsert_merge_full": "Full upsert: broadcast update join + semi-then-anti insert — no Exchange of the target anywhere in the plan. r7: the source is no longer checkpointed (its parquet subplan is visible and shared through one broadcast; the LogicalRDD scans are gone), which also lets key-uniqueness validation memoize on the source's file fingerprint.",
    "join_broadcast_hash": "Star join: both dims broadcast, fact side unshuffled until the final partial+final aggregation.",
    "join_shuffle_sortmerge": "Large x large: both sides hash-partition on the join key; AQE re-plans at runtime.",
    "join_asof_nearest": "As-of via tagged-frame window over a window-aligned bucketed layout (r6): bucket key = the as-of partition key, in-bucket sort = (key, ts, side, tie) — ZERO exchange, ZERO sort, no range join, no cartesian.",
    "agg_hash_groupby": "TPC-H Q1: partial HashAggregate before the exchange (shuffle carries group partials, not rows).",
    "limit_topk_global": "Global top-k: TakeOrderedAndProject — per-task heaps, no global sort.",
    "limit_topk_pruned": "Zone-map twin (r7): footer-stats threshold pushed to the scan as GreaterThanOrEqual — row groups whose max is below the k-th candidate never decode; TakeOrderedAndProject over the survivors.",
    "llm_dedup_exact": "Dedup: aggregation on sha2 digest — the text payload never crosses the exchange.",
    "tpch_q5_local_supplier_volume": "Six-way join, selective-dim-first (r4): the ASIA supplier dim broadcasts and prunes lineitem BEFORE the orderkey exchange; nationkey residual is a post-join filter.",
    "tpch_q7_volume_shipping": "Dual nation aliases both broadcast; the disjunctive nation-pair predicate is a residual Filter, never a cartesian.",
    "join_skew_salted": "Salted skew join: join key includes __dbis_salt (hot keys spread over 16 tasks); merge hint keeps the shuffle path where salting matters.",
    "llm_cap_per_source": "Per-source cap: Window partitioned by source — no SinglePartition exchange anywhere.",
    "ts_resample_ohlc": "OHLC bars: one partial+final HashAggregate with min_by/max_by order statistics — no window, no sort.",
    "sort_multikey": "Distributed rank: range-partition + per-partition offsets — no single-task global window.",
    "llm_tfidf_cosine_pairs": "Sparse all-pairs cosine: documents meet ONLY through the term posting join (equi, df-pruned); dots/norms are exact integer partial aggregates; the sole nested-loop is the 1-row corpus-count broadcast.",
    "llm_similarity_ivf": "IVF ANN: centroid fan-out is a 16-row broadcast; assignment is a partial-agg argmax (no window over the corpus); candidates join equi on list id.",
    "llm_dedup_simhash": "SimHash band blocking: candidates from a (band, value) equi self-join — pigeonhole-complete at Hamming <= 3, no cross join.",
    "tpch_q21_waiting_suppliers": "EXISTS/NOT-EXISTS folded into one per-order aggregation chain (r4): pair-level max(is_late), order-level (n_supp, n_late, unique late supplier) — all reusing the join's orderkey partitioning, zero extra exchanges.",
    "cdc_apply_changelog": "CDC compaction: ONE scan emits per-row I/U/D version arrays (r4); partial max(struct(seq, op, price)) collapses versions map-side; one hash exchange on the key, no window.",
    "layout_zorder_cluster": "Z-order layout: the Morton key is pure integer codegen in the scan's Project; one partial+final aggregate produces the per-file skipping stats.",
    "llm_pack_greedy": "Token chunking: the bucket hash partition feeds BOTH the running-sum window and the audit aggregate — one exchange end to end.",
    "ts_sessionize_batch": "Sessionization: lag + running sum + session aggregate all share the user_id partition — one exchange, per-user local sorts, no global sort.",
    "sample_stratified_hash": "Stratified sample: the keep-predicate is stateless per-row codegen over the scan; the audit aggregate is the only exchange.",
    "join_bucketed_colocated": "Bucketed layout (r4): catalog bucketing satisfies the SMJ distribution — ZERO exchange under the join; the groupBy agg is the only shuffle in the plan. Late r4: sorted-bucket ordering reported (one file per bucket, test-pinned) so the merge is also sort-free.",
    "tpch_q3_bucketed": "Full Q3 over the shared orderkey-bucketed layout (late r4): broadcast dim preserves the bucketed distribution, the fact SMJ merges bucket-to-bucket sort-free, the groupBy keys contain the bucket key (no agg exchange), top-10 is TakeOrderedAndProject — ZERO wide exchange end-to-end.",
    "tpch_q5_bucketed": "Q5 over the same layout (late r4): selective-dim-first pruning + bucket-riding SMJ + 2-column customer broadcast leave exactly ONE hash exchange — the 5-row n_name aggregate.",
    "agg_hash_groupby_double": "Q1 on the native-double path (r4): floor-quantized integer cents, plain partial+final hash agg, no Expand, no decimal accumulators.",
    "agg_count_distinct": "Exact distinct WITHOUT Expand (r4): manual two-level pre-aggregate on (group, key) then count — no row duplication before the shuffle.",
    "llm_text_tokenize_tf": "Term frequencies collapse duplicate texts FIRST (r4): the exchange carries each distinct text once; explode volume scales with distinct content.",
    "upsert_merge_bucketed": "Single-pass MERGE (r5): ONE full-outer SMJ over the bucketed layout arbitrates update/keep/insert — the target scans once, exchange-free and sort-free; only the batch shuffles+sorts.",
    "win_running_sum_bucketed": "Window-aligned layout (r5): bucket key = PARTITION BY, in-bucket sort = partition+ORDER BY — the window runs straight off the scan: ZERO exchange, ZERO sort, fully pipelined.",
    "agg_events_rollup_partitioned": "Date-partitioned events layout (r5): the range filter prunes whole day directories at plan time (PartitionFilters); day feeds the groupBy from the layout — scan cost ∝ queried range.",
    "upsert_merge_delta_rows": "Delta-output merge (r6): only the rows the MERGE writes — updated images via an inner broadcast probe, inserts via a semi-probe of the batch (a second, key-pruned broadcast) then anti; the target streams through hash probes, nothing target-sized shuffles or is emitted.",
    "tpch_q6_partitioned": "Q6 over the ship-year-partitioned, shipdate-range-clustered lineitem layout (r6): PartitionFilters prune 6/7 of the corpus at plan time; the residual range predicate prunes pages via the clustering's sharp min/max stats.",
    "scd2_versioned_merge": "SCD2 merge (r6 hardening): three explicit broadcast joins (left_outer close/carry + key semi-probe of the updates, a second key-pruned broadcast + anti for brand-new keys) — the dimension NEVER shuffles; a full-outer broadcast hint could never bind.",
    "profile_numeric_stats_pushdown": "Footer-stats profiler (r7): the whole MIN/MAX/COUNT aggregate pushed into the V2 parquet scan (PushedAggregation) — answered from row-group footer statistics, zero data pages decoded.",
    "agg_count_distinct_bucketed": "Distinct over the custkey-bucketed layout (r8): hashpartitioning(custkey) satisfies the inner GROUP BY (priority, custkey) outright — the pair collapse runs IN PLACE off the scan; the only exchange carries 5 priority groups.",
    "upsert_merge_partitioned": "Month-granular snapshot-table MERGE, COMMIT frame: the same commit as upsert_merge_snapshot on a files=84 table (about one month per file), so the manifest-pruned scan reads only the file(s) holding the touched month; the batch broadcasts through the two-arm merge, its first non-key column wrapped in the touched-set check (a raise_error projection).",
    "upsert_merge_snapshot": "Snapshot-table MERGE (r8), COMMIT frame: the base enters through a MANIFEST-pruned explicit file list (only files whose stats range overlaps the touched months — pruned driver-side before the engine lists anything), the batch broadcasts through the two-arm merge, and the commit is an atomic manifest link; no SortMergeJoin, no hash exchange anywhere.",
    "table_snapshot_prune_read": "Manifest file pruning (r8): the scan's file list is resolved driver-side from the snapshot manifest's per-file partition min/max — the engine receives 1-2 files of the month, not the table; the residual exact filter trims range-boundary files.",
    "table_delete_mor": "Merge-on-read equality delete (r8): the final-state read applies the delete file as a BROADCAST left-anti join on the key — the 15M-row data side never shuffles; files newer than every delete (seq) scan with no anti-join at all.",
    "table_incremental_read": "Incremental append scan (r8): the scan's file list is the MANIFEST DIFF of the version range — only the files the append commits added; untouched history is never listed, so catch-up cost is ∝ delta, not table.",
    "table_changes_merge": "Change data feed of a MERGE commit (r10): the cdc table is cdf=True, so the commit MATERIALIZED its row delta as change files at write time — the read is a PLAIN SCAN of them plus a literal version column: zero Exchange, zero Join (the r8/r9 digest diff remains as the fallback for non-cdf commits and is plan-pinned in tests).",
    "table_point_lookup_pruned": "Secondary-key file pruning (r9): the scan's file list is pruned DRIVER-SIDE by the manifest's per-column key stats (Iceberg per-column stats on a key-clustered sort order) — 1-2 of 64 files reach the engine; the BETWEEN residual is pushed to the scan and row-group-prunes inside them. Zero Exchange.",
    "table_changes_append": "CDF degenerate fast path (r9): a pure-append step plans as a PLAIN SCAN of the commit's added files plus literal insert/version columns — no diff, no join, no Exchange; the append-dominated production feed costs exactly the incremental scan.",
    "table_changes_cursor": "CDF subscribe/resume (r10), converged warm path: cursor and catalog resolve driver-side from tiny ref/manifest json; the returned frame is the replica's immutable head read — a plain manifest-listed scan, zero Exchange (the apply itself is the merge keys' broadcast shape and runs once per change range).",
    "table_changes_replace": "CDF over a REPLACE commit (r10): drop+insert by op-tag contract — old files scan as 'delete' rows, new files as 'insert' rows, a two-armed union of plain scans with literal columns; no diff machinery (diffing a replace WOULD be a table scan).",
    "table_partition_evolution": "Partition-spec evolution (r10): the read plans over the manifest-pruned file list ACROSS the spec boundary (old files prune via migrated per-column stats, new files via first-class year stats) — a plain pruned scan plus the residual year filter; the evolution commit itself is pure metadata.",
    "table_replace_overwrite": "Atomic full-content REPLACE (r10): the post-replace read is a plain scan of the replacement files only — parents left the manifest by identity; zero Exchange.",
    "table_changes_compacted": "Change-file compaction (r11): the v0→v4 feed read resolves the sidecar changelog entry driver-side and plans ONE scan of the consolidated range-clustered file set (version filter pushed to the scan; per-commit small files never opened); the compaction step itself is skipped by op-tag contract.",
    "table_cursor_lag": "Consumer-group lag metrics (r11): pure manifest arithmetic on the driver — the plan is a local scan of the computed rows; zero input files, zero Exchange, no job touches data at any table size.",
    "catalog_multi_table_txn": "Multi-table catalog transaction (r11), converged read: catalog entry resolves driver-side; the consistency frame joins the summary table's manifest-listed scan to a rollup of the detail table's manifest-listed scan at the catalog-pinned versions — broadcastable 80-row summary side, partial+final agg on the detail.",
    "join_skew_aqe": "AQE skew-split demo (r11; opt-r11 strategy change): plan-time this is a SHUFFLED-HASH join on the deliberately hot key (dim-slice build, no sorts — guide §3.1) with broadcast disabled; AT RUNTIME AQE splits the hot partition at map-output boundaries into data-sized slices — ShuffledHashJoin(skew=true) appears in the FINAL adaptive plan (pinned by execution in tests/test_plans.py, not in this static dump).",
}


def main() -> None:
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical plans of the flagship queries",
        "",
        "Generated by `tools/dump_plans.py` (sf0.001 inputs; plan shape is",
        "scale-independent). Trees only; `(n)` detail sections elided.",
        "These shapes are frozen as assertions in `tests/test_plans.py`.",
        "",
    ]
    # upsert_merge_snapshot and upsert_merge_partitioned commit, then
    # return the full readback; freeze each one's pre-write commit
    # frame (manifest-pruned file-list scan + broadcast arms).
    def _snap_prewrite(name):
        from database_importer_spark.operators.snapshot_table import (
            merge_snapshot_prewrite,
        )
        from database_importer_spark.plans.part_a import (
            _pm_month_of,
            _snap_batch_touched,
            _snap_table,
        )

        def prewrite(spark, sf_dir):
            loc = _snap_table(spark, sf_dir, name, upto=0)
            batch, touched = _snap_batch_touched(spark, sf_dir)
            return merge_snapshot_prewrite(
                spark, loc, batch, ["o_orderkey"], _pm_month_of, touched
            )[0]

        return prewrite

    special = {
        "upsert_merge_partitioned": _snap_prewrite("pm"),
        "upsert_merge_snapshot": _snap_prewrite("upsert"),
    }
    for key, note in ANNOTATED.items():
        df = special.get(key, REGISTRY[key].fn)(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        tree = plan.split("\n\n")[0]
        pushed = [
            l.strip()
            for l in plan.splitlines()
            if "PushedFilters" in l and "[]" not in l
        ]
        out.append(f"## `{key}`")
        out.append("")
        out.append(note)
        out.append("")
        out.append("```")
        out.append(tree)
        for p in pushed[:3]:
            out.append(p[:120])
        out.append("```")
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(mask_fingerprints("\n".join(out)))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
