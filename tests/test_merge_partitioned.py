"""Partition-scoped MERGE (upsert_merge_partitioned) — the plan,
filesystem, idempotence, and fenced-exception pins (VERDICT r7 #1).

The key's correctness (full final-state hash vs the SQL oracle) is
covered by the driver/check_oracles sweep; these tests pin the SHAPE
claims the docstring makes:
- the write job's scan is partition-pruned (PartitionFilters, no
  full-table read for the write);
- untouched partition directories are never rewritten (byte-level:
  same files, same mtimes);
- the merge is idempotent (re-applying the batch converges);
- the touched-partition collect is a memoized bounded exception
  (zero jobs on rebuild), same class as the similarity ingestion.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from database_importer_spark.plans import REGISTRY  # noqa: E402
from database_importer_spark.plans.part_a import (  # noqa: E402
    _pm_batch_df,
    _pm_month_of,
    _pm_parts,
)

SF = "/root/testdata/sf0.001"

KEY = "upsert_merge_partitioned"


def _partition_state(loc):
    """{partition dir name: {file name: mtime_ns}} for the layout."""
    state = {}
    for d in sorted(os.listdir(loc)):
        full = os.path.join(loc, d)
        if not os.path.isdir(full):
            continue
        state[d] = {
            f: os.stat(os.path.join(full, f)).st_mtime_ns
            for f in os.listdir(full)
        }
    return state


def test_merge_scan_is_partition_pruned(spark):
    """The pre-write merged frame must read ONLY the touched
    partitions — directory-scoped listing (the live table's untouched
    dirs are never even listed), and no shuffle anywhere (broadcast
    batch arms)."""
    loc, schema, out, touched = _pm_parts(spark, SF)
    assert touched == [199703]
    live_files = [f for f in out.inputFiles() if "/o_month=" in f]
    assert live_files, "merged frame reads no live-table partitions"
    assert all("/o_month=199703/" in f for f in live_files), (
        "write-job input lists untouched partitions: "
        f"{[f for f in live_files if '/o_month=199703/' not in f][:3]}"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the 100 TB shape: batch broadcasts, the table side never shuffles
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_untouched_partitions_never_rewritten(spark):
    """Byte-level commit-scope pin: after one converging run, a second
    invocation must leave every untouched partition's files (names AND
    mtimes) identical, while the touched month IS rewritten (dynamic
    overwrite replaces its files)."""
    REGISTRY[KEY].fn(spark, SF).collect()  # converge + locate layout
    loc, _, _, _ = _pm_parts(spark, SF)
    before = _partition_state(loc)
    REGISTRY[KEY].fn(spark, SF).collect()
    after = _partition_state(loc)
    assert set(before) == set(after)  # no partition appears/vanishes
    touched = "o_month=199703"
    assert touched in before
    for d in before:
        if d == touched:
            assert before[d] != after[d], "touched partition not rewritten"
        else:
            assert before[d] == after[d], f"untouched partition {d} rewritten"


def test_merge_is_idempotent(spark):
    """Re-applying the same batch must converge: two invocations
    return identical full-table states (inserts become same-value
    updates on the second pass)."""

    def run():
        rows = REGISTRY[KEY].fn(spark, SF).collect()
        return sorted(rows, key=lambda r: (r.o_orderkey,))

    assert run() == run()


def test_touched_partitions_collect_is_memoized(spark):
    """The touched-partition set is the registry's third fenced
    driver-side exception (with the similarity ingestion and the
    zone-map peek): ONE bounded job, memoized per (session, live
    table) — recomputing it must launch zero Spark jobs."""
    from database_importer_spark.operators.merge_partitioned import (
        touched_partitions,
    )

    batch = _pm_batch_df(spark, SF)
    memo_key = ("audit_pm_touched", SF)
    st = spark.sparkContext.statusTracker()
    first = touched_partitions(spark, batch, _pm_month_of(batch), memo_key)
    before = set(st.getJobIdsForGroup())
    second = touched_partitions(spark, batch, _pm_month_of(batch), memo_key)
    after = set(st.getJobIdsForGroup())
    assert after == before, "memoized touched-set recompute ran a job"
    assert first == second == [199703]


def test_live_table_is_process_scoped_and_gcs_dead_siblings(spark):
    """The live table is process-scoped (concurrent sweeps sharing one
    mutable table raced: a peer's dynamic-overwrite commit deleted
    files this process had already planned over — caught by the first
    parallel cpus7+sf0.01 sweep). The loc must embed our pid, and a
    sibling table left by a DEAD process must be garbage-collected on
    first build while a live peer's table is left alone."""
    from database_importer_spark.cache import memo

    loc, _, _, _ = _pm_parts(spark, SF)
    assert f"_p{os.getpid()}_" in os.path.basename(loc)

    wh, ours = os.path.split(loc)
    # siblings named exactly like ours, save the owning pid
    dead = os.path.join(wh, ours.replace(f"_p{os.getpid()}_", "_p999999999_"))
    os.makedirs(dead, exist_ok=True)
    alive = os.path.join(wh, ours.replace(f"_p{os.getpid()}_", "_p1_"))
    os.makedirs(alive, exist_ok=True)  # pid 1 (init) is always alive
    # force the ensure path to run its GC sweep (fresh memo + no
    # _SUCCESS check short-circuit for OUR table is fine — GC runs
    # before the lock when the table is missing; use a fresh owner)
    ensured = memo("ensure")
    for k in [k for k in list(ensured) if k[0] == "live" and k[1] == "upsert_pm"]:
        ensured.pop(k, None)
    import shutil

    shutil.rmtree(loc, ignore_errors=True)
    loc2, _, _, _ = _pm_parts(spark, SF)
    assert loc2 == loc
    assert not os.path.exists(dead), "dead-pid sibling not collected"
    assert os.path.exists(alive), "live peer's table was deleted"
    shutil.rmtree(alive, ignore_errors=True)


def test_null_partition_value_rejected(spark):
    """Merge contract: every batch row must map to a concrete target
    partition — a NULL partition value is a named error, not a silent
    __HIVE_DEFAULT_PARTITION__ write the touched-set pruning would
    miss."""
    from pyspark.sql import functions as F

    from database_importer_spark.operators.merge_partitioned import (
        touched_partitions,
    )

    batch = spark.createDataFrame(
        [(1, None)], "o_orderkey bigint, o_month int"
    )
    with pytest.raises(ValueError, match="NULL partition value"):
        touched_partitions(
            spark, batch, F.col("o_month"), ("audit_pm_null", SF)
        )
