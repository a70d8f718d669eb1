"""Snapshot table (operators/snapshot_table.py) — protocol pins.

The declared keys' correctness (full-state hash vs the SQL oracles) is
covered by the check_oracles sweep; these tests pin the PROTOCOL
claims the module makes:
- commits are copy-on-write: untouched files are carried by IDENTITY
  into the child manifest and never deleted or rewritten;
- time travel: every historical version stays byte-exact after
  mutation;
- snapshot isolation: a reader planned over version N collects
  correctly AFTER a concurrent commit (the FAILED_READ_FILE class the
  dynamic-overwrite table had to be process-scoped for is structurally
  impossible here);
- optimistic concurrency: a writer that loses the version race
  retries against the winner's state, cleans up its orphan files, and
  lands the correct content — for every commit op, all of which run
  through the one commit driver; the retries are bounded;
- manifest pruning: a partition-scoped read hands the engine strictly
  fewer files (inputFiles pin), metadata-only;
- vacuum retires exactly the unreferenced history and nothing the
  retained versions need.
"""

import ast
import glob
import os
import sys
import threading
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from database_importer_spark.operators import snapshot_table as st  # noqa: E402
from database_importer_spark.plans import REGISTRY  # noqa: E402

SF = "/root/testdata/sf0.001"


def _mk_table(spark, tmp_path, n=40):
    """Synthetic table: k (key), val, m = k // 10 (partition col)."""
    loc = str(tmp_path / "tbl")

    def src():
        df = spark.range(n).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
        return df.withColumn("m", F.floor(F.col("k") / 10).cast("int"))

    v = st.create_snapshot_table(spark, loc, src, "m", "k", files=4)
    assert v == 0
    return loc


def _part_of(df):
    return F.floor(F.col("k") / 10).cast("int")


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k int, val string")


def _state(spark, loc, version=None):
    df = st.read_snapshot(spark, loc, version=version)
    return {r["k"]: (r["val"], r["m"]) for r in df.collect()}


def test_create_and_read_roundtrip(spark, tmp_path):
    loc = _mk_table(spark, tmp_path)
    got = _state(spark, loc)
    assert len(got) == 40
    assert got[7] == ("v7", 0) and got[35] == ("v35", 3)
    # idempotent create: second call is a no-op returning the version
    assert st.create_snapshot_table(spark, loc, None, "m") == 0


def test_merge_commit_is_copy_on_write(spark, tmp_path):
    loc = _mk_table(spark, tmp_path)
    m0 = st.load_manifest(loc, 0)
    batch = _batch(spark, [(15, "UPD"), (105, "NEW")])  # months 1, 10
    v = st.merge_snapshot_commit(
        spark, loc, batch, ["k"], _part_of, touched=[1, 10]
    )
    assert v == 1
    m1 = st.load_manifest(loc, 1)
    f0 = {e["path"] for e in m0["files"]}
    f1 = {e["path"] for e in m1["files"]}
    untouched0 = {
        e["path"] for e in m0["files"] if not (e["min"] <= 1 <= e["max"])
    }
    # untouched files carried by IDENTITY; touched files replaced
    assert untouched0 <= f1
    assert f1 - f0  # new files exist
    # nothing was deleted: every v0 file is still on disk
    for p in f0:
        assert os.path.exists(os.path.join(loc, p))
    got = _state(spark, loc)
    assert got[15] == ("UPD", 1) and got[105] == ("NEW", 10)
    assert got[16] == ("v16", 1) and len(got) == 41


def test_merge_of_wider_batch_keeps_version_readable(spark, tmp_path):
    """A bigint batch merged into an int column is written as int: the
    committed files match the manifest schema, so the new version reads
    back (a widened file fails the read with a parquet type mismatch)."""
    loc = str(tmp_path / "tbl")

    def src():
        return spark.range(20).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("int").alias("qty"),
            F.floor(F.col("id") / 10).cast("int").alias("m"),
        )

    st.create_snapshot_table(spark, loc, src, "m", "k", files=2)
    batch = spark.createDataFrame(
        [(5, 500), (15, 1500), (25, 2500)], "k bigint, qty bigint"
    )
    v = st.merge_snapshot_commit(
        spark, loc, batch, ["k"], _part_of, touched=[0, 1, 2]
    )
    assert v == 1
    got = {
        r["k"]: r["qty"] for r in st.read_snapshot(spark, loc).collect()
    }
    assert len(got) == 21
    assert got[5] == 500 and got[15] == 1500 and got[25] == 2500
    assert got[6] == 6


def _part_of_val(df):
    """A partition function of a nullable batch column."""
    return F.when(F.col("val").isNotNull(), F.floor(F.col("k") / 10)).cast("int")


@pytest.mark.parametrize(
    "rows,part_of,anchored",
    [
        ([(15, "UPD15"), (25, "UPD25")], _part_of, False),
        ([(15, "UPD15"), (25, "UPD25")], _part_of, True),
        ([(15, "UPD15"), (25, None)], _part_of_val, False),
    ],
    ids=["outside", "outside_validated_file_batch", "null_partition"],
)
def test_merge_raises_on_batch_row_outside_touched(
    spark, tmp_path, rows, part_of, anchored
):
    """Merging key 25 with ``touched=[1]`` would miss the file holding
    it and insert it a second time. The write raises instead, also for
    a NULL partition value, and nothing is published: no version, no
    commit dir. The file-anchored batch is first merged with its full
    touched set, so its key validation is memoized and the check must
    fire in the write job."""
    loc = _mk_table(spark, tmp_path)
    batch = _batch(spark, rows)
    if anchored:
        batch.write.parquet(str(tmp_path / "batch"))
        batch = spark.read.parquet(str(tmp_path / "batch"))
        st.merge_snapshot_commit(spark, loc, batch, ["k"], part_of, [1, 2])
    head = st.latest_version(loc)
    dirs = sorted(os.listdir(os.path.join(loc, "data")))
    with pytest.raises(Exception, match="outside the touched set"):
        st.merge_snapshot_commit(spark, loc, batch, ["k"], part_of, [1])
    assert st.latest_version(loc) == head
    assert sorted(os.listdir(os.path.join(loc, "data"))) == dirs
    assert _state(spark, loc)[15][0] == ("UPD15" if anchored else "v15")


def _jobs_during(spark, fn):
    """(result, Spark jobs launched while ``fn`` ran)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup()) - before)


def _pandas_batch(spark, rows):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "val"]), "k int, val string"
    )


def test_warm_in_memory_merge_commit_job_budget(spark, tmp_path):
    """A warm merge commit of an in-memory batch checks its keys on the
    driver: the commit runs the write's jobs only (6 here, at most 7
    allowed; with the key-check aggregate it ran 9)."""
    loc = _mk_table(spark, tmp_path)
    for i, rows in enumerate(([(5, "a"), (15, "b")], [(6, "c"), (16, "d"), (105, "e")])):
        v, jobs = _jobs_during(
            spark,
            lambda: st.merge_snapshot_commit(
                spark, loc, _pandas_batch(spark, rows), ["k"], _part_of, [0, 1, 10]
            ),
        )
        assert v == i + 1
    assert jobs <= 7, jobs
    got = _state(spark, loc)
    assert got[16] == ("d", 1) and got[105] == ("e", 10) and len(got) == 41


def test_duplicate_keyed_in_memory_batch_publishes_nothing(spark, tmp_path):
    """The driver-side key check still fails the commit on a duplicate
    key, before anything is written: no version, no commit dir."""
    from database_importer_spark.operators.merge import MergerError

    loc = _mk_table(spark, tmp_path)
    head = st.latest_version(loc)
    dirs = sorted(os.listdir(os.path.join(loc, "data")))
    batch = _pandas_batch(spark, [(15, "a"), (15, "b"), (25, "c")])
    with pytest.raises(MergerError, match="duplicate values"):
        st.merge_snapshot_commit(spark, loc, batch, ["k"], _part_of, [1, 2])
    assert st.latest_version(loc) == head
    assert sorted(os.listdir(os.path.join(loc, "data"))) == dirs


def test_read_of_many_files_plans_without_listing_job(spark, tmp_path):
    """A read over more files than Spark's parallel-discovery threshold
    (32) plans with no Spark job: the manifest already names the files,
    so they are not listed again. The plan then reads every row."""
    loc = str(tmp_path / "tbl40")

    def src():
        return spark.range(400).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") % 40).cast("int").alias("m"),
        )

    st.create_snapshot_table(spark, loc, src, "m", "k", files=40)
    assert len(st.load_manifest(loc, 0)["files"]) == 40
    st.read_snapshot(spark, loc)  # first plan of the session pays warm-up
    df, jobs = _jobs_during(spark, lambda: st.read_snapshot(spark, loc))
    assert jobs == 0
    assert len(df.inputFiles()) == 40
    assert sorted(r["k"] for r in df.collect()) == list(range(400))


def test_time_travel_after_commits(spark, tmp_path):
    loc = _mk_table(spark, tmp_path)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "A")]), ["k"], _part_of, touched=[0]
    )
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "B")]), ["k"], _part_of, touched=[0]
    )
    assert _state(spark, loc, 0)[5] == ("v5", 0)
    assert _state(spark, loc, 1)[5] == ("A", 0)
    assert _state(spark, loc, 2)[5] == ("B", 0)


def test_snapshot_reader_survives_concurrent_commit(spark, tmp_path):
    """The FAILED_READ_FILE pin: plan over version 0, commit a merge
    that rewrites its month, THEN collect the old plan — snapshot
    isolation means the old files still exist and the read returns
    the version-0 content."""
    loc = _mk_table(spark, tmp_path)
    old_reader = st.read_snapshot(spark, loc, version=0)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "MUT")]), ["k"], _part_of, touched=[0]
    )
    got = {r["k"]: r["val"] for r in old_reader.collect()}
    assert got[5] == "v5" and len(got) == 40


def _peer_wins(monkeypatch, times):
    """Make a peer claim the version this process is about to publish,
    ``times`` times: a pure-metadata commit of the parent's state lands
    first. Returns (versions lost, the commit dirs this process had
    written for each lost version when it lost)."""
    real = st._publish_manifest
    lost, written = [], []

    def racing(loc_, manifest):
        v = manifest["version"]
        if len(lost) < times:
            parent = st.load_manifest(loc_, v - 1)
            peer = {k: x for k, x in parent.items() if k != "changes"}
            real(
                loc_,
                {**peer, "version": v, "parent": v - 1, "commit": {"op": "peer"}},
            )
            lost.append(v)
            written.append(_attempt_dirs(loc_, v))
        real(loc_, manifest)

    monkeypatch.setattr(st, "_publish_manifest", racing)
    return lost, written


def _attempt_dirs(loc, version):
    """Commit dirs this process wrote for ``version`` (any prefix/slice)."""
    pat = os.path.join(loc, "data", f"*{version:08d}_{os.getpid()}*")
    return sorted(os.path.basename(d) for d in glob.glob(pat))


def _table_rows(spark, lo, n):
    df = spark.range(lo, lo + n).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("a"), F.col("id")).alias("val"),
    )
    return df.withColumn("m", F.floor(F.col("k") / 10).cast("int"))


def _consolidated_at(spark, loc, v):
    """The one changelog entry covers the chain's v1, v2 at commit v."""
    (entry,) = st.changelog_entries(loc)
    return entry["commit_version"] == v and entry["covers"] == [1, 2]


# op -> (table setup, the commit, content check, commit dirs it writes)
_RACE_OPS = {
    "merge": (
        lambda spark, tmp: _mk_table(spark, tmp),
        lambda spark, loc: st.merge_snapshot_commit(
            spark, loc, _batch(spark, [(15, "UPD")]), ["k"], _part_of, [1]
        ),
        lambda spark, loc, v: _state(spark, loc)[15] == ("UPD", 1),
        1,
    ),
    "merge_cdf": (
        lambda spark, tmp: _cdf_chain(spark, tmp),
        lambda spark, loc: st.merge_snapshot_commit(
            spark, loc, _batch(spark, [(3, "u3")]), ["k"], _part_of, [0]
        ),
        lambda spark, loc, v: _state(spark, loc)[3] == ("u3", 0)
        and bool(st.load_manifest(loc, v)["changes"]),
        2,
    ),
    "evolve_schema": (
        lambda spark, tmp: _mk_table(spark, tmp),
        lambda spark, loc: st.evolve_snapshot_schema(
            spark, loc, [("note", "string")]
        ),
        lambda spark, loc, v: "note" in st.read_snapshot(spark, loc).columns,
        0,
    ),
    "append": (
        lambda spark, tmp: _mk_table(spark, tmp),
        lambda spark, loc: st.append_snapshot_commit(
            spark, loc, _table_rows(spark, 100, 5)
        ),
        lambda spark, loc, v: set(_state(spark, loc))
        == set(range(40)) | set(range(100, 105)),
        1,
    ),
    "delete_where": (
        lambda spark, tmp: _mk_table(spark, tmp),
        lambda spark, loc: st.delete_where_commit(
            spark, loc, 1, 1, row_pred=lambda df: F.col("k") % 2 == 0
        ),
        lambda spark, loc, v: set(_state(spark, loc))
        == set(range(40)) - {10, 12, 14, 16, 18},
        3,
    ),
    "delete_keys": (
        lambda spark, tmp: _mk_table(spark, tmp),
        lambda spark, loc: st.delete_keys_commit(
            spark, loc, spark.createDataFrame([(5,), (35,)], "k int"), ["k"]
        ),
        lambda spark, loc, v: set(_state(spark, loc)) == set(range(40)) - {5, 35},
        1,
    ),
    "compact": (
        lambda spark, tmp: _mk_table(spark, tmp),
        lambda spark, loc: st.compact_snapshot_commit(spark, loc, files=2),
        lambda spark, loc, v: _state(spark, loc) == _state(spark, loc, 0)
        and st.load_manifest(loc, v)["commit"]["op"] == "compact",
        1,
    ),
    "compact_changes": (
        lambda spark, tmp: _cdf_chain(spark, tmp),
        lambda spark, loc: st.compact_changes_commit(spark, loc, 0, 2),
        _consolidated_at,
        1,
    ),
    "replace": (
        lambda spark, tmp: _mk_table(spark, tmp),
        lambda spark, loc: st.replace_snapshot_commit(
            spark, loc, _table_rows(spark, 200, 8)
        ),
        lambda spark, loc, v: set(_state(spark, loc)) == set(range(200, 208)),
        1,
    ),
    "evolve_partition_spec": (
        lambda spark, tmp: _mk_table(spark, tmp),
        lambda spark, loc: st.evolve_partition_spec(spark, loc, "k"),
        lambda spark, loc, v: st.load_manifest(loc, v)["part_col"] == "k"
        and len(_state(spark, loc)) == 40,
        0,
    ),
}


def _manifest_paths(m):
    """Every file path a manifest names: data, delete, change files and
    a consolidation commit's files."""
    named = [e for k in ("files", "deletes", "changes") for e in m.get(k, [])]
    named += (m.get("commit") or {}).get("files", [])
    return [e["path"] for e in named]


@pytest.mark.parametrize("op", list(_RACE_OPS))
def test_optimistic_conflict_retries_and_cleans_orphans(
    spark, tmp_path, monkeypatch, op
):
    """Each commit op loses v{N+1} to a peer once: it lands v{N+2}
    with the expected content, removes exactly the commit dirs its
    losing attempt wrote, and its manifest names only live files."""
    setup, commit, check, n_dirs = _RACE_OPS[op]
    loc = setup(spark, tmp_path)
    n = st.latest_version(loc)
    lost, written = _peer_wins(monkeypatch, times=1)
    v = commit(spark, loc)
    assert lost == [n + 1] and v == n + 2
    assert len(written[0]) == n_dirs  # the losing attempt did write...
    assert _attempt_dirs(loc, n + 1) == []  # ...and cleaned all of it
    assert check(spark, loc, v)
    m = st.load_manifest(loc, v)
    assert m["parent"] == n + 1
    for p in _manifest_paths(m):
        assert os.path.exists(os.path.join(loc, p)), p


def test_commit_retries_are_bounded(spark, tmp_path, monkeypatch):
    """A peer that wins every attempt: the commit gives up with
    RuntimeError after exactly _COMMIT_ATTEMPTS attempts and leaves no
    commit dir of this process behind (only the table's own v0)."""
    loc = _mk_table(spark, tmp_path)
    lost, written = _peer_wins(monkeypatch, times=10 * st._COMMIT_ATTEMPTS)
    with pytest.raises(RuntimeError, match="lost the optimistic-commit race"):
        st.append_snapshot_commit(spark, loc, _table_rows(spark, 100, 5))
    assert lost == list(range(1, st._COMMIT_ATTEMPTS + 1))
    assert all(len(w) == 1 for w in written)
    assert os.listdir(os.path.join(loc, "data")) == [f"c{0:08d}_{os.getpid()}"]


def test_changelog_publish_numbers_past_retired_entries(tmp_path):
    """Retiring a changelog entry that is not the newest must not
    live-lock the next publish: entries number from the highest one,
    not from the entry count."""
    loc = str(tmp_path / "tbl")
    st._publish_changelog_entry(loc, {"n": 0})
    st._publish_changelog_entry(loc, {"n": 1})
    os.unlink(os.path.join(loc, "_changelog", "e00000000.json"))
    t = threading.Thread(
        target=st._publish_changelog_entry, args=(loc, {"n": 2}), daemon=True
    )
    t.start()
    t.join(timeout=10)
    assert not t.is_alive(), "changelog publish is spinning"
    assert os.path.exists(os.path.join(loc, "_changelog", "e00000002.json"))
    assert [e["n"] for e in st.changelog_entries(loc)] == [1, 2]


_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "database_importer_spark",
)


def _publish_guard_violations(sources: dict[str, str]) -> list[str]:
    """The commit protocol has ONE link(2) publish and no per-op retry
    budget: ``os.link(`` exactly once in the package, ``max_attempts``
    nowhere."""
    links = [
        rel for rel, src in sources.items() for _ in range(src.count("os.link("))
    ]
    out = [] if len(links) == 1 else [f"os.link( in {links}, want exactly one"]
    return out + [
        f"{rel}: max_attempts"
        for rel, src in sources.items()
        if "max_attempts" in src
    ]


def _package_sources() -> dict[str, str]:
    out = {}
    for dp, _d, fs in os.walk(_PKG):
        for f in fs:
            if f.endswith(".py"):
                path = os.path.join(dp, f)
                with open(path) as fh:
                    out[os.path.relpath(path, _PKG)] = fh.read()
    return out


def test_one_link_publish_and_no_retry_budget_parameter():
    assert _publish_guard_violations(_package_sources()) == []


def test_publish_guard_flags_seeded_second_link():
    seeded = {
        **_package_sources(),
        "operators/x.py": (
            "import os\n"
            "def publish(tmp, final, max_attempts=5):\n"
            "    os.link(tmp, final)\n"
        ),
    }
    got = _publish_guard_violations(seeded)
    assert len(got) == 2
    assert "want exactly one" in got[0] and "operators/x.py" in got[0]
    assert got[1] == "operators/x.py: max_attempts"


def _distinct_collect_sites(src: str) -> list:
    """The enclosing function name of every ``.distinct().collect()``."""
    out = []

    def visit(node, func):
        if isinstance(node, ast.FunctionDef):
            func = node.name
        f = getattr(node, "func", None)
        if (
            isinstance(f, ast.Attribute)
            and f.attr == "collect"
            and isinstance(getattr(f.value, "func", None), ast.Attribute)
            and f.value.func.attr == "distinct"
        ):
            out.append(func)
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(src), None)
    return out


def _imports_merge_partitioned(src: str) -> bool:
    names = []
    for n in ast.walk(ast.parse(src)):
        if isinstance(n, ast.ImportFrom):
            names.append(n.module or "")
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            names += [a.name for a in n.names]
    return any(x.split(".")[-1] == "merge_partitioned" for x in names)


def _cow_table_violations(sources: dict[str, str]) -> list[str]:
    """One copy-on-write table protocol: no dynamic-overwrite merge
    module, no import of it, partitionOverwriteMode only in the
    standalone sink demo, no process-scoped live tables, and one
    touched-set collect (``touched_partitions``)."""
    out = []
    for rel, src in sorted(sources.items()):
        if os.path.basename(rel) == "merge_partitioned.py":
            out.append(f"{rel}: merge_partitioned module")
        if _imports_merge_partitioned(src):
            out.append(f"{rel}: imports merge_partitioned")
        if "partitionOverwriteMode" in src and rel != "plans/relational.py":
            out.append(f"{rel}: partitionOverwriteMode")
        if "dbis_live_" in src:
            out.append(f"{rel}: dbis_live_")
        out += [
            f"{rel}: distinct().collect() in {func}"
            for func in _distinct_collect_sites(src)
            if (rel, func) != ("operators/snapshot_table.py", "touched_partitions")
        ]
    return out


def test_one_copy_on_write_table_protocol():
    assert _cow_table_violations(_package_sources()) == []


def test_cow_guard_flags_seeded_dynamic_overwrite_merge():
    seeded = {
        **_package_sources(),
        "operators/merge_partitioned.py": (
            "def commit(spark, out, loc):\n"
            "    spark.conf.set('spark.sql.sources.partitionOverwriteMode',"
            " 'dynamic')\n"
            "    out.write.mode('overwrite').parquet(loc + '/dbis_live_t')\n"
            "def touched(batch, part):\n"
            "    return [r[0] for r in batch.select(part).distinct().collect()]\n"
        ),
        "plans/x.py": (
            "from database_importer_spark.operators import merge_partitioned\n"
        ),
    }
    assert _cow_table_violations(seeded) == [
        "operators/merge_partitioned.py: merge_partitioned module",
        "operators/merge_partitioned.py: partitionOverwriteMode",
        "operators/merge_partitioned.py: dbis_live_",
        "operators/merge_partitioned.py: distinct().collect() in touched",
        "plans/x.py: imports merge_partitioned",
    ]


def test_manifest_pruning_hands_engine_fewer_files(spark, tmp_path):
    loc = _mk_table(spark, tmp_path, n=400)  # months 0..39 over 4 files
    _m, all_files = st.snapshot_files(loc, 0)
    _m, pruned = st.snapshot_files(loc, 0, part_values=[3])
    assert len(all_files) > 1
    assert len(pruned) < len(all_files)
    df = st.read_snapshot(spark, loc, part_values=[3]).filter(F.col("m") == 3)
    assert sorted(set(os.path.basename(f) for f in df.inputFiles())) == sorted(
        set(os.path.basename(p) for p in pruned)
    )
    assert {r["k"] for r in df.collect()} == set(range(30, 40))


def test_vacuum_retires_unreferenced_history(spark, tmp_path):
    loc = _mk_table(spark, tmp_path)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "A")]), ["k"], _part_of, touched=[0]
    )
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "B")]), ["k"], _part_of, touched=[0]
    )
    dropped_m, dropped_f = st.vacuum_snapshot(loc, keep_latest=1)
    assert dropped_m == 2 and dropped_f > 0
    # latest still reads exactly
    assert _state(spark, loc)[5] == ("B", 0)
    # retired versions are gone
    with pytest.raises(FileNotFoundError):
        st.load_manifest(loc, 0)
    # every retained manifest file exists
    for e in st.load_manifest(loc, st.latest_version(loc))["files"]:
        assert os.path.exists(os.path.join(loc, e["path"]))


def test_declared_prune_read_is_file_pruned(spark):
    """The declared pruned-read key hands the engine strictly fewer
    files than the full snapshot (manifest metadata pruning)."""
    from database_importer_spark.plans.part_a import _snap_table

    loc = _snap_table(spark, SF, "upsert")
    v = st.latest_version(loc)
    _m, all_files = st.snapshot_files(loc, v)
    pruned_df = REGISTRY["table_snapshot_prune_read"].fn(spark, SF)
    assert 0 < len(pruned_df.inputFiles()) < len(all_files)


@pytest.mark.parametrize(
    "key", ["upsert_merge_snapshot", "upsert_merge_partitioned"]
)
def test_declared_merge_converges(spark, key):
    """Idempotent convergence: two fresh commits of the same batch
    produce identical full states (and bump the version each time)."""
    fn = REGISTRY[key].fn
    a = {r["o_orderkey"]: r for r in fn(spark, SF).collect()}
    b = {r["o_orderkey"]: r for r in fn(spark, SF).collect()}
    assert a == b


def _month_prewrite(spark):
    """upsert_merge_partitioned's table and its pre-write frame:
    (loc, frame, head manifest, candidate entries)."""
    from database_importer_spark.plans.part_a import (
        _pm_month_of,
        _snap_batch_touched,
        _snap_table,
    )

    loc = _snap_table(spark, SF, "pm")
    batch, touched = _snap_batch_touched(spark, SF)
    return (loc,) + st.merge_snapshot_prewrite(
        spark, loc, batch, ["o_orderkey"], _pm_month_of, touched
    )


def test_month_merge_scans_only_candidate_files(spark):
    """The month merge's write reads exactly its candidate files: each
    one's [min, max] holds the batch month, and they are fewer than
    the table's files (the rest are never listed or read). Its plan
    has no shuffle."""
    loc, out, m, candidates = _month_prewrite(spark)
    assert 0 < len(candidates) < len(m["files"])
    assert all(e["min"] <= 199703 <= e["max"] for e in candidates)
    root = os.path.realpath(loc) + os.sep
    scanned = {
        os.path.relpath(p, root)
        for p in (os.path.realpath(urlparse(f).path) for f in out.inputFiles())
        if p.startswith(root)
    }
    assert scanned == {e["path"] for e in candidates}
    # the batch broadcasts; the table side never shuffles
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_month_merge_never_rewrites_untouched_files(spark):
    """After a second invocation, every non-candidate file of v_n is in
    v_{n+1} under the same entry with the same bytes on disk, and
    every candidate is replaced."""
    key = REGISTRY["upsert_merge_partitioned"].fn
    key(spark, SF).collect()
    loc, _out, m, candidates = _month_prewrite(spark)

    def on_disk(e):
        info = os.stat(os.path.join(loc, e["path"]))
        return info.st_size, info.st_mtime_ns

    before = {e["path"]: on_disk(e) for e in m["files"]}
    key(spark, SF).collect()
    nxt = st.load_manifest(loc, m["version"] + 1)
    assert nxt["parent"] == m["version"] and nxt["commit"]["op"] == "merge"
    after = {e["path"]: e for e in nxt["files"]}
    cand = {e["path"] for e in candidates}
    for e in m["files"]:
        if e["path"] in cand:
            assert e["path"] not in after, "candidate file carried"
        else:
            assert after.get(e["path"]) == e, "untouched file rewritten"
            assert on_disk(e) == before[e["path"]]


def test_compact_preserves_content_and_reduces_files(spark, tmp_path):
    loc = _mk_table(spark, tmp_path, n=400)
    # several small commits accrete small files
    for k, val, month in [(15, "A", 1), (105, "B", 10), (355, "C", 35)]:
        st.merge_snapshot_commit(
            spark, loc, _batch(spark, [(k, val)]), ["k"], _part_of,
            touched=[month],
        )
    pre_v = st.latest_version(loc)
    _m, pre_files = st.snapshot_files(loc, pre_v)
    v = st.compact_snapshot_commit(spark, loc, files=2)
    _m, post_files = st.snapshot_files(loc, v)
    assert v == pre_v + 1 and len(post_files) < len(pre_files)
    assert _state(spark, loc, v) == _state(spark, loc, pre_v)
    # prior versions still read (compaction deleted nothing)
    assert _state(spark, loc, 0)[15] == ("v15", 1)


def test_streaming_ingest_commits_per_micro_batch(spark, tmp_path):
    """One atomic snapshot commit per micro-batch; a REPLAY of the
    same stream (at-least-once delivery) converges to the same state
    instead of corrupting (absolute SET values)."""
    from database_importer_spark.streaming.upsert import (
        streaming_snapshot_ingest,
    )

    loc = _mk_table(spark, tmp_path)
    src = _batch(spark, [(5, "S5"), (15, "S15"), (105, "S105"), (205, "S205")])
    versions = streaming_snapshot_ingest(
        spark, loc, src, ["k"], _part_of, batches=2, cursor="ing"
    )
    assert versions == [1, 2]
    got = _state(spark, loc)
    assert got[5] == ("S5", 0) and got[205] == ("S205", 20)
    assert len(got) == 42
    # the ingest's cursor advanced PER BATCH: one entry per commit,
    # resting at the head — lag report reads caught-up
    entry_k, pos = st.cursor_entry(loc, "ing")
    assert pos == 2 and entry_k == 2  # created at 0, advanced twice
    (rep,) = st.cursor_lag_report(loc, ["ing"])
    assert rep["versions_behind"] == 0
    # replay: same source streamed again (fresh checkpoint) converges
    versions2 = streaming_snapshot_ingest(
        spark, loc, src, ["k"], _part_of, batches=2, cursor="ing"
    )
    assert versions2 == [3, 4]
    assert _state(spark, loc) == got
    assert st.cursor_entry(loc, "ing")[1] == 4


def _data_files_on_disk(loc):
    return sorted(
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(os.path.join(loc, "data"))
        for f in fs
        if f.endswith(".parquet")
    )


def test_delete_where_full_range_is_pure_metadata(spark, tmp_path):
    """DELETE of the whole partition range: every file's stats prove
    every row matches, so the commit drops ALL files metadata-only —
    zero files read, zero files written, any table size."""
    loc = _mk_table(spark, tmp_path, n=400)
    pre = _data_files_on_disk(loc)
    v = st.delete_where_commit(spark, loc, 0, 39)
    assert v == 1
    m = st.load_manifest(loc, 1)
    assert m["commit"]["dropped_metadata_only"] == 4
    assert m["commit"]["rewritten"] == 0 and m["files"] == []
    assert _data_files_on_disk(loc) == pre  # nothing written OR deleted
    assert st.read_snapshot(spark, loc).count() == 0
    assert len(_state(spark, loc, 0)) == 400  # time travel intact


def test_delete_where_edges_rewrite_then_converge(spark, tmp_path):
    """Mid-range DELETE: interior files drop metadata-only, only the
    straddling edge files rewrite, untouched files carry by identity —
    and because rewritten slices never span the hole, re-applying the
    same DELETE is a pure-metadata no-op commit."""
    loc = _mk_table(spark, tmp_path, n=400)
    m0 = st.load_manifest(loc, 0)
    v = st.delete_where_commit(spark, loc, 12, 27)
    m1 = st.load_manifest(loc, v)
    c = m1["commit"]
    assert c["dropped_metadata_only"] + c["rewritten"] >= 1
    assert c["carried"] >= 1
    # carried files are the SAME manifest entries (identity, not rewrite)
    f0 = {e["path"]: e for e in m0["files"]}
    carried = [e for e in m1["files"] if e["path"] in f0]
    assert len(carried) == c["carried"]
    got = _state(spark, loc)
    assert set(got) == {k for k in range(400) if not (12 <= k // 10 <= 27)}
    # convergence: the second identical DELETE does no data work
    v2 = st.delete_where_commit(spark, loc, 12, 27)
    c2 = st.load_manifest(loc, v2)["commit"]
    assert c2["dropped_metadata_only"] == 0 and c2["rewritten"] == 0
    assert _state(spark, loc) == got


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    """SQL DELETE semantics: a row whose predicate evaluates NULL is
    KEPT (delete-where-TRUE). A residual predicate also forces the
    in-range files through the rewrite path (no metadata drops)."""
    loc = _mk_table(spark, tmp_path, n=40)
    # TRUE for even k, NULL for odd k — odd rows must survive
    v = st.delete_where_commit(
        spark,
        loc,
        0,
        3,
        row_pred=lambda df: F.when(F.col("k") % 2 == 0, F.lit(True)),
    )
    m = st.load_manifest(loc, v)
    assert m["commit"]["dropped_metadata_only"] == 0  # residual pred
    got = _state(spark, loc)
    assert set(got) == {k for k in range(40) if k >= 40 or k % 2 == 1 or k // 10 > 3}
    assert 1 in got and 39 in got and 0 not in got and 30 not in got


def test_delete_mor_writes_keys_not_data(spark, tmp_path):
    """Equality-delete commit: parent data files republish by
    IDENTITY (zero data rewritten), the only new artifact is one
    small delete file; the read applies it as an anti-join."""
    loc = _mk_table(spark, tmp_path, n=400)
    m0 = st.load_manifest(loc, 0)
    doomed = spark.createDataFrame([(k,) for k in range(7, 400, 20)], "k int")
    v = st.delete_keys_commit(spark, loc, doomed, ["k"])
    assert v == 1
    m1 = st.load_manifest(loc, 1)
    assert m1["files"] == m0["files"]  # data files untouched, by identity
    assert len(m1["deletes"]) == 1 and m1["deletes"][0]["rows"] == 20
    got = _state(spark, loc)
    assert set(got) == set(range(400)) - set(range(7, 400, 20))
    assert len(_state(spark, loc, 0)) == 400  # time travel intact
    # zero keys: no commit at all
    empty = spark.createDataFrame([], "k int")
    assert st.delete_keys_commit(spark, loc, empty, ["k"]) == 1
    # tag idempotence: a tagged delete re-applied is a no-op commit
    one = spark.createDataFrame([(9,)], "k int")
    v_t = st.delete_keys_commit(spark, loc, one, ["k"], tag="job9")
    assert v_t == 2
    assert st.delete_keys_commit(spark, loc, one, ["k"], tag="job9") == 2
    assert 9 not in _state(spark, loc)
    # mixed delete keys are refused
    with pytest.raises(ValueError):
        st.delete_keys_commit(
            spark, loc, spark.createDataFrame([("v1",)], "val string"), ["val"]
        )


def test_delete_mor_reinserted_key_outranks_delete(spark, tmp_path):
    """Sequence numbers: a merge AFTER an equality delete writes files
    with a higher seq than the delete, so a re-inserted key survives
    the read while the delete keeps applying to the older files."""
    loc = _mk_table(spark, tmp_path)
    st.delete_keys_commit(
        spark, loc, spark.createDataFrame([(15,), (25,)], "k int"), ["k"]
    )
    assert set(_state(spark, loc)) == set(range(40)) - {15, 25}
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(15, "BACK")]), ["k"], _part_of, touched=[1]
    )
    got = _state(spark, loc)
    assert got[15] == ("BACK", 1)  # re-insert wins by seq
    assert 25 not in got  # delete still applies to carried files
    assert 16 in got


def test_delete_mor_compact_clears_debt_and_vacuum_keeps_delete_files(
    spark, tmp_path
):
    loc = _mk_table(spark, tmp_path)
    st.delete_keys_commit(
        spark, loc, spark.createDataFrame([(5,), (35,)], "k int"), ["k"]
    )
    # vacuum to latest-only must NOT reap the delete file the latest
    # manifest still references
    st.vacuum_snapshot(loc, keep_latest=1)
    got = _state(spark, loc)
    assert set(got) == set(range(40)) - {5, 35}
    # OPTIMIZE materializes the deletes and clears the debt
    v = st.compact_snapshot_commit(spark, loc, files=2)
    m = st.load_manifest(loc, v)
    assert m["deletes"] == []
    assert _state(spark, loc) == got
    # post-compaction read is a plain scan: only data files as inputs
    df = st.read_snapshot(spark, loc)
    data_paths = {os.path.join(loc, e["path"]) for e in m["files"]}
    assert set(df.inputFiles()) <= {f"file://{p}" for p in data_paths} | data_paths


def test_append_and_incremental_read(spark, tmp_path):
    """Append fast path: parent files republish by identity, the only
    new artifacts are the appended files. Incremental read scans ONLY
    the files added in the version range, refuses non-append history,
    and the CAS guard makes exactly one racing append land."""
    loc = _mk_table(spark, tmp_path)  # keys 0..39, v0
    m0 = st.load_manifest(loc, 0)

    def mk_rows(lo, n):
        df = spark.range(lo, lo + n).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("a"), F.col("id")).alias("val"),
        )
        return df.withColumn("m", F.floor(F.col("k") / 10).cast("int"))

    v1 = st.append_snapshot_commit(spark, loc, mk_rows(100, 10))
    v2 = st.append_snapshot_commit(spark, loc, mk_rows(200, 5))
    assert (v1, v2) == (1, 2)
    m2 = st.load_manifest(loc, 2)
    assert {e["path"] for e in m0["files"]} <= {e["path"] for e in m2["files"]}
    assert m2["commit"] == {"op": "append", "rows": 5}
    # full-range delta = both appends; later range = second only
    d02 = st.read_incremental(spark, loc, 0, 2)
    assert {r["k"] for r in d02.collect()} == set(range(100, 110)) | set(
        range(200, 205)
    )
    d12 = st.read_incremental(spark, loc, 1, 2)
    assert {r["k"] for r in d12.collect()} == set(range(200, 205))
    # only the delta files are handed to the engine
    added = {
        os.path.join(loc, e["path"])
        for e in st.incremental_entries(loc, 1, 2)
    }
    assert {f.removeprefix("file://") for f in d12.inputFiles()} == added
    # empty range
    assert st.read_incremental(spark, loc, 2, 2).count() == 0
    # CAS append: table moved past the expected parent -> no commit
    assert (
        st.append_snapshot_commit(
            spark, loc, mk_rows(300, 1), expected_parent=0
        )
        is None
    )
    assert st.latest_version(loc) == 2
    # a rewriting commit poisons the range for file-diff incrementals
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(15, "MUT")]), ["k"], _part_of, touched=[1]
    )
    with pytest.raises(ValueError):
        st.incremental_entries(loc, 0, 3)
    # ...but a range that stops before the rewrite still reads
    assert st.read_incremental(spark, loc, 0, 2).count() == 15


def test_read_changes_classifies_and_cancels_carried_rows(spark, tmp_path):
    """CDC between versions: updated keys emit pre+post images,
    inserted keys emit insert, rows rewritten byte-identically
    (carried neighbors in a touched file) cancel out; a CoW DELETE
    commit feeds 'delete' rows; steps union with _commit_version;
    equality-delete steps are refused."""
    loc = _mk_table(spark, tmp_path)  # keys 0..39
    st.merge_snapshot_commit(
        spark,
        loc,
        _batch(spark, [(15, "UPD"), (105, "NEW")]),
        ["k"],
        _part_of,
        touched=[1, 10],
    )
    ch = {
        (r["_change_type"], r["k"]): (r["val"], r["_commit_version"])
        for r in st.read_changes(spark, loc, 0, 1, ["k"]).collect()
    }
    # exactly 3 rows: carried neighbors (10..19 minus 15) cancelled
    assert ch == {
        ("update_preimage", 15): ("v15", 1),
        ("update_postimage", 15): ("UPD", 1),
        ("insert", 105): ("NEW", 1),
    }
    # a CoW delete of month 0 produces 'delete' rows at step 2;
    # range 0..2 unions both steps
    st.delete_where_commit(spark, loc, 0, 0)
    ch2 = st.read_changes(spark, loc, 0, 2, ["k"])
    by_type = {}
    for r in ch2.collect():
        by_type.setdefault(r["_change_type"], set()).add(r["k"])
    assert by_type["delete"] == set(range(10))
    assert by_type["insert"] == {105}
    assert (
        by_type["update_preimage"] == by_type["update_postimage"] == {15}
    )
    # empty range; metadata-only step contributes nothing
    assert st.read_changes(spark, loc, 1, 1, ["k"]).count() == 0
    st.evolve_snapshot_schema(spark, loc, [("note", "string")])
    assert st.read_changes(spark, loc, 2, 3, ["k"]).count() == 0
    # an equality-delete step is refused
    st.delete_keys_commit(
        spark, loc, spark.createDataFrame([(25,)], "k int"), ["k"]
    )
    with pytest.raises(ValueError):
        st.read_changes(spark, loc, 0, st.latest_version(loc), ["k"])


def test_schema_evolution_is_metadata_only(spark, tmp_path):
    """ADD COLUMN: child manifest carries the widened schema over the
    PARENT'S file list by identity — zero data files written; old
    files read NULL for the new column; a later merge writes real
    values; exist_ok makes a repeated identical evolution a no-op."""
    loc = _mk_table(spark, tmp_path)
    m0 = st.load_manifest(loc, 0)
    pre_data = sorted(
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(os.path.join(loc, "data"))
        for f in fs
    )
    v = st.evolve_snapshot_schema(spark, loc, [("note", "string")])
    assert v == 1
    m1 = st.load_manifest(loc, 1)
    assert m1["files"] == m0["files"]  # file list identical
    post_data = sorted(
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(os.path.join(loc, "data"))
        for f in fs
    )
    assert post_data == pre_data  # zero data files written
    df = st.read_snapshot(spark, loc)
    assert df.schema["note"].dataType.simpleString() == "string"
    assert df.filter(F.col("note").isNotNull()).count() == 0
    # duplicate add: error by default, no-op under exist_ok
    with pytest.raises(ValueError):
        st.evolve_snapshot_schema(spark, loc, [("note", "string")])
    assert (
        st.evolve_snapshot_schema(
            spark, loc, [("note", "string")], exist_ok=True
        )
        == 1
    )
    # a post-evolution merge writes the column for its rows only
    batch = spark.createDataFrame([(15, "UPD", "hello")], "k int, val string, note string")
    st.merge_snapshot_commit(
        spark, loc, batch, ["k"], _part_of, touched=[1]
    )
    rows = {r["k"]: r["note"] for r in st.read_snapshot(spark, loc).collect()}
    assert rows[15] == "hello"
    assert sum(1 for n in rows.values() if n is not None) == 1


def test_delete_mor_null_keys_dropped(spark, tmp_path):
    """NULL key values never match the read-side equality anti-join,
    so the commit DROPS them (ADVICE r8): the delete file's row count
    states real effect, and an all-NULL delete is a no-op commit."""
    loc = _mk_table(spark, tmp_path)
    keys = spark.createDataFrame([(5,), (None,), (25,)], "k int")
    v = st.delete_keys_commit(spark, loc, keys, ["k"])
    assert v == 1
    m = st.load_manifest(loc, 1)
    assert m["deletes"][0]["rows"] == 2  # NULL dropped, not counted
    got = _state(spark, loc)
    assert set(got) == set(range(40)) - {5, 25}
    # all-NULL keys: nothing to delete, no commit
    only_null = spark.createDataFrame([(None,)], "k int")
    assert st.delete_keys_commit(spark, loc, only_null, ["k"]) == 1


def test_delete_mor_tag_survives_compaction(spark, tmp_path):
    """Applied-tag history persists in the manifest ACROSS compaction
    (ADVICE r8): after OPTIMIZE clears the live delete files, a re-run
    of the same tagged erasure job must still skip — otherwise it
    would also erase keys legitimately re-inserted since."""
    loc = _mk_table(spark, tmp_path)
    one = spark.createDataFrame([(15,)], "k int")
    v1 = st.delete_keys_commit(spark, loc, one, ["k"], tag="erase15")
    assert v1 == 1 and 15 not in _state(spark, loc)
    v2 = st.compact_snapshot_commit(spark, loc, files=2)
    m2 = st.load_manifest(loc, v2)
    assert m2["deletes"] == [] and m2["tags"] == ["erase15"]
    # key 15 legitimately re-inserted after the erasure
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(15, "BACK")]), ["k"], _part_of, touched=[1]
    )
    assert _state(spark, loc)[15] == ("BACK", 1)
    # the re-run of the same tagged job is a no-op: no new version,
    # and the re-inserted key SURVIVES
    v_latest = st.latest_version(loc)
    assert st.delete_keys_commit(spark, loc, one, ["k"], tag="erase15") == v_latest
    assert _state(spark, loc)[15] == ("BACK", 1)


def test_append_schema_drift_rejected_at_commit(spark, tmp_path):
    """Schema drift fails AT COMMIT TIME (ADVICE r8), not at a later
    read: missing column, extra column, and type drift all raise."""
    loc = _mk_table(spark, tmp_path)
    ok = spark.createDataFrame([(100, "v100", 10)], "k int, val string, m int")
    missing = spark.createDataFrame([(101, "x")], "k int, val string")
    extra = spark.createDataFrame(
        [(102, "x", 10, 1.0)], "k int, val string, m int, bonus double"
    )
    drift = spark.createDataFrame(
        [(103, "x", 10)], "k int, val string, m bigint"
    )
    for bad in (missing, extra, drift):
        with pytest.raises(ValueError, match="does not match the table schema"):
            st.append_snapshot_commit(spark, loc, bad)
    assert st.append_snapshot_commit(spark, loc, ok) == 1
    assert _state(spark, loc)[100] == ("v100", 10)


def test_read_changes_skips_compaction_step(spark, tmp_path):
    """A compaction commit inside a changes range is skipped by
    contract (op tag): the feed over merge→compact equals the feed
    over the merge alone, and no |table|-sized diff runs (ADVICE r8).
    A post-MoR-delete compaction is also legal to SKIP even though its
    delete list differs from the parent's."""
    loc = _mk_table(spark, tmp_path)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(15, "UPD"), (105, "NEW")]),
        ["k"], _part_of, touched=[1, 10],
    )
    st.compact_snapshot_commit(spark, loc, files=2)
    one_step = st.read_changes(spark, loc, 0, 1, ["k"]).collect()
    with_compact = st.read_changes(spark, loc, 0, 2, ["k"]).collect()
    key = lambda r: (r["_change_type"], r["k"])  # noqa: E731
    assert sorted(with_compact, key=key) == sorted(one_step, key=key)
    # compact right after an equality delete: the range starting AT
    # the delete version skips the compact cleanly...
    st.delete_keys_commit(
        spark, loc, spark.createDataFrame([(25,)], "k int"), ["k"]
    )
    v4 = st.compact_snapshot_commit(spark, loc, files=2)
    assert st.read_changes(spark, loc, 3, v4, ["k"]).count() == 0
    # ...while a range CROSSING the delete step itself still refuses
    with pytest.raises(ValueError, match="equality-delete"):
        st.read_changes(spark, loc, 2, 3, ["k"])


def test_per_column_stats_and_keyrange_pruning(spark, tmp_path):
    """Per-column manifest stats (VERDICT r8 item 1): a table declaring
    sort_cols/stats_cols on the key range-clusters files BY KEY, every
    manifest entry carries the key's [min, max], and a key-range read
    prunes files driver-side (inputFiles pin) while staying exact."""
    loc = str(tmp_path / "kt")

    def src():
        df = spark.range(400).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
        return df.withColumn("m", F.floor(F.col("k") / 100).cast("int"))

    st.create_snapshot_table(
        spark, loc, src, "m", files=4, sort_cols=["k"], stats_cols=["k"]
    )
    m0 = st.load_manifest(loc, 0)
    assert m0["sort_cols"] == ["k"] and m0["stats_cols"] == ["k"]
    # every entry carries key stats; files cover disjoint key slices
    ranges = sorted(e["stats"]["k"] for e in m0["files"])
    assert len(ranges) == 4
    for (alo, ahi), (blo, _bhi) in zip(ranges, ranges[1:]):
        assert alo <= ahi < blo
    # pruning: a range inside one slice keeps exactly the right files
    _m, kept = st.snapshot_files_keyrange(loc, 0, "k", 150, 160)
    assert 0 < len(kept) < 4
    df = st.read_snapshot_keyrange(spark, loc, "k", 150, 160)
    assert len(df.inputFiles()) == len(kept)
    assert {r["k"] for r in df.collect()} == set(range(150, 161))
    # part_col pruning still works on the same table (min/max kept)
    _m, by_month = st.snapshot_files_keyrange(loc, 0, "m", 2, 2)
    assert len(by_month) <= 4


def test_write_contract_persists_across_commits(spark, tmp_path):
    """sort_cols/stats_cols persist in child manifests and every later
    commit keeps recording key stats — the pruning stays sharp as the
    table mutates."""
    loc = str(tmp_path / "kt2")

    def src():
        df = spark.range(400).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
        return df.withColumn("m", F.floor(F.col("k") / 100).cast("int"))

    st.create_snapshot_table(
        spark, loc, src, "m", files=4, sort_cols=["k"], stats_cols=["k"]
    )
    batch = spark.createDataFrame([(150, "UPD"), (450, "NEW")], "k int, val string")
    v = st.merge_snapshot_commit(
        spark, loc, batch,
        ["k"], lambda d: F.floor(F.col("k") / 100).cast("int"), touched=[1, 4],
    )
    m1 = st.load_manifest(loc, v)
    assert m1["sort_cols"] == ["k"] and m1["stats_cols"] == ["k"]
    new_paths = {e["path"] for e in m1["files"]} - {
        e["path"] for e in st.load_manifest(loc, 0)["files"]
    }
    assert new_paths
    for e in m1["files"]:
        if e["path"] in new_paths:
            assert "stats" in e and "k" in e["stats"]
    got = {r["k"]: r["val"] for r in st.read_snapshot_keyrange(
        spark, loc, "k", 140, 460, version=v
    ).collect()}
    assert got[150] == "UPD" and got[450] == "NEW" and got[140] == "v140"
    # compaction preserves the contract too
    vc = st.compact_snapshot_commit(spark, loc, files=2)
    mc = st.load_manifest(loc, vc)
    assert mc["sort_cols"] == ["k"] and mc["stats_cols"] == ["k"]
    assert all("stats" in e for e in mc["files"])


def test_declared_point_lookup_is_file_pruned(spark):
    """The declared key-range lookup hands the engine strictly fewer
    files than the table holds, exactly the manifest-selected set."""
    from database_importer_spark.plans.part_a import (
        _PTL_HI,
        _PTL_LO,
        _snap_loc,
    )

    df = REGISTRY["table_point_lookup_pruned"].fn(spark, SF)
    loc = _snap_loc(spark, SF, "ptl")
    v = st.latest_version(loc)
    m, kept = st.snapshot_files_keyrange(loc, v, "o_orderkey", _PTL_LO, _PTL_HI)
    assert 0 < len(kept) < len(m["files"])
    assert sorted(set(os.path.basename(f) for f in df.inputFiles())) == sorted(
        set(os.path.basename(e["path"]) for e in kept)
    )


def test_tags_branches_and_vacuum_retention(spark, tmp_path):
    """Named refs: tags are immutable (same-version re-create
    converges, moving raises), branch heads advance only by CAS on the
    expected current head, and vacuum retains every ref'd version."""
    loc = _mk_table(spark, tmp_path)
    assert st.create_tag(loc, "train") == 0
    assert st.create_tag(loc, "train", version=0) == 0  # idempotent
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "A")]), ["k"], _part_of, touched=[0]
    )
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "B")]), ["k"], _part_of, touched=[0]
    )
    with pytest.raises(ValueError, match="refusing to move"):
        st.create_tag(loc, "train", version=2)
    # branch: create at v1, CAS-advance to v2
    assert st.create_branch(loc, "dev", version=1) == 1
    assert st.branch_head(loc, "dev") == 1
    assert not st.update_branch(loc, "dev", 2, expected_version=0)  # stale
    assert st.update_branch(loc, "dev", 2, expected_version=1)
    assert st.branch_head(loc, "dev") == 2
    assert not st.update_branch(loc, "dev", 1, expected_version=1)  # stale again
    # reads resolve refs
    assert _state(spark, loc, None) == {
        **_state(spark, loc, 2),
    }
    tag_read = st.read_snapshot(spark, loc, ref="train")
    assert {r["k"]: r["val"] for r in tag_read.collect()}[5] == "v5"
    with pytest.raises(ValueError, match="version OR ref"):
        st.read_snapshot(spark, loc, version=1, ref="train")
    with pytest.raises(KeyError):
        st.resolve_ref(loc, "nope")
    # refs to unknown versions are refused
    with pytest.raises(ValueError, match="no version"):
        st.create_tag(loc, "bad", version=99)
    # vacuum keeps the tagged v0 and the branch head v2; v1 retires
    dropped_m, _f = st.vacuum_snapshot(loc, keep_latest=1)
    assert dropped_m == 1  # only v1
    assert _state(spark, loc, 0)[5] == ("v5", 0)  # tag-pinned, byte-exact
    assert _state(spark, loc, 2)[5] == ("B", 0)
    with pytest.raises(FileNotFoundError):
        st.load_manifest(loc, 1)


def test_delete_ref_releases_vacuum_pin(spark, tmp_path):
    """Deleting a tag releases its retention pin: the next vacuum may
    retire the version it referenced."""
    loc = _mk_table(spark, tmp_path)
    st.create_tag(loc, "train", version=0)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "A")]), ["k"], _part_of, touched=[0]
    )
    st.vacuum_snapshot(loc, keep_latest=1)
    assert _state(spark, loc, 0)[5] == ("v5", 0)  # tag pins v0
    assert st.delete_ref(loc, "train")
    assert not st.delete_ref(loc, "train")  # already gone
    st.vacuum_snapshot(loc, keep_latest=1)
    with pytest.raises(FileNotFoundError):
        st.load_manifest(loc, 0)
    assert _state(spark, loc)[5] == ("A", 0)  # latest intact


def test_expected_parent_guards_build_deterministic_chain(spark, tmp_path):
    """merge/compact expected_parent: the conditional commit returns
    None without committing when the table moved — N racers build one
    deterministic chain."""
    loc = _mk_table(spark, tmp_path)
    v = st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "A")]), ["k"], _part_of, touched=[0],
        expected_parent=0,
    )
    assert v == 1
    # a second racer with the same guard observes the step done
    assert (
        st.merge_snapshot_commit(
            spark, loc, _batch(spark, [(5, "A")]), ["k"], _part_of,
            touched=[0], expected_parent=0,
        )
        is None
    )
    assert st.compact_snapshot_commit(spark, loc, files=2, expected_parent=1) == 2
    assert st.compact_snapshot_commit(spark, loc, files=2, expected_parent=1) is None
    assert st.latest_version(loc) == 2
    assert _state(spark, loc)[5] == ("A", 0)


def test_declared_feed_chain_is_deterministic(spark):
    """The feed fixture builds exactly v0..v3 (create/append/merge/
    compact) and re-invocation never extends the chain."""
    from database_importer_spark.plans.part_a import _SNAP_SPECS, _snap_table

    loc, head = _snap_table(spark, SF, "feed"), len(_SNAP_SPECS["feed"].steps)
    assert head == 3 and st.latest_version(loc) == 3
    loc2 = _snap_table(spark, SF, "feed")
    assert loc2 == loc and st.latest_version(loc) == 3
    ops = [
        st.load_manifest(loc, v).get("commit", {}).get("op")
        for v in (1, 2, 3)
    ]
    assert ops == ["append", "merge", "compact"]


def test_declared_point_lookup_frame_is_cached(spark):
    """The built frame is session-cached per (table, version, range):
    re-invocation returns the SAME DataFrame object — zero py4j plan
    construction on the warm path (the r6 constant-removal class;
    sound because a snapshot's plan is immutable)."""
    fn = REGISTRY["table_point_lookup_pruned"].fn
    assert fn(spark, SF) is fn(spark, SF)


# --- round 10: materialized CDF, replace, spec evolution, cursors ------


def test_cdf_materialized_equals_diff(spark, tmp_path):
    """Write-side CDF (r10): a cdf=True table's merge commit persists
    its row-level delta as change files; read_changes over it is a
    plain scan, pinned EQUAL to the digest-diff fallback a plain
    table computes for the same commit — including the cancellation
    of same-value updates (a matched row whose post-image equals its
    pre-image is not a change)."""
    locs = {}
    for name, cdf in (("cdf", True), ("plain", False)):
        loc = str(tmp_path / name)

        def src():
            df = spark.range(40).select(
                F.col("id").cast("int").alias("k"),
                F.concat(F.lit("v"), F.col("id")).alias("val"),
            )
            return df.withColumn("m", F.floor(F.col("k") / 10).cast("int"))

        st.create_snapshot_table(spark, loc, src, "m", "k", files=4, cdf=cdf)
        # k=5 changes, k=7 is a same-value no-op, k=105 inserts
        st.merge_snapshot_commit(
            spark,
            loc,
            _batch(spark, [(5, "UPD"), (7, "v7"), (105, "NEW")]),
            ["k"],
            _part_of,
            touched=[0, 10],
        )
        locs[name] = loc
    m1 = st.load_manifest(locs["cdf"], 1)
    assert m1.get("cdf") is True and "changes" in m1
    assert "changes" not in st.load_manifest(locs["plain"], 1)
    rows = {}
    for name, loc in locs.items():
        rows[name] = sorted(
            (r["_change_type"], r["k"], r["val"], r["_commit_version"])
            for r in st.read_changes(spark, loc, 0, 1, ["k"]).collect()
        )
    assert rows["cdf"] == rows["plain"] == [
        ("insert", 105, "NEW", 1),
        ("update_postimage", 5, "UPD", 1),
        ("update_preimage", 5, "v5", 1),
    ]
    # the materialized read is a PLAIN SCAN: no join, no exchange
    plan = (
        st.read_changes(spark, locs["cdf"], 0, 1, ["k"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Join" not in plan


def test_replace_commit_taxonomy(spark, tmp_path):
    """REPLACE (r10): atomic full-content overwrite — one version
    holds the new content, parent files survive by identity for time
    travel, equality-delete debt clears, incremental scans refuse the
    range, CDF fast-paths it as drop+insert with zero diff work."""
    loc = _mk_table(spark, tmp_path)  # keys 0..39
    st.delete_keys_commit(
        spark, loc, spark.createDataFrame([(3,)], "k int"), ["k"]
    )  # v1: MoR delete debt
    pre_files = {e["path"] for e in st.load_manifest(loc, 0)["files"]}
    new = spark.createDataFrame(
        [(100 + i, f"r{i}", (100 + i) // 10) for i in range(5)],
        "k int, val string, m int",
    )
    v = st.replace_snapshot_commit(spark, loc, new, files=1, expected_parent=1)
    assert v == 2
    m2 = st.load_manifest(loc, 2)
    assert m2["commit"]["op"] == "replace" and m2["deletes"] == []
    assert not pre_files & {e["path"] for e in m2["files"]}
    assert set(_state(spark, loc)) == {100, 101, 102, 103, 104}
    # time travel: v1 still shows the pre-replace (delete-applied) state
    assert set(_state(spark, loc, version=1)) == set(range(40)) - {3}
    # incremental refuses the replace step, from the manifests
    with pytest.raises(ValueError):
        st.incremental_entries(loc, 0, 2)
    # CDF drop+insert: old rows (minus the MoR-deleted key) delete,
    # new rows insert; no diff machinery in the plan
    ch = st.read_changes(spark, loc, 1, 2, ["k"])
    by_type = {}
    for r in ch.collect():
        by_type.setdefault(r["_change_type"], set()).add(r["k"])
    assert by_type["delete"] == set(range(40)) - {3}
    assert by_type["insert"] == {100, 101, 102, 103, 104}
    # conditional CAS + schema validation
    assert (
        st.replace_snapshot_commit(spark, loc, new, expected_parent=0) is None
    )
    with pytest.raises(ValueError):
        st.replace_snapshot_commit(
            spark, loc, new.withColumnRenamed("val", "value")
        )


def test_partition_spec_evolution_mixed_prune(spark, tmp_path):
    """Spec evolution (r10) is metadata-only and pruning works ACROSS
    the boundary: old files keep their old-spec range in the stats
    map (old-spec keyrange reads still prune) and expose their
    declared-stats range for the new spec first-class; post-evolution
    commits cluster and record stats on the new column."""
    loc = str(tmp_path / "tbl")

    def src():
        df = spark.range(40).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
        df = df.withColumn("m", F.floor(F.col("k") / 10).cast("int"))
        return df.withColumn("g", (F.col("k") % 2).cast("int"))

    st.create_snapshot_table(
        spark, loc, src, "m", "k", files=4, stats_cols=["g"]
    )
    pre_files = [e["path"] for e in st.load_manifest(loc, 0)["files"]]
    v = st.evolve_partition_spec(spark, loc, "g")
    assert v == 1
    assert st.evolve_partition_spec(spark, loc, "g") == 1  # idempotent
    m1 = st.load_manifest(loc, 1)
    assert m1["part_col"] == "g"
    assert m1["commit"]["op"] == "evolve_partition_spec"
    assert [e["path"] for e in m1["files"]] == pre_files  # zero data moved
    # old-spec pruning via migrated stats: m BETWEEN 0 AND 0 keeps <4 files
    _m, kept = st.snapshot_files_keyrange(loc, 1, "m", 0, 0)
    assert 0 < len(kept) < 4
    # new-spec first-class range = the declared g stats ([0,1] everywhere)
    assert all(e["min"] == 0 and e["max"] == 1 for e in m1["files"])
    # a post-evolution append records g first-class and is prunable
    add = spark.createDataFrame(
        [(100 + i, f"n{i}", (100 + i) // 10, 7) for i in range(4)],
        "k int, val string, m int, g int",
    )
    st.append_snapshot_commit(spark, loc, add, files=1, expected_parent=1)
    _m, kept7 = st.snapshot_files_keyrange(loc, 2, "g", 7, 7)
    assert len(kept7) == 1 and kept7[0]["min"] == 7
    assert st.read_snapshot(spark, loc).count() == 44
    # unknown column refused
    with pytest.raises(ValueError):
        st.evolve_partition_spec(spark, loc, "nope")


def test_cursor_advance_and_branch_aba(spark, tmp_path):
    """Consumer cursors (r10): numbered-entry CAS chain — a stale
    entry token can NEVER advance (ABA-proof by construction), and
    update_branch's optional expected_entry gives branches the same
    guarantee (ADVICE r9: the value-only CAS is documented
    monotone-only)."""
    loc = _mk_table(spark, tmp_path)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "A")]), ["k"], _part_of, touched=[0]
    )
    assert st.create_cursor(loc, "c", version=0) == 0
    assert st.create_cursor(loc, "c", version=0) == 0  # idempotent
    with pytest.raises(ValueError):
        st.create_cursor(loc, "c", version=1)
    k, pos = st.cursor_entry(loc, "c")
    assert (k, pos) == (0, 0)
    assert st.advance_cursor(loc, "c", 1, expected_entry=0)
    assert st.cursor_entry(loc, "c") == (1, 1)
    assert not st.advance_cursor(loc, "c", 1, expected_entry=0)  # stale
    # branch ABA: head A -> B -> A; a mover holding the OLD entry token
    # is refused even though the VALUE matches its expectation
    st.create_branch(loc, "b", version=0)
    st.update_branch(loc, "b", 1, expected_version=0)   # A -> B
    st.update_branch(loc, "b", 0, expected_version=1)   # B -> A (entry 2)
    assert st.branch_head(loc, "b") == 0
    assert not st.update_branch(
        loc, "b", 1, expected_version=0, expected_entry=0
    )
    assert st.update_branch(
        loc, "b", 1, expected_version=0, expected_entry=2
    )


def test_catalog_atomic_pair(spark, tmp_path):
    """Catalog manifest (r10): N version pointers published in ONE
    link(2)-CAS entry — a reader resolving through the catalog can
    never see a half-advanced pair; conditional commits and racing
    publishers lose cleanly (None), never corrupt."""
    cat = str(tmp_path / "cat")
    assert st.catalog_latest(cat) is None
    pair0 = {"a": {"version": 0}, "b": {"version": 0}}
    assert st.catalog_commit(cat, pair0) == 0
    # conditional CAS: stale expectation -> None, nothing published
    assert st.catalog_commit(cat, pair0, expected_version=5) is None
    pair1 = {"a": {"version": 1}, "b": {"version": 1}}
    assert st.catalog_commit(cat, pair1, expected_version=0) == 1
    # every retained entry is an internally-consistent pair
    for v in (0, 1):
        c = st.load_catalog(cat, version=v)
        assert c["tables"]["a"]["version"] == c["tables"]["b"]["version"]
    assert st.load_catalog(cat)["version"] == 1


def test_apply_changes_replica_converges(spark, tmp_path):
    """CDC apply (r10): latest-image-per-key reduction, upserts as one
    idempotent merge, deletes as one equality-delete commit; re-apply
    of the same range converges (the crash-between-apply-and-advance
    case)."""
    loc = _mk_table(spark, tmp_path)  # source, keys 0..39
    replica = str(tmp_path / "rep")

    def src():
        return st.read_snapshot(spark, loc, version=0)

    st.create_snapshot_table(spark, replica, src, "m", "k", files=4)
    # a multi-commit range where one key is touched twice: the LATEST
    # image must win (k=5 -> "B"), and a delete must erase k=9
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "A"), (101, "N1")]),
        ["k"], _part_of, touched=[0, 10],
    )
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "B")]), ["k"], _part_of, touched=[0]
    )
    st.delete_where_commit(spark, loc, 0, 0, row_pred=lambda df: F.col("k") == 9)
    ch = st.read_changes(spark, loc, 0, 3, ["k"])
    v = st.apply_changes_commit(spark, replica, ch, ["k"], _part_of, [0, 10])
    want = _state(spark, loc, version=3)
    assert _state(spark, replica) == want
    # idempotent re-apply (same range) converges to the same state
    st.apply_changes_commit(spark, replica, ch, ["k"], _part_of, [0, 10])
    assert _state(spark, replica) == want and v >= 1


def test_vacuum_keeps_change_files_and_pins_cursor(spark, tmp_path):
    """Vacuum (r10 additions): a retained commit's materialized change
    files survive (its CDF stays readable); a consumer CURSOR pins its
    version like any ref; reads spanning a RETIRED version raise the
    descriptive error, not a raw FileNotFoundError (ADVICE r9)."""
    loc = str(tmp_path / "tbl")

    def src():
        df = spark.range(40).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
        return df.withColumn("m", F.floor(F.col("k") / 10).cast("int"))

    st.create_snapshot_table(spark, loc, src, "m", "k", files=4, cdf=True)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "A")]), ["k"], _part_of, touched=[0]
    )
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(6, "B")]), ["k"], _part_of, touched=[0]
    )
    st.create_cursor(loc, "c", version=1)
    dropped_m, _df = st.vacuum_snapshot(loc, keep_latest=1)
    # v1 pinned by the cursor, v2 by keep_latest; v0 retired
    assert dropped_m == 1
    ch = st.read_changes(spark, loc, 1, 2, ["k"]).collect()
    assert {r["_change_type"] for r in ch} == {
        "update_preimage", "update_postimage",
    }
    with pytest.raises(ValueError, match="retired by vacuum"):
        st.read_changes(spark, loc, 0, 2, ["k"])
    with pytest.raises(ValueError, match="retired by vacuum"):
        st.incremental_entries(loc, 0, 1)


def test_declared_cdf_keys_scan_materialized_changes(spark):
    """The declared cdc/feed tables are cdf=True: their merge commits
    carry materialized change files, and the declared CDF reads plan
    as PLAIN SCANS — no join, no exchange (the digest diff the r9
    keys paid at every read now happens once, at commit time)."""
    from database_importer_spark.plans.part_a import _snap_loc

    for key in ("table_changes_merge", "table_changes_feed"):
        df = REGISTRY[key].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, key
        assert "Join" not in plan, key
    loc = _snap_loc(spark, SF, "cdc")
    assert st.load_manifest(loc, 1)["changes"]


def test_declared_partition_evolution_prunes_mixed_specs(spark):
    """The declared spec-evolution key reads ONLY the post-evolution
    appended files: every pre-evolution file prunes via its migrated
    per-column year stats (inputFiles pin across the spec boundary)."""
    from database_importer_spark.plans.part_a import _snap_loc

    df = REGISTRY["table_partition_evolution"].fn(spark, SF)
    loc = _snap_loc(spark, SF, "pspec")
    n_total = len(st.load_manifest(loc, st.latest_version(loc))["files"])
    assert len(df.inputFiles()) < n_total
    added = {e["path"] for e in st.commit_added_entries(loc, 2)}
    assert {os.path.relpath(p.removeprefix("file:"), loc) for p in df.inputFiles()} <= added


def test_apply_changes_equal_version_delete_insert_tiebreak(spark, tmp_path):
    """ADVICE r10 (medium): a REPLACE-step CDF range carries delete +
    insert for a SURVIVING key at the SAME _commit_version; the apply
    window must deterministically rank the new content above the
    delete, never drop the key on a nondeterministic row_number tie."""
    loc = _mk_table(spark, tmp_path)
    replica = str(tmp_path / "rep")

    def src():
        return st.read_snapshot(spark, loc, version=0)

    st.create_snapshot_table(spark, replica, src, "m", "k", files=4)
    # REPLACE v0 content with keys 0..19 only, vals rewritten — the
    # CDF emits delete+insert at version 1 for every surviving key
    st.replace_snapshot_commit(
        spark,
        loc,
        spark.range(20).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("R"), F.col("id")).alias("val"),
            F.floor(F.col("id") / 10).cast("int").alias("m"),
        ),
    )
    ch = st.read_changes(spark, loc, 0, 1, ["k"])
    # sanity: the replace shape really is delete+insert at one version
    kinds = {
        (r["k"], r["_change_type"])
        for r in ch.filter(F.col("k") == 3).collect()
    }
    assert kinds == {(3, "delete"), (3, "insert")}
    for _ in range(3):  # repeat: ties must never flip
        st.apply_changes_commit(spark, replica, ch, ["k"], _part_of, [0, 1])
        got = _state(spark, replica)
        assert set(got) == set(range(20))
        assert got[3][0] == "R3"


def test_apply_changes_range_tag_skips_replayed_delete(spark, tmp_path):
    """ADVICE r10: a crash-replayed apply of the SAME range must not
    stack a fresh equality-delete file per replay — the range_tag
    routes through delete_keys_commit's applied-tag skip."""
    loc = _mk_table(spark, tmp_path)
    replica = str(tmp_path / "rep")

    def src():
        return st.read_snapshot(spark, loc, version=0)

    st.create_snapshot_table(spark, replica, src, "m", "k", files=4)
    st.delete_where_commit(spark, loc, 0, 0, row_pred=lambda df: F.col("k") == 9)
    ch = st.read_changes(spark, loc, 0, 1, ["k"])
    tag = f"apply:{loc}:0->1"
    st.apply_changes_commit(
        spark, replica, ch, ["k"], _part_of, [0], range_tag=tag
    )
    m1 = st.load_manifest(replica, st.latest_version(replica))
    n1 = len(m1.get("deletes", []))
    assert n1 == 1
    # replay: content converges AND no new delete file lands
    st.apply_changes_commit(
        spark, replica, ch, ["k"], _part_of, [0], range_tag=tag
    )
    m2 = st.load_manifest(replica, st.latest_version(replica))
    assert len(m2.get("deletes", [])) == n1
    assert 9 not in _state(spark, replica)


def test_delete_ref_kind_disambiguation(spark, tmp_path):
    """ADVICE r10: a name living in several ref namespaces must not be
    deleted by first-match guessing — ambiguous bare deletes raise,
    kind-scoped deletes remove exactly the named namespace's ref."""
    loc = _mk_table(spark, tmp_path)
    st.create_tag(loc, "x", version=0)
    st.create_cursor(loc, "x", version=0)
    with pytest.raises(ValueError, match="kind="):
        st.delete_ref(loc, "x")
    assert st.delete_ref(loc, "x", kind="cursor")
    assert not st.delete_ref(loc, "x", kind="cursor")  # gone
    assert st.resolve_ref(loc, "x") == 0  # tag untouched
    assert st.delete_ref(loc, "x")  # now unambiguous
    assert not st.delete_ref(loc, "nope")
    with pytest.raises(ValueError, match="unknown ref kind"):
        st.delete_ref(loc, "x", kind="bogus")


def test_snap_loc_contract_token_mints_fresh_table(spark, monkeypatch):
    """A declared table's directory carries a digest of its WHOLE spec:
    flipping any one field, source filter, step or step argument mints
    a fresh location, so the create-once rule can never silently reuse
    a stale table; an unchanged spec keeps its location. A table built
    from another declared table moves with it."""
    from database_importer_spark.plans import part_a as P

    specs = dict(P._SNAP_SPECS)
    for name in specs:
        assert f"_snap_{name}_" in P._snap_loc(spark, SF, name)
    before = {name: P._snap_loc(spark, SF, name) for name in specs}
    feed_steps = specs["feed"].steps
    flips = {
        "files": ("cdc", {"files": 17}),
        "cdf": ("cdc", {"cdf": False}),
        "part": ("cats", {"part": "o_month"}),
        "cluster": ("ptl", {"cluster": "o_orderkey"}),
        "sort_cols": ("ptl", {"sort_cols": ("o_custkey",)}),
        "stats_cols": ("pspec", {"stats_cols": ()}),
        "v0 filter": ("inc", {"src": ("orders", ("<", "1997-01-01"))}),
        "v0 source": ("replica", {"src": ("snapshot", "feed", 1)}),
        "step": ("feed", {"steps": feed_steps[:2]}),
        "step order": ("feed", {"steps": feed_steps[1::-1] + feed_steps[2:]}),
        "step argument": ("feed", {"steps": feed_steps[:2] + (("compact", 9),)}),
        "merge month": (
            "upsert",
            {"steps": (("merge", "1997-04-01", "1997-05-01", "1997-04-15"),)},
        ),
    }
    for what, (name, fields) in flips.items():
        monkeypatch.setitem(P._SNAP_SPECS, name, specs[name]._replace(**fields))
        assert P._snap_loc(spark, SF, name) != before[name], what
        monkeypatch.setitem(P._SNAP_SPECS, name, specs[name])
    # a derived table moves with its source table's spec
    monkeypatch.setitem(P._SNAP_SPECS, "feed", specs["feed"]._replace(files=71))
    assert P._snap_loc(spark, SF, "replica") != before["replica"]
    monkeypatch.setitem(P._SNAP_SPECS, "feed", specs["feed"])
    # re-evaluating an unchanged (even rebuilt-equal) spec is stable
    monkeypatch.setitem(P._SNAP_SPECS, "feed", P._Spec(*specs["feed"]))
    assert {name: P._snap_loc(spark, SF, name) for name in specs} == before


def _snap_protocol_violations(sources):
    """Sites in the plans that create a snapshot table or pass
    expected_parent outside _snap_table, the one runner of the
    declared tables' create-once + CAS-chain protocol."""
    out = []
    for rel, src in sorted(sources.items()):
        tree = ast.parse(src)
        inside = {
            id(n)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "_snap_table"
            for n in ast.walk(f)
        }
        for n in ast.walk(tree):
            if id(n) in inside or not isinstance(n, ast.Call):
                continue
            fn = getattr(n.func, "id", getattr(n.func, "attr", None))
            if fn == "create_snapshot_table":
                out.append(f"{rel}:{n.lineno}: create_snapshot_table(")
            if any(k.arg == "expected_parent" for k in n.keywords):
                out.append(f"{rel}:{n.lineno}: expected_parent=")
    return out


def _plans_sources():
    out = {}
    plans = os.path.join(os.path.dirname(os.path.dirname(st.__file__)), "plans")
    for p in sorted(glob.glob(os.path.join(plans, "*.py"))):
        with open(p) as f:
            out[os.path.basename(p)] = f.read()
    return out


def test_declared_tables_built_only_by_snap_table():
    assert _snap_protocol_violations(_plans_sources()) == []


def test_snap_protocol_scan_flags_seeded_hand_chain():
    sources = _plans_sources()
    n = len(sources["part_a.py"].splitlines())
    seeded = {
        **sources,
        "part_a.py": sources["part_a.py"]
        + "\n\ndef _hand_table(spark, loc, batch):\n"
        "    create_snapshot_table(spark, loc, lambda: batch, 'm')\n"
        "    if latest_version(loc) == 0:\n"
        "        merge_snapshot_commit(spark, loc, batch, ['k'], None, [0],\n"
        "                              expected_parent=0)\n",
    }
    assert _snap_protocol_violations(seeded) == [
        f"part_a.py:{n + 4}: create_snapshot_table(",
        f"part_a.py:{n + 6}: expected_parent=",
    ]


def test_catalog_txn_two_process_race(spark, tmp_path):
    """VERDICT r10 item 1 (the race half): two processes run the
    multi-table transaction end-to-end against a FRESH corpus copy
    (fresh fingerprint → fresh tables, so creation, both merges, and
    the catalog publish all race for real). Every step is CAS-guarded,
    so both must return the identical consistent result and EXACTLY
    ONE catalog entry may land."""
    import shutil as _sh
    import subprocess

    src_sf = SF
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for n in os.listdir(src_sf):
        if n.endswith(".parquet"):
            _sh.copytree(
                os.path.join(src_sf, n), os.path.join(sf, n)
            ) if os.path.isdir(os.path.join(src_sf, n)) else _sh.copy2(
                os.path.join(src_sf, n), os.path.join(sf, n)
            )
    prog = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from database_importer_spark.session import get_spark\n"
        "from database_importer_spark.plans import REGISTRY\n"
        "import hashlib\n"
        f"spark = get_spark(app_name='race-' + sys.argv[1])\n"
        f"df = REGISTRY['catalog_multi_table_txn'].fn(spark, {sf!r})\n"
        "rows = sorted(tuple(str(v) for v in r) for r in df.collect())\n"
        "print('HASH', len(rows), hashlib.md5(str(rows).encode()).hexdigest())\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="8", PYTHONPATH="/root/repo")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", prog, str(i)],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            env=env,
            text=True,
        )
        for i in range(2)
    ]
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    hashes = [
        line for o in outs for line in o.splitlines() if line.startswith("HASH")
    ]
    assert len(hashes) == 2 and hashes[0] == hashes[1], hashes
    # exactly one catalog entry landed
    from database_importer_spark.plans.part_a import _snap_loc

    cat_dir = os.path.join(_snap_loc(spark, sf, "catd") + "_cat", "_catalog")
    entries = [n for n in os.listdir(cat_dir) if n.endswith(".json")]
    assert entries == ["v00000000.json"], entries
    # and it binds the deterministic chain heads (dv=1, sv=1)
    c = st.load_catalog(_snap_loc(spark, sf, "catd") + "_cat")
    assert c["tables"]["detail"]["version"] == 1
    assert c["tables"]["summary"]["version"] == 1


def test_cursor_lag_report_metadata_only(spark, tmp_path):
    """Lag metrics come from manifests alone: exact pending rows for
    cdf merges and appends, maintenance commits free, None (not a
    guess) for a pending commit whose CDF size needs a data diff."""
    loc = str(tmp_path / "tbl")

    def src():
        df = spark.range(40).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
        return df.withColumn("m", F.floor(F.col("k") / 10).cast("int"))

    st.create_snapshot_table(spark, loc, src, "m", "k", files=4, cdf=True)
    st.create_cursor(loc, "c0", version=0)
    # v1: cdf merge (5 updates -> 10 change rows) ; v2: append (3 rows)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(i, f"u{i}") for i in range(5)]),
        ["k"], _part_of, touched=[0],
    )
    st.append_snapshot_commit(
        spark,
        loc,
        spark.createDataFrame(
            [(100 + i, f"a{i}", 10) for i in range(3)],
            "k int, val string, m int",
        ),
    )
    # v3: compaction — free by op-tag contract
    st.compact_snapshot_commit(spark, loc, files=2)
    (rep,) = st.cursor_lag_report(loc, ["c0"])
    assert rep["versions_behind"] == 3
    assert rep["pending_commits"] == 2
    assert rep["pending_change_rows"] == 10 + 3
    # caught-up consumer: all zeros
    st.create_cursor(loc, "c1", version=3)
    (rep1,) = st.cursor_lag_report(loc, ["c1"])
    assert (
        rep1["versions_behind"],
        rep1["pending_commits"],
        rep1["pending_change_rows"],
    ) == (0, 0, 0)


def test_cursor_lag_non_cdf_merge_reports_none(spark, tmp_path):
    """A pending NON-cdf merge's change-row count would need the
    digest diff — the report answers None, never a guess."""
    loc = _mk_table(spark, tmp_path)  # cdf=False
    st.create_cursor(loc, "c", version=0)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(1, "u1")]), ["k"], _part_of, touched=[0]
    )
    (rep,) = st.cursor_lag_report(loc, ["c"])
    assert rep["pending_commits"] == 1
    assert rep["pending_change_rows"] is None


def test_declared_cursor_lag_zero_io(spark):
    """The declared lag key plans as a LocalTableScan over driver-side
    manifest arithmetic — zero input files, no exchange."""
    df = REGISTRY["table_cursor_lag"].fn(spark, SF)
    assert df.inputFiles() == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    # createDataFrame plans LocalTableScan (or Scan ExistingRDD under
    # arrow): either way, a driver-local leaf — no file source at all
    assert "LocalTableScan" in plan or "ExistingRDD" in plan
    assert "Exchange" not in plan and "FileScan" not in plan


def _cdf_chain(spark, tmp_path):
    """cdf table with two materialized-merge commits (v1, v2)."""
    loc = str(tmp_path / "tbl")

    def src():
        df = spark.range(40).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
        return df.withColumn("m", F.floor(F.col("k") / 10).cast("int"))

    st.create_snapshot_table(spark, loc, src, "m", "k", files=4, cdf=True)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(1, "u1"), (101, "n1")]),
        ["k"], _part_of, touched=[0, 10],
    )
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(2, "u2"), (1, "u1b")]),
        ["k"], _part_of, touched=[0],
    )
    return loc


def _ch_rows(spark, loc, lo, hi):
    return sorted(
        tuple(r)
        for r in st.read_changes(spark, loc, lo, hi, ["k"]).collect()
    )


def test_compact_changes_byte_identical_and_pruned(spark, tmp_path):
    """Change-file compaction: read_changes over any subrange is
    byte-identical before/after, and post-compaction reads open ONLY
    the consolidated file set (never the per-commit small files)."""
    loc = _cdf_chain(spark, tmp_path)
    before_all = _ch_rows(spark, loc, 0, 2)
    before_sub = _ch_rows(spark, loc, 1, 2)
    v = st.compact_changes_commit(spark, loc, 0, 2)
    assert v == 3
    assert _ch_rows(spark, loc, 0, 3) == before_all  # incl. skip of v3
    assert _ch_rows(spark, loc, 0, 2) == before_all
    assert _ch_rows(spark, loc, 1, 2) == before_sub  # subrange filter
    (entry,) = st.changelog_entries(loc)
    cons = {f["path"] for f in entry["files"]}
    got = {
        os.path.relpath(p.removeprefix("file:"), loc)
        for p in st.read_changes(spark, loc, 0, 2, ["k"]).inputFiles()
    }
    assert got == cons
    # per-commit change files still owned by their manifests (vacuum
    # is the only deleter) but no longer opened
    assert st.load_manifest(loc, 1)["changes"]


def test_compact_changes_idempotent_and_vacuum_safe(spark, tmp_path):
    """Re-running the same consolidation converges without a new
    commit or sidecar entry; vacuum keeps consolidated files live."""
    loc = _cdf_chain(spark, tmp_path)
    want = _ch_rows(spark, loc, 0, 2)
    v = st.compact_changes_commit(spark, loc, 0, 2)
    assert st.compact_changes_commit(spark, loc, 0, 2) == v
    assert len(st.changelog_entries(loc)) == 1
    assert st.latest_version(loc) == v
    # vacuum retaining the range's manifests: consolidated read intact
    st.vacuum_snapshot(loc, keep_latest=4)
    assert _ch_rows(spark, loc, 0, 2) == want
    # aggressive vacuum retires the range's MANIFESTS — the read then
    # refuses descriptively (unchanged protocol), but the consolidated
    # files themselves stay live (sidecar pin + retained commit)
    st.vacuum_snapshot(loc, keep_latest=1)
    with pytest.raises(ValueError, match="retired by vacuum"):
        _ch_rows(spark, loc, 0, 2)
    (entry,) = st.changelog_entries(loc)
    for f in entry["files"]:
        assert os.path.exists(os.path.join(loc, f["path"]))


def test_declared_compacted_feed_scans_only_consolidated(spark):
    """The declared compacted-chain key's merge steps come back from
    the consolidated file set alone — the small-file class is gone."""
    from database_importer_spark.plans.part_a import _snap_loc

    df = REGISTRY["table_changes_compacted"].fn(spark, SF)
    loc = _snap_loc(spark, SF, "feedc")
    (entry,) = st.changelog_entries(loc)
    cons = {f["path"] for f in entry["files"]}
    got = {
        os.path.relpath(p.removeprefix("file:"), loc)
        for p in df.inputFiles()
    }
    assert got == cons
    # and the step itself is free in lag accounting (op-tag contract)
    st.create_cursor(loc, "lagprobe", version=3)
    (rep,) = st.cursor_lag_report(loc, ["lagprobe"])
    assert rep["pending_commits"] == 0 and rep["pending_change_rows"] == 0


def test_vacuum_retention_policy_and_descriptive_retired_read(
    spark, tmp_path
):
    """Retention = keep_latest + ref pins: v1 (unpinned middle) is
    physically retired — manifest gone, unique files deleted, direct
    read fails DESCRIPTIVELY — while the tagged v0 stays byte-exact
    and an unknown future version still reads as unknown, not
    retired."""
    loc = _mk_table(spark, tmp_path)
    st.create_tag(loc, "audit", version=0)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "A")]), ["k"], _part_of, touched=[0]
    )
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "B")]), ["k"], _part_of, touched=[0]
    )
    v1_files = {e["path"] for e in st.load_manifest(loc, 1)["files"]}
    v2_files = {e["path"] for e in st.load_manifest(loc, 2)["files"]}
    dropped_m, dropped_f = st.vacuum_snapshot(loc, keep_latest=1)
    assert dropped_m == 1 and dropped_f >= 1  # v1 retired, v0 tagged
    for p in v1_files - v2_files - {
        e["path"] for e in st.load_manifest(loc, 0)["files"]
    }:
        assert not os.path.exists(os.path.join(loc, p))
    with pytest.raises(ValueError, match="retired by vacuum"):
        st.read_snapshot(spark, loc, version=1)
    with pytest.raises(FileNotFoundError, match="no version v9"):
        st.read_snapshot(spark, loc, version=9)
    assert _state(spark, loc, version=0)[5] == ("v5", 0)  # tag pin
    assert _state(spark, loc)[5] == ("B", 0)  # head intact
    # re-vacuum converges: nothing further to retire
    assert st.vacuum_snapshot(loc, keep_latest=1) == (0, 0)


def test_declared_vacuum_retention_converges(spark):
    """The declared key re-invokes cleanly after its own vacuum (the
    guarded chain observes head v2 and skips; the tagged read stays
    byte-stable), and its table is process-scoped."""
    df1 = REGISTRY["table_vacuum_retention"].fn(spark, SF)
    n1 = df1.count()
    df2 = REGISTRY["table_vacuum_retention"].fn(spark, SF)
    assert df2.count() == n1
    assert f"dbis_scratch_p{os.getpid()}" in (
        df2.inputFiles()[0] if df2.inputFiles() else ""
    )


@pytest.fixture(scope="module")
def vacuumed_chain(spark, tmp_path_factory):
    """A table at head v3 whose v1 and v2 were retired by vacuum (v0
    stays pinned by the cursor ``c``), plus a cursor ``ahead`` whose
    entry names v5, past the head."""
    loc = _mk_table(spark, tmp_path_factory.mktemp("chain"))
    st.create_cursor(loc, "c", version=0)
    for i in range(3):
        st.append_snapshot_commit(
            spark,
            loc,
            spark.createDataFrame([(100 + i, "a", 10)], "k int, val string, m int"),
        )
    assert st.vacuum_snapshot(loc, keep_latest=1)[0] == 2
    st.create_cursor(loc, "ahead", version=3)
    st._publish(
        os.path.join(st._refs_dir(loc, "cursors"), "ahead", "r00000001.json"),
        {"version": 5},
    )
    return loc


_RANGE_READS = {
    "read_changes": lambda spark, loc, a, b: st.read_changes(spark, loc, a, b, ["k"]),
    "read_incremental": lambda spark, loc, a, b: st.read_incremental(spark, loc, a, b),
    "incremental_entries": lambda spark, loc, a, b: st.incremental_entries(loc, a, b),
    "commit_added_entries": lambda spark, loc, a, b: st.commit_added_entries(loc, b),
    "cursor_lag_report": lambda spark, loc, a, b: st.cursor_lag_report(
        loc, ["c" if b == 3 else "ahead"]
    ),
}


@pytest.mark.parametrize("read", sorted(_RANGE_READS))
def test_range_reads_tell_unknown_from_retired_versions(
    spark, vacuumed_chain, read
):
    """Every history read resolves versions through one resolver: a
    version past the head is unknown (FileNotFoundError "no version"),
    a version below it whose manifest vacuum deleted is retired."""
    fn, loc = _RANGE_READS[read], vacuumed_chain
    with pytest.raises(FileNotFoundError, match="no version v5"):
        fn(spark, loc, 3, 5)
    with pytest.raises(ValueError, match="retired by vacuum"):
        fn(spark, loc, 0, 3)


@pytest.mark.parametrize("cdf", [False, True])
def test_free_ops_skip_evolution_in_changes_and_lag(spark, tmp_path, cdf):
    """merge, evolve_partition_spec, merge: the change feed over the
    whole range is the union of the two merge steps read alone, and
    the lag report counts two pending commits — the evolution is free
    in both by the same op vocabulary."""
    loc = str(tmp_path / "tbl")

    def src():
        df = spark.range(40).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
        df = df.withColumn("m", F.floor(F.col("k") / 10).cast("int"))
        return df.withColumn("g", F.floor(F.col("k") / 20).cast("int"))

    st.create_snapshot_table(
        spark, loc, src, "m", "k", files=4, stats_cols=["g"], cdf=cdf
    )
    st.create_cursor(loc, "c", version=0)
    st.merge_snapshot_commit(
        spark, loc, _batch(spark, [(5, "A"), (15, "B")]), ["k"], _part_of, [0, 1]
    )
    assert st.evolve_partition_spec(spark, loc, "g") == 2
    st.merge_snapshot_commit(
        spark,
        loc,
        _batch(spark, [(6, "C"), (25, "D")]),
        ["k"],
        lambda df: F.floor(F.col("k") / 20).cast("int"),
        [0, 1],
    )
    assert _ch_rows(spark, loc, 0, 3) == sorted(
        _ch_rows(spark, loc, 0, 1) + _ch_rows(spark, loc, 2, 3)
    )
    assert len(_ch_rows(spark, loc, 0, 3)) == 8
    (rep,) = st.cursor_lag_report(loc, ["c"])
    assert (rep["versions_behind"], rep["pending_commits"]) == (3, 2)


_ENTRY_STATS_OK = {"_entry_range", "_file_entries", "evolve_partition_spec"}


def _read_path_violations(src: str) -> list[str]:
    """Sites of snapshot_table.py that re-implement the read path
    outside its one mechanism per concern: a ``m["parent"] != v - 1``
    chain check outside ``_history``, an ``except FileNotFoundError``
    around ``load_manifest`` outside ``_manifest``, and a read of an
    entry's ``["min"]``/``["max"]`` (or ``.get("min")``) outside
    ``_entry_range`` (the pruning rule's input), ``_file_entries``
    (writes) and ``evolve_partition_spec`` (migration)."""
    out = []

    def const(node):
        return getattr(node, "value", None) if isinstance(node, ast.Constant) else None

    def calls_load_manifest(nodes):
        return any(
            isinstance(n, ast.Call)
            and getattr(n.func, "id", getattr(n.func, "attr", None))
            == "load_manifest"
            for s in nodes
            for n in ast.walk(s)
        )

    for top in ast.parse(src).body:
        name = getattr(top, "name", None)
        for n in ast.walk(top):
            if (
                isinstance(n, ast.Compare)
                and isinstance(n.left, ast.Subscript)
                and const(n.left.slice) == "parent"
                and any(isinstance(op, ast.NotEq) for op in n.ops)
                and name != "_history"
            ):
                out.append(f"{name}:{n.lineno}: chain check")
            if (
                isinstance(n, ast.Try)
                and calls_load_manifest(n.body)
                and any(
                    "FileNotFoundError" in ast.dump(h.type or ast.Name(""))
                    for h in n.handlers
                )
                and name != "_manifest"
            ):
                out.append(f"{name}:{n.lineno}: except FileNotFoundError")
            key = None
            if isinstance(n, ast.Subscript) and isinstance(n.ctx, ast.Load):
                key = const(n.slice)
            elif (
                isinstance(n, ast.Call)
                and getattr(n.func, "attr", None) == "get"
                and n.args
            ):
                key = const(n.args[0])
            if key in ("min", "max") and name not in _ENTRY_STATS_OK:
                out.append(f'{name}:{n.lineno}: reads ["{key}"]')
    return out


def _snapshot_table_source() -> str:
    with open(st.__file__) as f:
        return f.read()


def test_one_resolver_one_pruning_rule_one_history_walk():
    assert _read_path_violations(_snapshot_table_source()) == []


def test_read_path_guard_flags_seeded_prune_loop_and_chain_walk():
    src = _snapshot_table_source()
    n = len(src.splitlines())
    seeded = src + (
        "\n\ndef _hand_prune(m, lo, hi):\n"
        '    return [e for e in m["files"] if e["min"] is None or lo <= e["max"]]\n'
        "\n\ndef _hand_walk(loc, a, b):\n"
        "    for v in range(a + 1, b + 1):\n"
        "        try:\n"
        "            m = load_manifest(loc, v)\n"
        "        except FileNotFoundError:\n"
        "            raise ValueError('retired') from None\n"
        '        if m["parent"] != v - 1:\n'
        "            raise ValueError('broken chain')\n"
    )
    assert sorted(_read_path_violations(seeded)) == sorted(
        [
            f'_hand_prune:{n + 4}: reads ["min"]',
            f'_hand_prune:{n + 4}: reads ["max"]',
            f"_hand_walk:{n + 9}: except FileNotFoundError",
            f"_hand_walk:{n + 13}: chain check",
        ]
    )
