"""One measurement tool (tools/profile_keys.py) on one timing loop and
one BENCH_RUNS writer (bench.py):

- an in-process A/B + DuckDB run records every (key, setting) row with
  its build/execute times and Spark work, and leaves the parent
  session's conf as it was;
- a cross-process run records each child's own core count;
- bench.py and tools/bench_baseline.py append to one BENCH_RUNS file
  per scale factor, each invocation naming its metric;
- a source scan keeps the noop sink, the "invocations" envelope and
  the one-off probes out of bench.py and tools/ (with a seeded negative
  control).
"""

import ast
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEYS = ["agg_hash_groupby", "join_broadcast_hash"]
AQE_OFF = "spark.sql.adaptive.enabled=false"


def test_in_process_ab_with_duckdb(spark, sf_dir):
    from tools import profile_keys

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    argv = [*KEYS, "--sf", sf_dir, "--runs", "2", "--ab", AQE_OFF, "--duckdb"]
    rows = profile_keys.main(argv, spark=spark)
    assert sorted((r["key"], r["setting"]) for r in rows) == sorted(
        (k, s) for k in KEYS for s in ("base", AQE_OFF)
    )
    for r in rows:
        assert r["build_s"] > 0 and r["execute_s"] > 0, r
        assert r["stages"] >= 1 and r["tasks"] >= 1, r
        assert r["duck_s"] > 0, r
        assert r["cpus"] == spark.sparkContext.defaultParallelism
        assert len(r["runs"]) == 2
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe


def test_cross_process_records_each_childs_cores(sf_dir):
    from tools import profile_keys

    argv = [KEYS[0], "--sf", sf_dir, "--runs", "1", "--xproc", "SPARK_GRAFT_CPUS=1,2"]
    rows = profile_keys.main(argv)
    assert {(r["setting"], r["cpus"], r["master"]) for r in rows} == {
        ("SPARK_GRAFT_CPUS=1", 1, "local[1]"),
        ("SPARK_GRAFT_CPUS=2", 2, "local[2]"),
    }


def _parse_invocation(inv: dict) -> dict[str, list[float]]:
    """Spark per-run seconds per key, read by the invocation's metric."""
    if inv["metric"] == "headline_query_wall_clock_runs":
        return inv["runs"]
    if inv["metric"] == "spark_vs_duckdb_runs":
        return {k: v["spark"] for k, v in inv["queries"].items()}
    raise AssertionError(f"unknown metric {inv['metric']!r}")


def test_bench_runs_writers_share_one_file(spark, sf_dir, tmp_path, monkeypatch, capsys):
    import bench
    from tools import bench_baseline

    corpus = tmp_path / "sf0.1"
    corpus.mkdir()
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        os.symlink(f, corpus / os.path.basename(f))
    monkeypatch.setattr(bench, "RUNS_DIR", str(tmp_path))
    for mod in (bench, bench_baseline):
        monkeypatch.setattr(mod, "HEADLINE", KEYS[:1])
        monkeypatch.setattr(mod, "get_spark", lambda *a, **k: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(corpus))

    bench.main()
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["cpus"] == spark.sparkContext.defaultParallelism
    assert line["master"] == spark.sparkContext.master and line["heap"]
    monkeypatch.setattr(sys, "argv", ["bench_baseline.py", str(corpus)])
    bench_baseline.main()

    assert sorted(os.listdir(tmp_path)) == ["BENCH_RUNS_sf0_1.json", "sf0.1"]
    with open(tmp_path / "BENCH_RUNS_sf0_1.json") as f:
        invocations = json.load(f)["invocations"]
    assert [inv["metric"] for inv in invocations] == [
        "headline_query_wall_clock_runs",
        "spark_vs_duckdb_runs",
    ]
    for inv in invocations:
        runs = _parse_invocation(inv)[KEYS[0]]
        assert len(runs) == 5 and min(runs) > 0


def _measurement_violations(files: dict[str, str]) -> list[str]:
    """One-off probes, noop sinks outside bench.materialize and
    "invocations" envelopes outside bench.append_runs."""
    allowed = {"noop": {"bench.py:materialize"}, "invocations": {"bench.py:append_runs"}}
    out = []
    for rel, src in sorted(files.items()):
        if os.path.basename(rel).startswith("probe_"):
            out.append(f"{rel}: one-off probe")

        def visit(node, where):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                where = f"{rel}:{node.name}"
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "format"
                and [ast.unparse(a) for a in node.args] == ["'noop'"]
                and where not in allowed["noop"]
            ):
                out.append(f"{where}: noop sink")
            if (
                isinstance(node, ast.Constant)
                and node.value == "invocations"
                and where not in allowed["invocations"]
            ):
                out.append(f"{where}: invocations envelope")
            for child in ast.iter_child_nodes(node):
                visit(child, where)

        visit(ast.parse(src), f"{rel}:<module>")
    return sorted(set(out))


def _measurement_sources() -> dict[str, str]:
    paths = [os.path.join(ROOT, "bench.py"), *glob.glob(os.path.join(ROOT, "tools", "*.py"))]
    out = {}
    for p in paths:
        with open(p) as f:
            out[os.path.relpath(p, ROOT)] = f.read()
    return out


def test_one_timing_loop_one_sink_one_runs_writer():
    assert _measurement_violations(_measurement_sources()) == []


def test_measurement_scan_flags_seeded_probe():
    seeded = dict(_measurement_sources())
    seeded["tools/probe_x.py"] = (
        "def mat(df):\n"
        "    df.write.format(\"noop\").mode(\"overwrite\").save()\n"
        "def save(doc, runs):\n"
        "    doc = {\"invocations\": [runs]}\n"
    )
    assert _measurement_violations(seeded) == [
        "tools/probe_x.py: one-off probe",
        "tools/probe_x.py:mat: noop sink",
        "tools/probe_x.py:save: invocations envelope",
    ]
