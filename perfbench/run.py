"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload snapshot_upsert --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run reads the sf0.1 tables under
``perfbench/data/``, generates its traffic from the seed, builds its
targets under ``.perfbench/run-<pid>/`` and removes them at exit. ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer metrics of a separately traced run. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; a report with the run's
metadata, sample counts, checks and (traced) spans goes to
``.perfbench/results/``. See perfbench/README.md for the workloads and
metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "database_importer_spark"

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "write_p50_s": "s",
    "read_p50_s": "s",
    "rows_per_s": "1/s",
    "space_amp": "ratio",
}

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "loader.load_table_calls": "count",
    "loader.load_table_s": "s",
    "registry.build_s": "s",
    "registry.execute_s": "s",
    "merge.construct_s": "s",
    "merge.validate_s": "s",
    "jdbc.ddl_s": "s",
    "jdbc.stage_s": "s",
    "jdbc.stage_rows_per_s": "1/s",
    "jdbc.server_merge_s": "s",
    "snapshot.commit_s": "s",
    "snapshot.prewrite_s": "s",
    "snapshot.write_publish_s": "s",
    "snapshot.latest_version_calls": "count",
    "snapshot.latest_version_s": "s",
    "snapshot.manifests_on_disk": "count",
    "snapshot.files_live": "count",
    "snapshot.files_rewritten_per_commit": "count",
    "snapshot.bytes_written_per_row": "B",
    "snapshot.lookup_s": "s",
    "snapshot.lookup_files_kept_ratio": "ratio",
    "snapshot.vacuum_s": "s",
    "snapshot.vacuum_files_deleted": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_s_per_op": "s",
    "spark.executor_run_s_per_op": "s",
    "spark.executor_cpu_s_per_op": "s",
    "spark.input_bytes_per_op": "B",
    "spark.shuffle_write_bytes_per_op": "B",
    "spark.shuffle_read_bytes_per_op": "B",
    "spark.spill_bytes_per_op": "B",
    "spark.gc_s_per_op": "s",
}


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    run_dir: str
    corpus: str
    fingerprints: dict
    cache_dir: str
    inject: str | None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # negative controls for the benchmark's own tests: a seeded wrong
    # expected state (snapshot_upsert) or a seeded wrong oracle (llm)
    p.add_argument("--inject", choices=("wrong_state", "wrong_oracle"))
    return p.parse_args(argv)


def isolate(run_dir: str) -> dict[str, str]:
    """Point everything the run writes into ``run_dir``; returns the
    environment it set. The engine's own settings are left alone apart
    from its core count."""
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    derby = os.path.join(run_dir, "derby")
    for d in (local, tmp, derby):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the derby log and the JVM's temp files stay in the run dir
        "SPARK_GRAFT_JAVA_OPTS": (
            f"-Dderby.system.home={derby} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def metadata(spark, seed: int, fingerprints: dict, corpus: str, env: dict) -> dict:
    import hashlib

    import duckdb
    import pyspark

    commit = None  # a checkout without git history: package_sha256 names the code
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"],
                cwd=ROOT,
                capture_output=True,
                text=True,
                check=True,
            ).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "spark.driver.memory": conf.get("spark.driver.memory", "1g"),
        "env": env,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": commit,
        "package_sha256": h.hexdigest()[:16],
        "seed": seed,
        "corpus_fingerprints": fingerprints,
        "duckdb_calib_s": duckdb_calibration(corpus),
    }


def duckdb_calibration(corpus: str) -> float:
    """The fixed DuckDB aggregate of bench.py (min of 3): a host-speed
    anchor for reading the other numbers."""
    import duckdb

    con = duckdb.connect()
    q = (
        "SELECT l_returnflag, COUNT(*), SUM(l_quantity) FROM "
        f"'{corpus}/lineitem.parquet' GROUP BY 1"
    )
    times = []
    try:
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(q).fetchall()
            times.append(time.perf_counter() - t0)
    finally:
        con.close()
    return min(times)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs), for
    telling a slow run on a busy host from a slow program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """Peak resident memory of the JVM (VmHWM) and of this process."""
    hwm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm": hwm_kb / 1024.0, "python": own_kb / 1024.0}


def end_to_end(w, setup_s: float, elapsed: float) -> tuple[dict, dict]:
    from perfbench.stats import summary

    writes = [op.latency_s for op in w.ops if op.cls == "write"]
    reads = [op.latency_s for op in w.ops if op.cls == "read"]
    merged = [op for op in w.ops if op.cls == "write" and op.rows]
    ws, rs = summary(writes), summary(reads)
    values = {
        "setup_s": setup_s,
        "ops_per_s": w.n_timed / elapsed,
        "write_p50_s": ws["p50"],
        "read_p50_s": rs["p50"],
        "rows_per_s": sum(op.rows for op in merged) / sum(op.latency_s for op in merged),
        "space_amp": statistics.fmean(w.space_amp),
    }
    samples = {
        "ops": w.n_timed,
        "timed_s": elapsed,
        "client_s": w.client_s,
        "write": ws,
        "read": rs,
        "latencies_s": {"write": writes, "read": reads},
        "space_amp": len(w.space_amp),
        "rows_per_s": len(merged),
    }
    return values, samples


def per_layer(tr, session_s: float, rss_mb: float) -> dict:
    """Every per-layer metric; a layer the workload never calls reads 0.
    ``*_s`` of a span is the median duration of one call; counters are
    means over their samples; ``spark.*_per_op`` are means over ops."""
    v = {name: 0.0 for name in LAYER_UNITS}
    v["session.get_spark_s"] = session_s
    v["session.peak_rss_mb"] = rss_mb
    for span, metric in [
        ("loader.load_table", "loader.load_table_s"),
        ("registry.build", "registry.build_s"),
        ("registry.execute", "registry.execute_s"),
        ("merge.construct", "merge.construct_s"),
        ("merge.validate", "merge.validate_s"),
        ("jdbc.ddl", "jdbc.ddl_s"),
        ("jdbc.stage", "jdbc.stage_s"),
        ("jdbc.server_merge", "jdbc.server_merge_s"),
        ("snapshot.commit", "snapshot.commit_s"),
        ("snapshot.prewrite", "snapshot.prewrite_s"),
        ("snapshot.latest_version", "snapshot.latest_version_s"),
        ("snapshot.lookup", "snapshot.lookup_s"),
        ("snapshot.vacuum", "snapshot.vacuum_s"),
    ]:
        v[metric] = tr.median_s(span)
    v["loader.load_table_calls"] = tr.calls_per_op("loader.load_table")
    v["snapshot.latest_version_calls"] = tr.calls_per_op("snapshot.latest_version")
    stage = tr.durations("jdbc.stage")
    if stage:
        v["jdbc.stage_rows_per_s"] = sum(tr.samples["jdbc.stage_rows"]) / sum(stage)
    publish = []
    for i, (name, s, e, _, op) in enumerate(tr.spans):
        if name == "snapshot.commit" and op is not None:
            pre = sum(e2 - s2 for n2, s2, e2, p2, _ in tr.spans if p2 == i and n2 == "snapshot.prewrite")
            publish.append((e - s) - pre)
    if publish:
        v["snapshot.write_publish_s"] = statistics.median(publish)
    for name in (
        "snapshot.manifests_on_disk",
        "snapshot.files_live",
        "snapshot.files_rewritten_per_commit",
        "snapshot.bytes_written_per_row",
        "snapshot.lookup_files_kept_ratio",
        "snapshot.vacuum_files_deleted",
    ):
        v[name] = tr.mean(name)
    for key in (
        "jobs",
        "stages",
        "tasks",
        "driver_s",
        "executor_run_s",
        "executor_cpu_s",
        "input_bytes",
        "shuffle_write_bytes",
        "shuffle_read_bytes",
        "spill_bytes",
        "gc_s",
    ):
        v[f"spark.{key}_per_op"] = tr.per_op(key)
    return v


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def remove_dead_runs(work: str) -> None:
    """Remove run directories whose process is gone (a killed run)."""
    if not os.path.isdir(work):
        return
    for name in os.listdir(work):
        if not name.startswith("run-") or not name[4:].isdigit():
            continue
        try:
            os.kill(int(name[4:]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
        except PermissionError:
            pass


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    from perfbench import datagen
    from perfbench.trace import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench")
    remove_dead_runs(work)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    env = isolate(run_dir)
    spark = None
    phases = {}
    clock = [T_START]

    def mark(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - clock[0]
        clock[0] = now

    try:
        corpus = datagen.CORPUS
        fingerprints = datagen.corpus_fingerprints(corpus)
        mark("inputs")

        from database_importer_spark import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        mark("session")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        tracer = Tracer(spark) if args.trace else NullTracer()
        ctx = Context(
            spark,
            tracer,
            args.seed,
            run_dir,
            corpus,
            fingerprints,
            os.path.join(work, "oracle-cache"),
            args.inject,
        )
        w = WORKLOADS[args.workload](ctx)
        try:
            w.setup()
            mark("target")
            w.warmup()
            mark("warmup")
            rss_setup = peak_rss_mb(jvm_pid)
            setup_s = time.perf_counter() - T_START

            w.timed = True
            steal0 = steal_s()
            t_timed = time.perf_counter()
            while True:
                w.round()
                if time.perf_counter() - t_timed >= args.seconds:
                    break
            elapsed = time.perf_counter() - t_timed - w.client_s
            steal_timed = steal_s() - steal0
            w.timed = False
            mark("timed")
            rss = peak_rss_mb(jvm_pid)
            try:
                w.check()
            except Exception:  # a check that cannot run is a failed check
                traceback.print_exc()
                w.checks.append(("check_error", False))
            mark("check")
        finally:
            tracer.restore()
            w.teardown()
        meta = metadata(spark, args.seed, fingerprints, corpus, env)
        mark("teardown_metadata")
        e2e, samples = end_to_end(w, setup_s, elapsed)
        failed = sum(not op.ok for op in w.ops) + sum(not ok for _, ok in w.checks)
        report = {
            "workload": args.workload,
            "seconds": args.seconds,
            "trace": args.trace,
            "meta": meta,
            "end_to_end": e2e,
            "samples": samples,
            "checks": w.checks,
            "attempted": w.n_timed + len(w.checks),
            "failed": failed,
            "phases_s": phases,
            "peak_rss_mb": {"after_setup": rss_setup, "after_timed": rss},
            "steal_s_timed": steal_timed,
        }
        if args.trace:
            report["per_layer"] = per_layer(tracer, phases["session"], sum(rss.values()))
            report["tracing"] = tracer.dump()
        return report
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def save_report(report: dict, seed: int) -> str:
    out = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out, exist_ok=True)
    w, t = report["workload"], report["trace"]
    if t:
        untraced = os.path.join(out, f"{w}-seed{seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            report["tracing_overhead"] = {
                k: report["end_to_end"][k] - base[k] for k in base
            }
    path = os.path.join(out, f"{w}-seed{seed}-trace{t}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE} package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    report = run(args)
    path = save_report(report, args.seed)
    s = report["samples"]
    units = LAYER_UNITS if args.trace else E2E_UNITS
    values = report["per_layer"] if args.trace else report["end_to_end"]
    for name, unit in units.items():
        n = s["ops"]
        if name.startswith("write_"):
            n = s["write"]["n"]
        elif name.startswith("read_"):
            n = s["read"]["n"]
        elif name in ("space_amp", "rows_per_s"):
            n = s[name]
        elif name in ("setup_s", "session.get_spark_s", "session.peak_rss_mb"):
            n = 1
        print(f"{name} = {values[name]:.6g} {unit} n={n}")
    if "tracing_overhead" in report:
        for k, d in report["tracing_overhead"].items():
            print(f"tracing overhead {k}: {d:+.6g} {E2E_UNITS[k]}", file=sys.stderr)
    print(f"report: {path}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": report["failed"] == 0,
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
