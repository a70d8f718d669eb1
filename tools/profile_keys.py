"""Profile declared keys: where each key's time goes, under the
settings being compared.

For each key and each setting, alternated min-of-N runs
(``bench.timed_runs``) record

- ``build_s``: the ``fn(spark, sf_dir)`` call (py4j plan construction,
  plus whatever the builder itself runs);
- ``execute_s``: ``bench.materialize`` of the frame just built;
- the run's Spark work from the status store
  (``perfbench.trace.group_stats``): jobs, stages, tasks, input,
  shuffle and spill bytes, executor and GC time, and ``driver_s``
  (time outside any job). Each run has its own job group.

Each row also records the session's ``cpus``, ``master`` and ``heap``.
A table goes to stdout; ``--json OUT`` writes every row with its
per-run records. Times are the min over runs, Spark counters the
median.

Usage:
  python tools/profile_keys.py --sf DIR [--runs N] (KEY... | --all)
      [--ab CONF=V[,CONF=V]]... [--xproc VAR=a,b[,c]]
      [--duckdb] [--json OUT]

  --all     every declared key; a key that raises is reported and
            skipped (the super-linear-scaling sweep at a big sf).
  --ab      one more setting: a ``spark.newSession()`` child with these
            session confs, run alternated with the parent session (the
            parent's conf never changes). Repeat for more settings.
  --xproc   one child process of this tool per value of the env var
            (JVM-level settings: SPARK_DRIVER_MEMORY, SPARK_GRAFT_CPUS,
            SPARK_GRAFT_JAVA_OPTS), run in the order given; give the
            values twice in mirrored order (a,b,b,a) to alternate.
  --duckdb  also time a DuckDB CTAS of each key's oracle (``duck_s``,
            min-of-N): the engine-side twin of the noop sink, with no
            Python fetch cost on either side.
"""

from __future__ import annotations

import argparse
import functools
import itertools
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import materialize, setup, timed_runs  # noqa: E402
from perfbench.trace import group_stats  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Spark counters per run, reported as the median over runs.
COUNTERS = [
    "jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "executor_run_s",
    "executor_cpu_s", "gc_s", "driver_s",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("keys", nargs="*")
    p.add_argument("--all", action="store_true")
    p.add_argument("--sf", required=True, help="corpus directory, e.g. .../sf0.1")
    p.add_argument("--runs", type=int, default=5)
    p.add_argument("--ab", action="append", default=[])
    p.add_argument("--xproc")
    p.add_argument("--duckdb", action="store_true")
    p.add_argument("--json")
    args = p.parse_args(argv)
    if not args.keys and not args.all:
        p.error("name keys or pass --all")
    return args


def duckdb_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def duck_ctas_runs(con, sql: str, runs: int) -> list[float]:
    """Seconds of each of ``runs`` timed DuckDB CTAS of ``sql`` after a
    warm one; the output is dropped before returning so it never holds
    memory during the next Spark timing."""

    def ctas():
        con.execute("DROP TABLE IF EXISTS __profile_out")
        con.execute(f"CREATE TEMP TABLE __profile_out AS ({sql})")

    times = [s for s, _ in timed_runs({"duck": ctas}, runs)["duck"]]
    con.execute("DROP TABLE IF EXISTS __profile_out")
    return times


def settings(spark, ab: list[str]) -> dict:
    """The parent session plus one ``newSession()`` child per --ab
    spec. The engine's own child sessions of that child (static-plan,
    skew, pushdown) get the confs too: as new sessions they would not
    inherit them, and many keys run there."""
    from database_importer_spark import session as S

    out = {"base": spark}
    for spec in ab:
        child = spark.newSession()
        confs = [kv.split("=", 1) for kv in spec.split(",")]
        kin = [S.static_plan_session, S.skew_plan_session, S.pushdown_plan_session]
        for s in [child, *(make(child) for make in kin)]:
            for conf, value in confs:
                s.conf.set(conf.strip(), value.strip())
        out[spec] = child
    return out


def profile_key(spark, sessions: dict, key: str, sf_dir: str, runs: int) -> list[dict]:
    from database_importer_spark.plans import REGISTRY

    fn = REGISTRY[key].fn
    sc = spark.sparkContext
    seq = itertools.count()

    def run(session):
        group = f"profile-keys-{key}-{next(seq)}"
        sc.setJobGroup(group, key)
        t0 = time.time()
        b0 = time.perf_counter()
        df = fn(session, sf_dir)
        b1 = time.perf_counter()
        materialize(df)
        e1 = time.perf_counter()
        return {"build_s": b1 - b0, "execute_s": e1 - b1, "group": (group, t0, time.time())}

    prev = sc.getLocalProperty("spark.jobGroup.id")
    try:
        timed = timed_runs({label: functools.partial(run, s) for label, s in sessions.items()}, runs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    rows = []
    for label, pairs in timed.items():
        recs = [r for _, r in pairs]
        # read after the timed runs, so no status-store work runs between them
        for r in recs:
            r.update(group_stats(spark, *r.pop("group")))
        row = {"key": key, "setting": label, **setup(spark)}
        row["build_s"] = min(r["build_s"] for r in recs)
        row["execute_s"] = min(r["execute_s"] for r in recs)
        row.update({c: statistics.median(r.get(c, 0.0) for r in recs) for c in COUNTERS})
        row["runs"] = recs
        rows.append(row)
    return rows


def in_process(args, spark) -> list[dict]:
    from database_importer_spark.plans import REGISTRY

    if spark is None:
        from database_importer_spark import get_spark

        spark = get_spark("profile-keys")
        spark.sparkContext.setLogLevel("ERROR")
    keys = sorted(REGISTRY) if args.all else args.keys
    sessions = settings(spark, args.ab)
    con = duckdb_views(args.sf) if args.duckdb else None
    rows = []
    for key in keys:
        try:
            key_rows = profile_key(spark, sessions, key, args.sf, args.runs)
        except Exception as exc:  # noqa: BLE001 — report and go on
            if not args.all:
                raise
            print(f"ERROR {key}: {type(exc).__name__}: {exc}", file=sys.stderr, flush=True)
            rows.append({"key": key, "setting": "base", "error": f"{type(exc).__name__}: {exc}"})
            continue
        if con is not None:
            oracle = REGISTRY[key].oracle
            duck = min(duck_ctas_runs(con, oracle, args.runs)) if oracle else None
            for row in key_rows:
                row["duck_s"] = duck
        for row in key_rows:
            print_row(row)
        rows += key_rows
    return rows


def cross_process(args) -> list[dict]:
    """One child process of this tool per value of the --xproc env var,
    in the order given; each child runs the other flags."""
    var, values = args.xproc.split("=", 1)
    child = [*args.keys, "--sf", args.sf, "--runs", str(args.runs)]
    child += [f"--ab={a}" for a in args.ab]
    child += ["--all"] * args.all + ["--duckdb"] * args.duckdb
    rows = []
    for value in values.split(","):
        print(f"== {var}={value}", flush=True)
        with tempfile.TemporaryDirectory() as tmp:
            out = os.path.join(tmp, "rows.json")
            env = {**os.environ, var: value}
            subprocess.run([sys.executable, __file__, *child, "--json", out], env=env, check=True)
            with open(out) as f:
                doc = json.load(f)
        for row in doc["rows"]:
            base = row["setting"] == "base"
            row["setting"] = f"{var}={value}" + ("" if base else f" {row['setting']}")
            rows.append(row)
    return rows


def print_row(row: dict) -> None:
    if "error" in row:
        return
    duck = row.get("duck_s")
    print(
        f"{row['key']:32s} {row['setting']:34s} cpus {row['cpus']:>2}  "
        f"build {row['build_s'] * 1e3:8.1f} ms  exec {row['execute_s'] * 1e3:8.1f} ms  "
        f"jobs {row['jobs']:3.0f} stages {row['stages']:3.0f} tasks {row['tasks']:5.0f}  "
        f"shufw {row['shuffle_write_bytes'] / 2**20:7.2f} MB"
        + (f"  duck {duck * 1e3:8.1f} ms" if duck else ""),
        flush=True,
    )


def main(argv=None, spark=None) -> list[dict]:
    """Profile the keys ``argv`` names; returns the rows. ``spark``
    (in-process runs only) replaces the tool's own session."""
    args = parse_args(argv)
    rows = cross_process(args) if args.xproc else in_process(args, spark)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"sf_dir": args.sf, "runs": args.runs, "rows": rows}, f, indent=1)
    return rows


if __name__ == "__main__":
    main()
