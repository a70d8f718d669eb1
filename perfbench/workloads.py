"""The benchmark's workloads. Each one builds its own target under the
run directory, drives the engine in a closed loop from one client
thread (the next op starts when the previous one returns) and checks
every result against state the benchmark keeps itself.

A workload records ops as ``Op(cls, latency_s, ok, rows)``: ``cls`` is
"write" or "read". Client work between ops (generating a batch,
applying it to the expected state, comparing results) is timed apart
and excluded from throughput.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import datagen
from perfbench.trace import group_stats
from tools.check_oracles import compare

KEY = "o_orderkey"
PART_COL = "o_month"
# checked key-range lookups after each snapshot commit. A lookup takes
# ~1.5x the read of the touched months; with one of each the read median
# fell in the gap between the two and moved with both extremes
LOOKUPS = 2


@dataclass
class Op:
    cls: str
    latency_s: float
    ok: bool
    rows: int = 0


def canon_orders(df: pd.DataFrame) -> pd.DataFrame:
    """``orders`` rows in one canonical form: fixed column order and
    dtypes, sorted by key, fresh index."""
    df = df[datagen.ORDER_COLS].reset_index(drop=True)
    df["o_orderdate"] = pd.to_datetime(df["o_orderdate"]).astype("datetime64[us]")
    for c in ("o_orderkey", "o_custkey"):
        df[c] = df[c].astype("int64")
    df["o_totalprice"] = df["o_totalprice"].astype("float64")
    for c in ("o_orderstatus", "o_orderpriority"):
        df[c] = df[c].astype(str)
    return df.sort_values(KEY, ignore_index=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    a, b = canon_orders(got), canon_orders(want)
    if len(a) != len(b):
        return False
    ha = pd.util.hash_pandas_object(a, index=False).to_numpy()
    hb = pd.util.hash_pandas_object(b, index=False).to_numpy()
    return bool((ha == hb).all())


def tree_bytes(path: str) -> int:
    total = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
            except OSError:
                pass
    return total


class Workload:
    """Shared run logic: ``setup`` builds the target, ``warmup`` runs
    untimed ops, ``round`` runs one closed-loop unit of timed ops and
    ``check`` runs the end-of-run checks. Subclasses fill these in."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.rng = np.random.default_rng(ctx.seed)
        self.ops: list[Op] = []
        self.checks: list[tuple[str, bool]] = []
        self.client_s = 0.0
        self.space_amp: list[float] = []
        self.timed = False
        self._op_id = 0
        self.group = None
        self.n_timed = 0

    def timed_op(self, kind: str, fn):
        """Run ``fn`` as one op under its own Spark job group (named in
        ``self.group``); returns (result, latency, error)."""
        self._op_id += 1
        self.n_timed += self.timed
        self.group = f"perfbench-op-{self._op_id}"
        sc = self.spark.sparkContext
        ctx = contextlib.nullcontext()
        if self.timed:
            ctx = self.tr.op(self.group, self._op_id, kind)
        sc.setJobGroup(self.group, kind)
        t0 = time.perf_counter()
        try:
            with ctx:
                result = fn()
            return result, time.perf_counter() - t0, None
        except Exception as e:  # a failed op is counted, the run goes on
            return None, time.perf_counter() - t0, e
        finally:
            sc.setJobGroup("perfbench-idle", "between ops")

    def record(self, cls: str, latency: float, ok: bool, rows: int = 0) -> None:
        if self.timed:
            self.ops.append(Op(cls, latency, ok, rows))

    def record_read(self, latency: float, err, got, want) -> None:
        """Record a read op whose rows ``got`` must equal ``want()``.
        Warm-up ops are not recorded, so their rows are not compared."""
        if self.timed:
            with self.client():
                ok = err is None and frames_equal(got, want())
            self.ops.append(Op("read", latency, ok))

    @contextlib.contextmanager
    def client(self):
        """Client work between ops, timed apart from the ops."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.timed:
                self.client_s += time.perf_counter() - t0

    def warmup(self) -> None:
        """Untimed ops before the timed phase; see the subclasses."""

    def round(self) -> None:
        """One closed-loop unit of work with the same mix of ops in
        every run; the timed phase runs whole rounds."""
        raise NotImplementedError

    def check(self) -> None:
        pass

    def teardown(self) -> None:
        pass


def upsert_rows(state: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
    """``state`` (indexed by key) with ``batch`` applied: rows of known
    keys replaced, rows of new keys appended."""
    b = canon_orders(batch).set_index(KEY, drop=False)
    known = b.index.isin(state.index)
    state.loc[b.index[known]] = b[known]
    return pd.concat([state, b[~known]])


class DerbyTarget:
    """``orders`` in embedded Derby, upserted through the reference's
    data plane: ``Merger`` construction and key validation, the staging
    DDL, JDBC staging and the server-side merge statements. It receives
    only some of the batches, so it keeps its own expected state."""

    table = "ORDERS_TGT"
    # the column types Spark's JDBC writer gives ``orders`` in Derby
    columns = (
        ("o_orderkey", "BIGINT"),
        ("o_custkey", "BIGINT"),
        ("o_orderstatus", "VARCHAR(8)"),
        ("o_totalprice", "DOUBLE"),
        ("o_orderdate", "TIMESTAMP"),
        ("o_orderpriority", "VARCHAR(32)"),
    )

    def __init__(self, w: Workload, orders: pd.DataFrame, expected: pd.DataFrame):
        """Load ``orders`` into a fresh Derby database with Derby's own
        bulk import of a CSV copy. The target is the benchmark's
        scaffolding: the import takes ~2 s, where Spark's JDBC writer,
        as the session's first job, took ~7 s of every run."""
        from database_importer_spark.sources import jdbc_sink as J

        self.w, self.J = w, J
        derby = os.path.join(w.ctx.run_dir, "derby")
        self.db = os.path.join(derby, "orders_db")
        self.url = J.derby_url(self.db, create=True)
        csv = os.path.join(derby, "orders.csv")
        orders[datagen.ORDER_COLS].to_csv(
            csv, index=False, header=False, date_format="%Y-%m-%d %H:%M:%S.%f"
        )
        cols = ", ".join(f'"{c}" {t}' for c, t in self.columns)
        J.execute_statements(
            w.spark,
            self.url,
            [
                f"CREATE TABLE {self.table} ({cols})",
                "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
                f"null, '{self.table}', '{csv}', ',', '\"', 'UTF-8', 0)",
            ],
        )
        os.remove(csv)
        self.target = w.spark.read.jdbc(self.url, self.table)
        self.expected = expected.copy()
        self.merges = 0

    def merge(self, batch: pd.DataFrame) -> None:
        """One write op: the batch merged into the Derby table."""
        from database_importer_spark.operators.merge import Merger

        J, w, tr = self.J, self.w, self.w.tr
        self.merges += 1
        run_id = f"op{self.merges}"

        def merge():
            data = w.spark.createDataFrame(batch, schema=self.target.schema)
            with tr.span("merge.construct"):
                m = Merger(self.target, data, join_on=[KEY])
            with tr.span("merge.validate"):
                m.validate_unique_keys()
            plan = J.build_merge_plan(
                self.table, m.join_on, m.subset, dialect="derby", run_id=run_id
            )
            with tr.span("jdbc.ddl"):
                J.execute_statements(w.spark, self.url, [plan.drop_staging, plan.create_staging])
            with tr.span("jdbc.stage"):
                J.stage_dataframe(m.data, self.url, plan.staging)
            if w.timed:
                tr.count("jdbc.stage_rows", len(batch))
            with tr.span("jdbc.server_merge"):
                J.execute_statements(
                    w.spark,
                    self.url,
                    [
                        plan.index_staging,
                        plan.index_target,
                        plan.update,
                        plan.insert,
                        plan.drop_staging_after,
                        plan.drop_index_target,
                    ],
                )

        _, lat, err = w.timed_op("write", merge)
        w.record("write", lat, err is None, len(batch))
        with w.client():
            self.expected = upsert_rows(self.expected, batch)

    def check(self) -> bool:
        got = self.w.spark.read.jdbc(self.url, self.table).toPandas()
        return frames_equal(got, self.expected)

    def teardown(self) -> None:
        self.J.derby_shutdown(self.w.spark, self.db)
        shutil.rmtree(os.path.dirname(self.db), ignore_errors=True)


class SnapshotUpsert(Workload):
    """Seeded upsert batches against ``orders``: every batch is merged
    into a snapshot table and read back; the first ``jdbc_batches``
    batches of each round are also merged into Derby through the JDBC
    data plane. The benchmark keeps the expected ``orders`` state of
    each target in pandas and applies every batch to it."""

    name = "snapshot_upsert"
    # batches of a round the warm-up applies
    warmup_batches = 4
    # batches of a round also merged into Derby
    jdbc_batches = 2

    def setup(self) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from database_importer_spark.operators import snapshot_table as S

        self.S = S
        self.loc = os.path.join(self.ctx.run_dir, "table")
        corpus = self.ctx.corpus

        def part_of(df):
            return (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int")

        self.part_of = part_of

        def v0():
            from database_importer_spark.sources.loader import load_table

            o = load_table(self.spark, corpus, "orders")
            return o.withColumn(PART_COL, part_of(o))

        S.create_snapshot_table(
            self.spark,
            self.loc,
            v0,
            PART_COL,
            KEY,
            files=16,
            stats_cols=[KEY],
        )
        m = S.load_manifest(self.loc, 0)
        schema = T.StructType.fromJson(m["schema"])
        self.batch_schema = T.StructType([f for f in schema.fields if f.name != PART_COL])
        orders = pd.read_parquet(os.path.join(corpus, "orders.parquet"))
        self.expected = canon_orders(orders).set_index(KEY, drop=False)
        self.batches = datagen.BatchGenerator(self.ctx.seed, orders)
        if self.ctx.inject == "wrong_state":
            # negative control: the expected state holds one seeded row
            # the tables lack, under a negative key no batch writes, so
            # the final checks and every read of its month fail
            k = int(self.rng.integers(0, len(self.expected)))
            phantom = self.expected.iloc[[k]].copy()
            phantom[KEY] = -1 - k
            self.expected = pd.concat([self.expected, phantom.set_index(KEY, drop=False)])
        self.derby = DerbyTarget(self, orders, self.expected)
        if self.tr.enabled:
            self._install_wraps()

    def _install_wraps(self) -> None:
        S, tr = self.S, self.tr

        def rewritten(result, args, kwargs):
            if self.timed:
                tr.count("snapshot.files_rewritten_per_commit", len(result[2]))

        def kept(result, args, kwargs):
            m, entries = result
            if self.timed:
                tr.count("snapshot.lookup_files_kept_ratio", len(entries) / max(1, len(m["files"])))

        tr.wrap(S, "merge_snapshot_prewrite", "snapshot.prewrite", rewritten)
        tr.wrap(S, "latest_version", "snapshot.latest_version")
        tr.wrap(S, "snapshot_files_keyrange", "snapshot.keyrange_files", kept)

    def expected_range(self, lo: int, hi: int) -> pd.DataFrame:
        e = self.expected
        return e[(e[KEY] >= lo) & (e[KEY] <= hi)]

    def key_range(self, width: int) -> tuple[int, int]:
        top = int(self.expected[KEY].max())
        lo = int(self.rng.integers(0, top - width))
        return lo, lo + width

    def cycle(self, n: int, touched: list[int], width: int, jdbc: bool) -> None:
        """One batch: the snapshot commit, the Derby merge if ``jdbc``,
        the read of the touched months and the key-range lookups."""
        S, tr = self.S, self.tr
        with self.client():
            batch = self.batches.batch(n, touched)

        def commit():
            with tr.span("snapshot.commit"):
                return S.merge_snapshot_commit(
                    self.spark,
                    self.loc,
                    self.spark.createDataFrame(batch, schema=self.batch_schema),
                    [KEY],
                    self.part_of,
                    touched,
                )

        version, lat, err = self.timed_op("write", commit)
        self.record("write", lat, err is None, len(batch))
        with self.client():
            self.expected = upsert_rows(self.expected, batch)
            if err is None and self.timed:
                self._commit_stats(version, len(batch))
        if jdbc:
            self.derby.merge(batch)

        def ryw():
            # part_values prunes files; the filter keeps the months' rows
            df = S.read_snapshot(self.spark, self.loc, part_values=touched)
            return df.filter(df[PART_COL].isin(touched)).toPandas()

        def want():
            e = self.expected
            return e[datagen.month_of(e["o_orderdate"]).isin(touched)]

        got, lat, err = self.timed_op("read", ryw)
        self.record_read(lat, err, got, want)

        def lookup(lo, hi):
            with tr.span("snapshot.lookup"):
                return S.read_snapshot_keyrange(self.spark, self.loc, KEY, lo, hi).toPandas()

        # one lookup in a warm-up cycle
        for _ in range(LOOKUPS if self.timed else 1):
            lo, hi = self.key_range(width)
            got, lat, err = self.timed_op("read", lambda: lookup(lo, hi))
            self.record_read(lat, err, got, lambda: self.expected_range(lo, hi))

    def batches_of_round(self, count: int | None = None) -> None:
        for i, (n, touched, width) in enumerate(self.batches.round()[:count]):
            self.cycle(n, touched, width, i < self.jdbc_batches)
        self.vacuum()

    def warmup(self) -> None:
        """The first ``warmup_batches`` batches of a round and a vacuum,
        untimed. Write latencies fall by 10-20% over the first ten or so
        writes of a run as the JVM compiles the hot paths; a timed phase
        that starts cold moves with how fast the host warms up."""
        self.batches_of_round(self.warmup_batches)

    def round(self) -> None:
        """The batches of one round, then a vacuum as a write op."""
        self.batches_of_round()

    def vacuum(self) -> None:
        def vacuum():
            with self.tr.span("snapshot.vacuum"):
                return self.S.vacuum_snapshot(self.loc)

        res, lat, err = self.timed_op("write", vacuum)
        self.record("write", lat, err is None)
        if err is None and self.timed:
            self.tr.count("snapshot.vacuum_files_deleted", res[1])

    def _commit_stats(self, version: int, rows: int) -> None:
        S = self.S
        m = S.load_manifest(self.loc, version)
        live = sum(os.path.getsize(os.path.join(self.loc, e["path"])) for e in m["files"])
        self.space_amp.append(tree_bytes(self.loc) / live)
        if self.tr.enabled:
            new = [e for e in m["files"] if e.get("seq") == version]
            written = sum(os.path.getsize(os.path.join(self.loc, e["path"])) for e in new)
            self.tr.count("snapshot.bytes_written_per_row", written / max(1, rows))
            self.tr.count("snapshot.files_live", len(m["files"]))
            mdir = os.path.join(self.loc, "_manifests")
            self.tr.count("snapshot.manifests_on_disk", len(os.listdir(mdir)))

    def check(self) -> None:
        got = self.S.read_snapshot(self.spark, self.loc).drop(PART_COL).toPandas()
        self.checks.append(("final_table", frames_equal(got, self.expected)))
        self.checks.append(("final_derby_table", self.derby.check()))

    def teardown(self) -> None:
        self.derby.teardown()
        shutil.rmtree(self.loc, ignore_errors=True)


class LlmKeys(Workload):
    """Declared read-only LLM keys on the corpus: one op builds a key's
    plan and writes its result to the noop sink. A round is one pass
    over every key and a second over all but the two near-duplicate
    keys, each pass in its own seeded order. The keys' latencies spread
    over 0.2-4 s, and with one sample per key the median moved by a
    quartile spread of 0.29 from run to run; the near-duplicate keys
    take 2-4 s each, far above the median, so the second pass leaves
    them out to stay inside the run time budget."""

    heavy = ("llm_dedup_near_minhash", "llm_dedup_simhash")

    name = "llm"
    keys = [
        "llm_dedup_exact",
        "llm_dedup_near_minhash",
        "llm_dedup_simhash",
        "llm_similarity_topk",
        "llm_similarity_lsh",
        "llm_similarity_ivf",
        "llm_text_tokenize_tf",
        "llm_fingerprint",
        "udf_pandas_vectorized",
        "llm_pipeline_end2end",
    ]

    def setup(self) -> None:
        from database_importer_spark.plans import REGISTRY

        self.registry = REGISTRY
        if self.tr.enabled:
            from database_importer_spark.sources import loader

            self.tr.wrap(loader, "load_table", "loader.load_table")
        # warm-up: one collected pass; its results are checked against
        # the DuckDB oracles after the timed phase
        self.results = {k: REGISTRY[k].fn(self.spark, self.ctx.corpus).toPandas() for k in self.keys}
        self.rows = {k: len(v) for k, v in self.results.items()}
        self.corpus_bytes = tree_bytes(self.ctx.corpus)

    def light(self) -> list[str]:
        return [k for k in self.keys if k not in self.heavy]

    def warmup(self) -> None:
        """The collected pass of ``setup`` ran every key once; the
        lighter keys, which hold the read median, run 10% faster again
        on their next run, so they run once more untimed."""
        self.one_pass(self.light())

    def round(self) -> None:
        self.one_pass(self.keys)
        self.one_pass(self.light())

    def one_pass(self, keys: list[str]) -> None:
        tr = self.tr
        for key in self.rng.permutation(keys):
            key = str(key)
            times = {}

            def run():
                t0 = time.perf_counter()
                with tr.span("registry.build"):
                    df = self.registry[key].fn(self.spark, self.ctx.corpus)
                t1 = time.perf_counter()
                with tr.span("registry.execute"):
                    df.write.format("noop").mode("overwrite").save()
                times["sink"] = time.perf_counter() - t1

            _, lat, err = self.timed_op("read", run)
            self.record("read", lat, err is None)
            if err is None:
                self.record("write", times["sink"], True, self.rows[key])
            with self.client():
                if self.timed:
                    stats = group_stats(self.spark, self.group)
                    shuffled = stats.get("shuffle_write_bytes", 0.0)
                    self.space_amp.append((self.corpus_bytes + shuffled) / self.corpus_bytes)

    def check(self) -> None:
        wrong = None
        if self.ctx.inject == "wrong_oracle":
            wrong = self.keys[int(self.rng.integers(0, len(self.keys)))]
        for key in self.keys:
            want = self.oracle(key)
            if key == wrong:
                # negative control: a seeded oracle that drops a row
                want = want.iloc[1:]
            self.checks.append((key, not compare(self.results[key], want)))

    def oracle(self, key: str) -> pd.DataFrame:
        """The key's DuckDB oracle answer on the corpus. Answers are
        cached under the checkout's .perfbench/ by corpus fingerprint,
        oracle text and DuckDB version: the corpus is the same in every
        run and two of the oracles take ~10 s each."""
        import hashlib
        import json

        import duckdb

        from tools.check_oracles import PY_ORACLES

        sql = self.registry[key].oracle
        tag = json.dumps(
            [self.ctx.fingerprints, key, sql, key in PY_ORACLES, duckdb.__version__]
        )
        path = os.path.join(
            self.ctx.cache_dir, hashlib.sha256(tag.encode()).hexdigest()[:24] + ".pkl"
        )
        if os.path.exists(path):
            return pd.read_pickle(path)
        con = duckdb.connect()
        try:
            for name in datagen.TABLES:
                table = os.path.join(self.ctx.corpus, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{table}'")
            want = PY_ORACLES[key](con) if key in PY_ORACLES else con.sql(sql).df()
        finally:
            con.close()
        os.makedirs(self.ctx.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        want.to_pickle(tmp)
        os.replace(tmp, path)
        return want


WORKLOADS = {w.name: w for w in (SnapshotUpsert, LlmKeys)}
