"""One fingerprint, one memo (database_importer_spark/cache.py).

- a source scan keeps every file stat key and every module-level cache
  inside cache.py (with a seeded negative control);
- a directory-shaped corpus whose part file is rewritten in place
  misses at every cache layer that keys on it;
- a snapshot table removed and recreated at the same path is never
  served from the old table's memoized manifest.
"""

import ast
import os
import shutil

from pyspark.sql import functions as F

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "database_importer_spark",
)

# module-level mutable dicts that are registries, not caches, plus the
# one memo kept outside cache.py (weak keys on DataFrame identity)
_NOT_CACHES = {
    ("plans/registry.py", "REGISTRY"),
    ("sources/loader.py", "_JDBC_DSNS"),
    ("operators/merge.py", "_ANCHOR_BASE"),
}
_MAPPING_CLASSES = {
    "WeakKeyDictionary",
    "WeakValueDictionary",
    "OrderedDict",
    "defaultdict",
}


def _is_cache_container(value) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    if not isinstance(value, ast.Call):
        return False
    f = value.func
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
    if name == "dict":
        return not value.args and not value.keywords
    low = name.lower()
    return name in _MAPPING_CLASSES or "cache" in low or "fifo" in low


def _cache_violations(rel: str, src: str) -> list[str]:
    """File stat keys and module-level cache containers in one module."""
    out = [f"{rel}: st_mtime_ns"] if "st_mtime_ns" in src else []
    for node in ast.parse(src).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        if not _is_cache_container(value):
            continue
        for t in targets:
            name = ast.unparse(t)
            if (rel, name) not in _NOT_CACHES:
                out.append(f"{rel}: {name}")
    return out


def test_scan_flags_seeded_stat_key_and_module_cache():
    seeded = (
        "import os\n"
        "import weakref\n"
        "_SCHEMAS: dict = {}\n"
        "_PER_SESSION = weakref.WeakKeyDictionary()\n"
        "def key(p):\n"
        "    st = os.stat(p)\n"
        "    return (p, st.st_size, st.st_mtime_ns)\n"
    )
    assert _cache_violations("sources/x.py", seeded) == [
        "sources/x.py: st_mtime_ns",
        "sources/x.py: _SCHEMAS",
        "sources/x.py: _PER_SESSION",
    ]
    constants = "_TABLE = {'a': 1}\nREGISTRY: dict = {}\n"
    assert _cache_violations("plans/registry.py", constants) == []


def test_one_fingerprint_one_memo():
    """Every file stat key goes through cache.fingerprint and every
    cache through cache.memo: no module outside cache.py reads
    st_mtime_ns or holds a module-level cache container."""
    bad = []
    for d, _subdirs, names in os.walk(PKG):
        for n in sorted(names):
            p = os.path.join(d, n)
            rel = os.path.relpath(p, PKG)
            if n.endswith(".py") and rel != "cache.py":
                with open(p) as f:
                    bad += _cache_violations(rel, f.read())
    assert not bad, bad


def _copy_corpus_with_part_dirs(src: str, dst: str) -> None:
    """sf copy whose orders and lineitem are directories of two parts."""
    import pyarrow.parquet as pq

    os.makedirs(dst)
    for n in sorted(os.listdir(src)):
        if not n.endswith(".parquet"):
            continue
        if n in ("orders.parquet", "lineitem.parquet"):
            t = pq.read_table(os.path.join(src, n))
            half = t.num_rows // 2
            os.makedirs(os.path.join(dst, n))
            pq.write_table(t.slice(0, half), os.path.join(dst, n, "part-00000.parquet"))
            pq.write_table(t.slice(half), os.path.join(dst, n, "part-00001.parquet"))
        else:
            shutil.copy(os.path.join(src, n), os.path.join(dst, n))


def _rewrite_first_orders_part(corpus: str) -> int:
    """Rewrite orders part-00000 in place: new o_orderkey maximum on its
    first row, and an added column. Returns the new maximum."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = os.path.join(corpus, "orders.parquet")
    part = os.path.join(d, "part-00000.parquet")
    new_max = max(
        pc.max(pq.read_table(os.path.join(d, n)).column("o_orderkey")).as_py()
        for n in os.listdir(d)
    ) + 1000
    t = pq.read_table(part)
    keys = t.column("o_orderkey").to_pylist()
    keys[0] = new_max
    t = t.set_column(
        t.schema.get_field_index("o_orderkey"), "o_orderkey", pa.array(keys, pa.int64())
    )
    t = t.append_column("o_note", pa.array(["rewritten"] * t.num_rows))
    dir_stat = os.stat(d)
    pq.write_table(t, part)
    # the premise of the defect: the directory's own stat is unchanged
    assert (os.stat(d).st_size, os.stat(d).st_mtime) == (
        dir_stat.st_size,
        dir_stat.st_mtime,
    )
    return new_max


def test_directory_shaped_corpus_every_cache_layer_misses(spark, sf_dir, tmp_path):
    """Rewriting a part file in place leaves a directory-shaped table's
    own size and mtime unchanged; every cache keyed on that table must
    still miss: the loader schema, sql_view, frame_cache, both ensure_*
    layouts, footer_exact_max, the Merger validate memo and _snap_loc.
    An untouched table (lineitem) keeps hitting."""
    from database_importer_spark.operators.merge import _file_anchored_key
    from database_importer_spark.operators.partitioning import (
        ensure_bucketed_layout,
        ensure_partitioned_layout,
    )
    from database_importer_spark.operators.pruning import footer_exact_max
    from database_importer_spark.plans.part_a import _snap_loc
    from database_importer_spark.plans.registry import frame_cache, sql_view
    from database_importer_spark.sources.loader import load_table

    corpus = str(tmp_path / "sf")
    _copy_corpus_with_part_dirs(sf_dir, corpus)
    orders = os.path.join(corpus, "orders.parquet")

    def narrow():
        return load_table(spark, corpus, "orders").select("o_orderkey", "o_orderstatus")

    builds = []

    def build():
        builds.append(1)
        return narrow()

    def observe():
        return {
            "sql_view": sql_view(spark, corpus, "orders"),
            "frame_cache": id(frame_cache(spark, corpus, "cache_probe", build)),
            "ensure_bucketed_layout": ensure_bucketed_layout(
                spark, corpus, "orders", narrow, ["o_orderkey"], buckets=2,
                memo_token="cache_probe_bkt",
            ),
            "ensure_partitioned_layout": ensure_partitioned_layout(
                spark, corpus, "orders", narrow, "o_orderstatus",
                memo_token="cache_probe_part",
            ),
            "footer_exact_max": footer_exact_max(orders, "o_orderkey"),
            "merger_validate": _file_anchored_key(
                load_table(spark, corpus, "orders"), ("o_orderkey",)
            ),
            "_snap_loc": _snap_loc(spark, corpus),
        }

    before = observe()
    lineitem_view = sql_view(spark, corpus, "lineitem")
    assert "o_note" not in load_table(spark, corpus, "orders").columns
    new_max = _rewrite_first_orders_part(corpus)
    after = {}
    try:
        after = observe()
        stale = [layer for layer in before if before[layer] == after[layer]]
        if "o_note" not in load_table(spark, corpus, "orders").columns:
            stale.append("load_table")
        assert not stale, f"stale cache layers: {stale}"
        assert after["footer_exact_max"] == new_max
        assert len(builds) == 2
        assert sql_view(spark, corpus, "lineitem") == lineitem_view
    finally:
        for obs in (before, after):
            if "ensure_bucketed_layout" in obs:
                spark.sql(f"DROP TABLE IF EXISTS {obs['ensure_bucketed_layout']}")
            if "ensure_partitioned_layout" in obs:
                shutil.rmtree(obs["ensure_partitioned_layout"], ignore_errors=True)


def test_recreated_snapshot_table_is_not_served_stale(spark, tmp_path):
    """A snapshot table removed and created again at the same root gets
    its own v0 manifest and rows, not the memoized old ones."""
    from database_importer_spark.operators import snapshot_table as st

    loc = str(tmp_path / "tbl")

    def first():
        return spark.range(6).select(
            F.col("id").cast("int").alias("k"),
            F.lit("first").alias("val"),
            (F.col("id") % 2).cast("int").alias("m"),
        )

    def second():
        return spark.range(4).select(
            F.col("id").cast("int").alias("k"),
            F.lit("second").alias("note"),
            (F.col("id") * 1.5).alias("score"),
            (F.col("id") % 2).cast("int").alias("m"),
        )

    st.create_snapshot_table(spark, loc, first, "m", "k", files=1)
    names = [f["name"] for f in st.load_manifest(loc, 0)["schema"]["fields"]]
    assert names == ["k", "val", "m"]
    assert {r["val"] for r in st.read_snapshot(spark, loc).collect()} == {"first"}

    shutil.rmtree(loc)
    st.create_snapshot_table(spark, loc, second, "m", "k", files=1)
    names = [f["name"] for f in st.load_manifest(loc, 0)["schema"]["fields"]]
    assert names == ["k", "note", "score", "m"]
    rows = st.read_snapshot(spark, loc).collect()
    assert sorted((r["k"], r["note"], r["score"]) for r in rows) == [
        (i, "second", i * 1.5) for i in range(4)
    ]
