"""Snapshot table: a minimal lakehouse commit protocol on plain
parquet — versioned manifests, file-granular copy-on-write MERGE,
optimistic concurrency, time travel, snapshot-isolated readers, and
vacuum.

Why this exists. ``upsert_merge_partitioned`` already rewrites only
the partitions a batch touches, but its commit primitive (dynamic
partition overwrite) DELETES the replaced directory in place — it is
not crash-atomic and a concurrent reader of the old files fails
mid-job (the r8 cross-process sweep caught exactly that:
FAILED_READ_FILE when a peer's commit deleted files this process had
planned over; the stopgap was process-scoping the table). Delta Lake
and Iceberg solve both problems with the same structure, and this
module implements that structure natively since the container ships
no lakehouse jars (carried verdict item since r3):

* data files are IMMUTABLE and never deleted by a commit — a commit
  only writes NEW files plus a NEW manifest;
* a manifest (``_manifests/v{N}.json``) lists every live data file
  with file-level partition-column min/max stats (Iceberg-style file
  pruning metadata: the planner prunes files from the manifest before
  the engine lists or reads anything);
* commits are ATOMIC and OPTIMISTICALLY CONCURRENT: the new manifest
  is staged to a temp name and published with ``os.link`` — link(2)
  fails with EEXIST if a peer already claimed the version, and the
  loser recomputes against the winner's state and retries (exactly
  Delta's commit-log protocol, with the local filesystem's atomic
  link standing in for the object-store conditional put);
* readers resolve a VERSION once and plan over its immutable file
  list — snapshot isolation: a concurrent commit can never change or
  delete the files under a running query, so the cross-process
  FAILED_READ_FILE class is structurally impossible here, and any
  historical version stays readable (time travel) until ``vacuum``
  explicitly retires it.

Scale notes (100 TB lens): per-commit work is |touched files| +
|batch| — both the data rewritten and the metadata written scale with
the commit, not the table. Reads plan from the manifest: file pruning
is a driver-side metadata scan (the same fenced zone-map class as
operators/pruning — bounded by the manifest, no data pages), and the
engine receives an explicit pruned file list, so an untouched
partition costs nothing even at listing level. The driver-side
manifest json is the single-coordinator simplification of Iceberg's
avro manifest tree; at real scale the file list would be chunked, but
the protocol (immutable files + atomic version swap + optimistic
retry) is the one production systems run.
"""

from __future__ import annotations

import functools
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_importer_spark.cache import fingerprint, memo
from database_importer_spark.operators.merge import Merger
from database_importer_spark.operators.partitioning import _layout_lock

_FORMAT = "dbis-snapshot/1"


def _manifest_dir(loc: str) -> str:
    return os.path.join(loc, "_manifests")


def _manifest_path(loc: str, version: int) -> str:
    return os.path.join(_manifest_dir(loc), f"v{version:08d}.json")


def latest_version(loc: str) -> int | None:
    """Highest published manifest version, or None for no table."""
    d = _manifest_dir(loc)
    if not os.path.isdir(d):
        return None
    best = None
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                v = int(name[1:-5])
            except ValueError:
                continue
            best = v if best is None else max(best, v)
    return best


def load_manifest(loc: str, version: int) -> dict:
    # a published manifest is immutable (link(2) never overwrites), but
    # a table root can be removed and recreated at the same path: key
    # on the manifest file's fingerprint, not on (loc, version)
    path = _manifest_path(loc, version)
    manifests = memo("manifests")
    key = fingerprint(path)
    hit = manifests.get(key)
    if hit is None:
        with open(path) as f:
            hit = json.load(f)
        if hit.get("format") != _FORMAT:
            raise ValueError(f"not a {_FORMAT} manifest: {path}")
        manifests[key] = hit
    return hit


def _publish_manifest(loc: str, manifest: dict) -> None:
    """Atomically publish ``manifest`` as its version. Raises
    FileExistsError if a concurrent writer already claimed the
    version — the caller's optimistic-retry point."""
    d = _manifest_dir(loc)
    os.makedirs(d, exist_ok=True)
    final = _manifest_path(loc, manifest["version"])
    tmp = final + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)  # atomic, fails on EEXIST: the CAS
    finally:
        os.unlink(tmp)


def _col_min_max(md, name_to_idx, col):
    """(min, max) of one column across a file's row groups from the
    parquet FOOTER, or (None, None) when any group lacks stats or the
    values are not JSON-portable (manifests are json)."""
    idx = name_to_idx.get(col)
    if idx is None:
        return None, None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    ok = (int, float, str)
    if not (isinstance(lo, ok) and isinstance(hi, ok)):
        return None, None
    return lo, hi


def _file_entries(
    commit_dir: str, loc: str, part_col: str, stats_cols: list[str] = ()
) -> list[dict]:
    """Manifest entries for every parquet file Spark wrote into
    ``commit_dir``: relative path, row count, the partition column's
    min/max, and — when the table declares secondary ``stats_cols``
    (Iceberg per-column stats) — a ``stats`` map of per-column
    [min, max]. All from the parquet FOOTER (driver-side metadata read
    bounded by the files of ONE commit — the fenced zone-map class of
    operators/pruning; no data pages are read)."""
    import pyarrow.parquet as pq

    entries = []
    for name in sorted(os.listdir(commit_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(commit_dir, name)
        md = pq.ParquetFile(path).metadata
        if md.num_rows == 0:
            continue
        name_to_idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        lo, hi = _col_min_max(md, name_to_idx, part_col)
        e = {
            "path": os.path.relpath(path, loc),
            "rows": md.num_rows,
            "min": lo,
            "max": hi,
        }
        stats = {}
        for c in stats_cols or ():
            clo, chi = _col_min_max(md, name_to_idx, c)
            if clo is not None:
                stats[c] = [clo, chi]
        if stats:
            e["stats"] = stats
        entries.append(e)
    return entries


def _write_commit_files(
    df: DataFrame,
    loc: str,
    version: int,
    part_col: str,
    cluster_col=None,
    files: int | None = None,
    subdir: str | None = None,
    sort_cols: list[str] | None = None,
    stats_cols: list[str] = (),
) -> list[dict]:
    """Write ``df`` as the data files of commit ``version`` and return
    their manifest entries. Files go under a per-(version, pid) commit
    dir (optionally suffixed — a commit may write several disjoint
    slices, e.g. the DELETE edges) so a losing optimistic writer's
    orphans are identifiable; the
    layout is range-clustered on (partition column, cluster column) so
    each file covers a CONTIGUOUS partition-value slice — tight footer
    min/max = sharp manifest pruning (the r6 partitioned-layout law:
    range placement gives fan-out AND sharp stats). ``files`` pins the
    fan-out (an explicit repartition count bypasses AQE's small-
    partition coalescing — needed when the table is small relative to
    the advisory size but pruning granularity still matters); None
    lets AQE size the files, the right default for merge slices.
    ``sort_cols`` overrides the range-clustering columns entirely —
    the table's declared SORT ORDER (Iceberg's write order): a table
    point-looked-up by key clusters on the key, not the partition
    column, so the key's per-file stats are sharp. ``stats_cols``
    names the secondary columns whose footer min/max the manifest
    entries carry (Iceberg per-column stats)."""
    tag = f"c{version:08d}_{os.getpid()}" + (f"_{subdir}" if subdir else "")
    commit_dir = os.path.join(loc, "data", tag)
    if sort_cols:
        cols = [F.col(c) for c in sort_cols]
    else:
        cols = [F.col(part_col)] + (
            [F.col(cluster_col)] if cluster_col else []
        )
    head = [files] if files is not None else []
    df.repartitionByRange(*head, *cols).write.mode("overwrite").parquet(
        commit_dir
    )
    return _file_entries(commit_dir, loc, part_col, stats_cols)


def _stamp_seq(entries: list[dict], version: int) -> list[dict]:
    """Stamp the commit SEQUENCE onto new file entries. Sequence
    numbers order data files against equality-delete files (the
    Iceberg rule): a delete with seq D applies to a data file with
    seq F iff D >= F — so a merge that re-inserts a previously
    deleted key writes files with a HIGHER seq than the delete and
    the key survives the read-side anti-join. Entries from manifests
    that predate this field default to seq 0 (oldest)."""
    for e in entries:
        e["seq"] = version
    return entries


def _delete_entries(m: dict) -> list[dict]:
    return m.get("deletes", [])


def _applied_tags(m: dict) -> list[str]:
    """Tags of every equality-delete spec EVER applied to this table —
    persisted in the manifest and carried by every commit, including
    compaction (which clears the live delete FILES but must not reset
    idempotence: a re-run of the same tagged erasure job after
    compaction would otherwise commit a fresh delete and erase keys
    legitimately re-inserted since — ADVICE r8)."""
    return m.get("tags", [])


def _read_with_deletes(
    spark: SparkSession,
    loc: str,
    schema: T.StructType,
    entries: list[dict],
    deletes: list[dict],
) -> DataFrame:
    """Plan a read of ``entries`` with equality-delete files applied.

    Files are grouped into classes by the SUBSET of delete files that
    applies to them (delete.seq >= file.seq); each class scans once
    and anti-joins the broadcast union of its applicable delete keys.
    With no deletes this is byte-for-byte the plain pruned scan (the
    pre-delete keys' pinned plans are unchanged). Delete files are
    small by contract — a scattered-key DELETE writes kilobytes of
    keys instead of rewriting every touched data file, and the read
    pays one broadcast anti-join (map-side, no shuffle of the data)."""
    if not entries:
        return spark.createDataFrame([], schema)
    if not deletes:
        return spark.read.schema(schema).parquet(
            *[os.path.join(loc, e["path"]) for e in entries]
        )
    key = deletes[0]["key"]
    if any(d["key"] != key for d in deletes):
        raise ValueError(
            f"snapshot table {loc}: delete files disagree on key columns"
        )
    del_schema = T.StructType([schema[c] for c in key])
    classes: dict[tuple, list[str]] = {}
    for e in entries:
        appl = tuple(
            sorted(
                d["path"] for d in deletes if d["seq"] >= e.get("seq", 0)
            )
        )
        classes.setdefault(appl, []).append(os.path.join(loc, e["path"]))
    parts = []
    for appl, paths in sorted(classes.items()):
        df = spark.read.schema(schema).parquet(*paths)
        if appl:
            ddf = (
                spark.read.schema(del_schema)
                .parquet(*[os.path.join(loc, p) for p in appl])
                .distinct()
            )
            df = df.join(F.broadcast(ddf), on=key, how="left_anti")
        parts.append(df)
    return functools.reduce(DataFrame.unionAll, parts)


def _table_write_opts(m: dict) -> dict:
    """The table-level write contract every commit must preserve:
    declared sort order and secondary-stats columns, carried in the
    manifest from create time (absent on pre-r9 tables → defaults)."""
    return {
        "sort_cols": m.get("sort_cols"),
        "stats_cols": m.get("stats_cols", []),
    }


def _carry_write_contract(manifest: dict, parent: dict) -> dict:
    """Copy the table-level write-contract fields from the parent
    manifest into a child manifest (no-op for pre-r9 tables)."""
    for k in ("sort_cols", "stats_cols", "cdf"):
        if k in parent:
            manifest[k] = parent[k]
    return manifest


def _merge_cdf_frame(
    base: DataFrame,
    batch: DataFrame,
    join_on: list[str],
    part_col: str,
    part_of,
    schema: T.StructType,
) -> DataFrame:
    """The row-level CHANGE DATA of a MERGE, computed at WRITE time
    from the same (pruned base slice, broadcast batch) pair the merge
    itself joins — the Delta `_change_data` design: the commit already
    holds exactly these rows in memory, so persisting them costs one
    bounded broadcast-join pass over the touched slice instead of the
    read-time digest diff's two scans + shuffle per consumer read.

    Output schema: ``_change_type`` + every table column. Semantics
    are pinned equal to the read-time diff (tests): a matched row
    whose post-image is null-safe-EQUAL to its pre-image on every
    updated column is NOT emitted (the diff cancels byte-identical
    rewrites, so the materialized feed must too); matched+changed
    rows emit update_preimage/update_postimage via one struct-array
    explode (single scan, codegen — the r4 CDC shape); unmatched
    batch rows emit as inserts through the same two-broadcast-join
    anti shape as Merger (the table side never shuffles)."""
    data_cols = [c for c in schema.names if c != part_col]
    subset = [c for c in batch.columns if c not in join_on]
    b = F.broadcast(batch.na.drop(subset=join_on))
    joined = base.alias("a").join(b.alias("b"), on=join_on, how="inner")
    # flat pre/post projection so part_of (which reads table column
    # names) can derive the POST partition value from post columns;
    # post values cast to the table schema's types (no-op when equal)
    # so the change files read back under the manifest schema exactly
    post_cols = []
    for c in data_cols:
        side = "b" if c in subset else "a"
        post_cols.append(
            F.col(f"{side}.{c}").cast(schema[c].dataType).alias(c)
        )
    flat = joined.select(
        *[F.col(f"a.{c}").alias(f"_pre_{c}") for c in data_cols],
        F.col(f"a.{part_col}").alias(f"_pre_{part_col}"),
        *post_cols,
    )
    flat = flat.withColumn("_post_part", part_of(flat))
    changed = functools.reduce(
        lambda acc, c: acc
        | ~F.col(f"_pre_{c}").eqNullSafe(F.col(c)),
        subset,
        F.lit(False),
    )
    pre_s = F.struct(
        F.lit("update_preimage").alias("_change_type"),
        *[F.col(f"_pre_{c}").alias(c) for c in data_cols],
        F.col(f"_pre_{part_col}").alias(part_col),
    )
    post_s = F.struct(
        F.lit("update_postimage").alias("_change_type"),
        *[F.col(c).alias(c) for c in data_cols],
        F.col("_post_part").alias(part_col),
    )
    upd = (
        flat.filter(changed)
        .select(F.explode(F.array(pre_s, post_s)).alias("r"))
        .select("r.*")
    )
    # insert arm: Merger's two-broadcast discipline — semi-probe the
    # base keys against the broadcast batch (≤|batch| rows out, the
    # base only streams), anti the batch against that small set.
    matched_keys = base.select(*join_on).join(b, join_on, "left_semi")
    unmatched = batch.na.drop(subset=join_on).join(
        F.broadcast(matched_keys), on=join_on, how="left_anti"
    )
    ins_flat = unmatched.select(
        *[
            F.col(c).cast(schema[c].dataType).alias(c)
            if c in unmatched.columns
            else F.lit(None).cast(schema[c].dataType).alias(c)
            for c in data_cols
        ]
    )
    ins = ins_flat.withColumn(part_col, part_of(ins_flat)).select(
        F.lit("insert").alias("_change_type"), *data_cols, part_col
    )
    return upd.unionByName(ins)


_CHANGE_TYPE_COL = "_change_type"


def _change_file_entries(change_dir: str, loc: str) -> list[dict]:
    """Manifest entries for a commit's materialized change files —
    path + rows only (change files are consumed whole by version, so
    no pruning stats are recorded)."""
    import pyarrow.parquet as pq

    entries = []
    if not os.path.isdir(change_dir):
        return entries
    for name in sorted(os.listdir(change_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(change_dir, name)
        n = pq.ParquetFile(path).metadata.num_rows
        if n:
            entries.append({"path": os.path.relpath(path, loc), "rows": n})
    return entries


def create_snapshot_table(
    spark: SparkSession,
    loc: str,
    df_factory,
    part_col: str,
    cluster_col: str | None = None,
    files: int | None = None,
    sort_cols: list[str] | None = None,
    stats_cols: list[str] | None = None,
    cdf: bool = False,
) -> int:
    """Create the table (version 0) if no manifest exists yet; returns
    the latest version either way. Cross-process safe: the layout lock
    serializes builders, the v0 link is the commit point, and a table
    is only ever created ONCE (unlike layouts the contents then
    diverge by design, so no fingerprint re-derivation).

    ``sort_cols`` declares the table's WRITE ORDER (Iceberg sort
    order): files range-cluster on these columns instead of
    (part_col, cluster_col) — the layout for tables point-looked-up
    by a key rather than partition-scanned. ``stats_cols`` declares
    the secondary columns whose per-file footer min/max every commit
    records in the manifest (Iceberg per-column stats — the metadata
    that lets a key-range read prune files the way part_col stats
    prune partition reads). Both persist in the manifest and every
    later commit preserves them.

    ``cdf=True`` enables the CHANGE DATA FEED write contract (Delta's
    ``delta.enableChangeDataFeed`` table property): every MERGE commit
    materializes its row-level delta as change files inside the commit
    (the commit computes exactly those rows anyway), so ``read_changes``
    on that step is a plain scan instead of a read-time digest diff —
    the consumer-side cost moves to the one writer. Tables/commits
    without it keep the diff fallback."""
    v = latest_version(loc)
    if v is not None:
        return v
    with _layout_lock(loc):
        v = latest_version(loc)
        if v is not None:
            return v
        df = df_factory()
        entries = _stamp_seq(
            _write_commit_files(
                df,
                loc,
                0,
                part_col,
                cluster_col,
                files=files,
                sort_cols=sort_cols,
                stats_cols=stats_cols or [],
            ),
            0,
        )
        manifest = {
            "format": _FORMAT,
            "version": 0,
            "parent": None,
            "part_col": part_col,
            "schema": df.schema.jsonValue(),
            "files": entries,
        }
        if sort_cols:
            manifest["sort_cols"] = list(sort_cols)
        if stats_cols:
            manifest["stats_cols"] = list(stats_cols)
        if cdf:
            manifest["cdf"] = True
        _publish_manifest(loc, manifest)
    return 0


def snapshot_files(
    loc: str, version: int, part_values: list | None = None
) -> tuple[dict, list[str]]:
    """Resolve (manifest, absolute file paths) for a version, pruning
    files by partition-column values against the manifest's file-level
    min/max stats — metadata-only, before any engine listing or IO.
    A file with absent stats is conservatively kept. A version whose
    manifest is gone reads descriptively: retired-by-vacuum when the
    table exists and the version precedes its head (time travel to it
    is permanently gone — that is what vacuum means), unknown-version
    otherwise."""
    try:
        m = load_manifest(loc, version)
    except FileNotFoundError:
        head = latest_version(loc)
        if head is not None and version < head:
            raise ValueError(
                f"version v{version} of {loc} was retired by vacuum — "
                "time travel needs the version retained (tag it to pin "
                "retention)"
            ) from None
        raise FileNotFoundError(
            f"no version v{version} of snapshot table {loc}"
            + ("" if head is None else f" (head is v{head})")
        ) from None
    files = m["files"]
    if part_values is not None:
        vals = set(part_values)
        files = [
            e
            for e in files
            if e["min"] is None
            or any(e["min"] <= v <= e["max"] for v in vals)
        ]
    return m, [os.path.join(loc, e["path"]) for e in files]


def _entry_range(e: dict, col: str, part_col: str):
    """A file entry's [min, max] for ``col`` from the manifest —
    part_col from the first-class fields, anything else from the
    per-column ``stats`` map; (None, None) when unknown."""
    if col == part_col:
        return e.get("min"), e.get("max")
    r = e.get("stats", {}).get(col)
    return (r[0], r[1]) if r else (None, None)


def snapshot_files_keyrange(
    loc: str, version: int, col: str, lo, hi
) -> tuple[dict, list[dict]]:
    """Resolve (manifest, surviving file ENTRIES) for a version,
    pruning by ``col BETWEEN lo AND hi`` against the manifest's
    per-file column stats (Iceberg per-column stats: the partition
    column's min/max or a declared secondary stats column) —
    metadata-only, before any engine listing or IO. On a table whose
    sort order clusters ``col``, a key-range lookup opens 1-2 of N
    files; a file with absent stats is conservatively kept."""
    m = load_manifest(loc, version)
    part_col = m["part_col"]
    kept = []
    for e in m["files"]:
        e_lo, e_hi = _entry_range(e, col, part_col)
        if e_lo is None or (e_hi >= lo and e_lo <= hi):
            kept.append(e)
    return m, kept


def read_snapshot_keyrange(
    spark: SparkSession,
    loc: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Plan a key-range read: manifest-pruned file list (per-column
    stats), equality deletes applied, and the exact BETWEEN predicate
    as the residual filter (stats pruning is file-granular; the
    predicate still trims the boundary files' out-of-range rows and
    reaches the parquet scan for row-group pruning inside them)."""
    if version is None:
        version = latest_version(loc)
        if version is None:
            raise FileNotFoundError(f"no snapshot table at {loc}")
    m, entries = snapshot_files_keyrange(loc, version, col, lo, hi)
    schema = T.StructType.fromJson(m["schema"])
    df = _read_with_deletes(spark, loc, schema, entries, _delete_entries(m))
    return df.filter(F.col(col).between(F.lit(lo), F.lit(hi)))


def read_snapshot(
    spark: SparkSession,
    loc: str,
    version: int | None = None,
    part_values: list | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Plan over one immutable snapshot: explicit schema (no footer
    re-inference — the r6 footer-cache lesson) over the manifest's
    pruned file list. The returned plan can never observe a concurrent
    commit: its files are immutable until vacuum retires the version.
    ``ref`` resolves a named tag or branch head to its version."""
    if ref is not None:
        if version is not None:
            raise ValueError("pass version OR ref, not both")
        version = resolve_ref(loc, ref)
    if version is None:
        version = latest_version(loc)
        if version is None:
            raise FileNotFoundError(f"no snapshot table at {loc}")
    m, paths = snapshot_files(loc, version, part_values)
    schema = T.StructType.fromJson(m["schema"])
    if not paths:
        return spark.createDataFrame([], schema)
    deletes = _delete_entries(m)
    if deletes:
        rel = {os.path.relpath(p, loc) for p in paths}
        entries = [e for e in m["files"] if e["path"] in rel]
        return _read_with_deletes(spark, loc, schema, entries, deletes)
    return spark.read.schema(schema).parquet(*paths)


def merge_snapshot_prewrite(
    spark: SparkSession,
    loc: str,
    batch: DataFrame,
    join_on: list[str],
    part_of,
    touched: list,
) -> tuple[DataFrame, dict, list[dict]]:
    """The merge's pre-write frame against the CURRENT latest version:
    manifest-pruned base (only files whose stats range intersects the
    touched values — selected driver-side, metadata-only) merged with
    the broadcast batch, partition column re-derived. Returns (frame,
    base manifest, candidate file entries) — split out so plan dumps
    and tests can pin the shape without performing a commit."""
    base_v = latest_version(loc)
    if base_v is None:
        raise FileNotFoundError(f"no snapshot table at {loc}")
    m, _ = snapshot_files(loc, base_v)
    part_col = m["part_col"]
    schema = T.StructType.fromJson(m["schema"])
    vals = set(touched)
    candidates = [
        e
        for e in m["files"]
        if e["min"] is None or any(e["min"] <= v <= e["max"] for v in vals)
    ]
    base = _read_with_deletes(spark, loc, schema, candidates, _delete_entries(m))
    merged = Merger(base.drop(part_col), batch, join_on=join_on).merged(
        update=True, insert=True
    )
    return merged.withColumn(part_col, part_of(merged)), m, candidates


def merge_snapshot_commit(
    spark: SparkSession,
    loc: str,
    batch: DataFrame,
    join_on: list[str],
    part_of,  # callable: merged DataFrame -> partition-value Column
    touched: list,
    max_attempts: int = 5,
    expected_parent: int | None = None,
) -> int | None:
    """File-granular copy-on-write MERGE, committed optimistically.

    Reads ONLY the files whose stats ranges intersect the batch's
    touched partition values (manifest pruning — untouched files are
    not listed, read, or rewritten; they are carried by reference into
    the child manifest). The merged slice is written as NEW files and
    the commit is the atomic manifest link; on a version conflict the
    loser deletes its orphaned files and recomputes against the
    winner's state (bounded retries). Work per commit = |touched
    files| + |batch|, metadata per commit = one manifest — both scale
    with the commit, not the table. ``expected_parent`` makes the
    merge CONDITIONAL (same contract as append_snapshot_commit): if
    the table is not at that version the merge returns None without
    committing — the guard that lets racing processes build a
    DETERMINISTIC version chain (exactly one racer lands each step).

    On a ``cdf=True`` table the commit ALSO materializes its row-level
    delta as change files (``_merge_cdf_frame`` — one more bounded
    broadcast-join pass over the already-pruned slice) and records
    them in the manifest's ``changes`` field; ``read_changes`` then
    scans them instead of digest-diffing the step."""
    for _ in range(max_attempts):
        base_v = latest_version(loc)
        if base_v is None:
            raise FileNotFoundError(f"no snapshot table at {loc}")
        if expected_parent is not None and base_v != expected_parent:
            return None
        out, m, candidates = merge_snapshot_prewrite(
            spark, loc, batch, join_on, part_of, touched
        )
        # TOCTOU close (ADVICE r9): prewrite re-resolves the latest
        # manifest, so a peer committing between the check above and
        # the prewrite would land this merge on a parent !=
        # expected_parent. Re-check against the manifest the write
        # will actually parent on; the version+1 link CAS then closes
        # the race completely.
        if expected_parent is not None and m["version"] != expected_parent:
            return None
        part_col = m["part_col"]
        base_v = m["version"]
        version = base_v + 1
        new_files = _stamp_seq(
            _write_commit_files(
                out, loc, version, part_col, **_table_write_opts(m)
            ),
            version,
        )
        commit_info = {"op": "merge"}
        manifest_changes = None
        if m.get("cdf"):
            schema = T.StructType.fromJson(m["schema"])
            base = _read_with_deletes(
                spark, loc, schema, candidates, _delete_entries(m)
            )
            ch = _merge_cdf_frame(
                base, batch, join_on, part_col, part_of, schema
            )
            change_dir = os.path.join(
                loc, "data", f"c{version:08d}_{os.getpid()}_changes"
            )
            ch.write.mode("overwrite").parquet(change_dir)
            manifest_changes = _change_file_entries(change_dir, loc)
        keep = {e["path"] for e in candidates}
        manifest = {
            "format": _FORMAT,
            "version": version,
            "parent": base_v,
            "part_col": part_col,
            "schema": m["schema"],
            "files": [e for e in m["files"] if e["path"] not in keep]
            + new_files,
            # carried deletes still apply to carried files only: the
            # rewritten candidates were read WITH deletes applied and
            # their replacements carry seq=version > every delete seq.
            "deletes": _delete_entries(m),
            "tags": _applied_tags(m),
            "commit": commit_info,
        }
        if manifest_changes is not None:
            manifest["changes"] = manifest_changes
        try:
            _publish_manifest(loc, _carry_write_contract(manifest, m))
            return version
        except FileExistsError:
            # a peer claimed this version first: drop our orphaned
            # commit dirs and recompute against the winner's state.
            for sub in ("", "_changes"):
                shutil.rmtree(
                    os.path.join(
                        loc, "data", f"c{version:08d}_{os.getpid()}{sub}"
                    ),
                    ignore_errors=True,
                )
    raise RuntimeError(
        f"snapshot merge on {loc}: lost the optimistic-commit race "
        f"{max_attempts} times"
    )


def evolve_snapshot_schema(
    spark: SparkSession,
    loc: str,
    new_fields: list[tuple[str, str]],
    max_attempts: int = 5,
    exist_ok: bool = False,
) -> int:
    """ADD COLUMN as a METADATA-ONLY commit: the child manifest
    carries the widened schema and the PARENT'S file list unchanged —
    zero data files written or rewritten, no matter the table size
    (the Delta/Iceberg schema-evolution contract). Readers resolve the
    manifest schema, and the parquet reader fills the new columns with
    NULL for every pre-evolution file; files written by later commits
    carry real values. ``new_fields`` is [(name, spark DDL type)];
    new columns are nullable by definition (a non-null default would
    require a rewrite — exactly what this commit exists to avoid).
    Raises ValueError if a column already exists, unless ``exist_ok``
    — the concurrent-idempotent mode: fields already present are
    skipped (a racing peer applied the same evolution; losing the
    version CAS to an identical change is success, not failure), and
    if nothing remains to add the current version is returned with no
    commit."""
    for _ in range(max_attempts):
        base_v = latest_version(loc)
        if base_v is None:
            raise FileNotFoundError(f"no snapshot table at {loc}")
        m = load_manifest(loc, base_v)
        schema = T.StructType.fromJson(m["schema"])
        to_add = []
        for name, ddl in new_fields:
            if name in schema.names:
                if not exist_ok:
                    raise ValueError(
                        f"column '{name}' already exists at {loc}"
                    )
                continue
            to_add.append((name, ddl))
        if exist_ok and not to_add:
            return base_v
        for name, ddl in to_add:
            schema = schema.add(name, ddl, True)
        manifest = {
            "format": _FORMAT,
            "version": base_v + 1,
            "parent": base_v,
            "part_col": m["part_col"],
            "schema": schema.jsonValue(),
            "files": m["files"],
            "deletes": _delete_entries(m),
            "tags": _applied_tags(m),
            "commit": {"op": "evolve_schema"},
        }
        try:
            _publish_manifest(loc, _carry_write_contract(manifest, m))
            return base_v + 1
        except FileExistsError:
            continue  # pure metadata: nothing to clean, just recompute
    raise RuntimeError(
        f"snapshot schema evolution on {loc}: lost the optimistic-commit "
        f"race {max_attempts} times"
    )


def _check_append_schema(df: DataFrame, m: dict, loc: str) -> None:
    """Raise at COMMIT time if ``df`` does not match the manifest
    schema by name and type (partition column included). Extra columns,
    missing columns, and type drift all fail here instead of at a
    later read (ADVICE r8). Nullability is not compared — parquet
    carries per-file nullability and the manifest schema's nullable
    flags are read-side declarations, not write constraints."""
    want = T.StructType.fromJson(m["schema"])
    have = {f.name: f.dataType for f in df.schema.fields}
    missing = [f.name for f in want.fields if f.name not in have]
    extra = [n for n in have if n not in want.names]
    drift = [
        f"{f.name}: {have[f.name].simpleString()} != {f.dataType.simpleString()}"
        for f in want.fields
        if f.name in have and have[f.name] != f.dataType
    ]
    if missing or extra or drift:
        raise ValueError(
            f"append to {loc} does not match the table schema — "
            f"missing {missing}, unexpected {extra}, type drift {drift}"
        )


def append_snapshot_commit(
    spark: SparkSession,
    loc: str,
    df: DataFrame,
    files: int | None = None,
    expected_parent: int | None = None,
    max_attempts: int = 5,
) -> int | None:
    """INSERT-only fast path: write the new rows as new files and
    republish the parent's file list + the additions — no read of
    existing data, no merge join, the minimal commit (ingest lands at
    |batch| cost whatever the table size). ``expected_parent`` makes
    the append CONDITIONAL (compare-and-swap on the table version):
    if the table has moved past that version the append returns None
    without committing — the idempotence guard for ensure-style
    callers racing across processes (exactly one of N racers lands
    the load, the rest observe it already done). The appended frame is
    validated against the manifest schema AT COMMIT TIME (ADVICE r8):
    the explicit-schema parquet read matches columns BY NAME, so a
    drifted append would otherwise be accepted silently and surface
    only at a later read as NULL columns or a runtime cast error far
    from the faulty commit."""
    for _ in range(max_attempts):
        base_v = latest_version(loc)
        if base_v is None:
            raise FileNotFoundError(f"no snapshot table at {loc}")
        if expected_parent is not None and base_v != expected_parent:
            return None
        m = load_manifest(loc, base_v)
        _check_append_schema(df, m, loc)
        version = base_v + 1
        new_files = _stamp_seq(
            _write_commit_files(
                df,
                loc,
                version,
                m["part_col"],
                files=files,
                **_table_write_opts(m),
            ),
            version,
        )
        manifest = {
            "format": _FORMAT,
            "version": version,
            "parent": base_v,
            "part_col": m["part_col"],
            "schema": m["schema"],
            "files": m["files"] + new_files,
            "deletes": _delete_entries(m),
            "tags": _applied_tags(m),
            "commit": {
                "op": "append",
                "rows": sum(e["rows"] for e in new_files),
            },
        }
        try:
            _publish_manifest(loc, _carry_write_contract(manifest, m))
            return version
        except FileExistsError:
            shutil.rmtree(
                os.path.join(loc, "data", f"c{version:08d}_{os.getpid()}"),
                ignore_errors=True,
            )
    raise RuntimeError(
        f"snapshot append on {loc}: lost the optimistic-commit race "
        f"{max_attempts} times"
    )


def _load_manifest_retained(loc: str, version: int) -> dict:
    """load_manifest with the vacuum-retired case surfaced clearly
    (ADVICE r9): history reads (change feeds, incremental scans,
    commit diffs) walk version CHAINS, and a ref-pinned vacuum can
    leave retained history non-contiguous — a middle manifest retired
    by vacuum must read as 'version retired', not a raw
    FileNotFoundError from an internal path."""
    try:
        return load_manifest(loc, version)
    except FileNotFoundError:
        raise ValueError(
            f"version v{version} of {loc} was retired by vacuum — "
            "change/incremental reads need every version of the range "
            "retained (tag the range's versions to pin them)"
        ) from None


def commit_added_entries(loc: str, version: int) -> list[dict]:
    """File entries a commit ADDED relative to its parent — the
    commit's own data output, resolved by manifest diff
    (metadata-only; bounded by the commit's touched slice for
    copy-on-write commits). v0 has no parent: everything is added."""
    m = _load_manifest_retained(loc, version)
    if m["parent"] is None:
        return list(m["files"])
    parent_paths = {
        e["path"] for e in _load_manifest_retained(loc, m["parent"])["files"]
    }
    return [e for e in m["files"] if e["path"] not in parent_paths]


def incremental_entries(
    loc: str, from_version: int, to_version: int
) -> list[dict]:
    """File entries ADDED between two versions of an APPEND-ONLY
    range — the metadata half of the incremental scan. Each step
    from→to is validated from the manifests themselves (no trust in
    op tags): the parent's files must all survive by identity and the
    delete list must be unchanged, otherwise rows were rewritten or
    removed and a file-level diff would misread history — that case
    raises, exactly as Iceberg's incremental append scan refuses
    overwrite snapshots. Metadata-only commits (schema evolution)
    contribute nothing and pass through."""
    if not 0 <= from_version <= to_version:
        raise ValueError(f"bad incremental range v{from_version}..v{to_version}")
    chain = []
    v = to_version
    while v > from_version:
        m = _load_manifest_retained(loc, v)
        if m["parent"] != v - 1:
            raise ValueError(f"broken version chain at v{v} in {loc}")
        chain.append(m)
        v -= 1
    base = _load_manifest_retained(loc, from_version)
    prev = base
    added: list[dict] = []
    for m in reversed(chain):
        prev_paths = {e["path"] for e in prev["files"]}
        cur_paths = {e["path"] for e in m["files"]}
        if not prev_paths <= cur_paths or _delete_entries(m) != _delete_entries(
            prev
        ):
            raise ValueError(
                f"v{m['version']} of {loc} is not an append commit — "
                "incremental file diff would misread rewritten history"
            )
        added += [e for e in m["files"] if e["path"] not in prev_paths]
        prev = m
    return added


def read_incremental(
    spark: SparkSession, loc: str, from_version: int, to_version: int
) -> DataFrame:
    """The rows appended between two versions, read from ONLY the
    files those commits added (manifest diff — untouched history is
    never listed or scanned). This is the consumer side of an
    append-only feed: a pipeline that processed the table at version
    A catches up to version B at |delta| cost, not |table| — the
    'what landed since my last run' primitive every incremental
    training-data job needs."""
    m = load_manifest(loc, to_version)
    schema = T.StructType.fromJson(m["schema"])
    entries = incremental_entries(loc, from_version, to_version)
    if not entries:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(loc, e["path"]) for e in entries]
    )


def read_changes(
    spark: SparkSession,
    loc: str,
    from_version: int,
    to_version: int,
    key_cols: list[str],
) -> DataFrame:
    """Row-level CHANGE DATA FEED between two versions — the
    consumer primitive for MERGE-maintained tables, where the
    append-only incremental scan is structurally refused. Each step's
    manifests are diffed into REMOVED and ADDED file entries (a
    copy-on-write commit replaces the touched files only, so both
    sets — and therefore the whole computation — are bounded by the
    commit's touched slice, not the table). The row delta is the
    multiset difference in both directions (EXCEPT ALL — rows
    rewritten byte-identically, i.e. carried neighbors inside a
    touched file, cancel out and are never emitted), classified by
    the table key:

    * key only in the new side  → ``insert``
    * key on both sides         → ``update_preimage`` / ``update_postimage``
    * key only in the old side  → ``delete``

    plus ``_commit_version``. Assumes the table is KEY-UNIQUE (the
    merge contract its commits enforce via validate_unique_keys) —
    with duplicate full rows per key inside one side, per-copy
    multiplicities could differ from strict EXCEPT ALL counts.
    Equality-delete commits change rows
    without touching files, so a step whose delete list changes is
    refused (emitting those as CDC would require locating the doomed
    keys' rows — a table scan this primitive promises not to do;
    compact the debt first). COMPACTION steps are skipped outright:
    content-preserving by contract (their op tag is written only by
    compact_snapshot_commit), so the delta is empty by construction
    and diffing it would cost |table| for nothing (ADVICE r8) — this
    is also what keeps the bounded-cost claim true across maintenance
    commits. Pure-metadata steps contribute nothing.
    Old-side reads honor the deletes that applied to the removed
    files, so a row already invisible at ``from_version`` never
    reports as deleted twice.

    Step pricing, cheapest shape first (each step pays only its own):

    * MATERIALIZED (cdf table, merge commit) — the commit persisted
      its row delta as change files; the step is a plain scan of
      them, zero diff work (the Delta `_change_data` read path).
    * REPLACE — drop+insert by op-tag contract: every old row emits
      as delete, every new row as insert, no diff (Delta's CDF
      semantics for overwrite commits).
    * COMPACT — skipped (content-preserving by contract).
    * pure append / pure drop — scan of the added (removed) files.
    * otherwise — the read-time digest diff."""
    if not 0 <= from_version <= to_version:
        raise ValueError(f"bad changes range v{from_version}..v{to_version}")
    m_to = _load_manifest_retained(loc, to_version)
    schema = T.StructType.fromJson(m_to["schema"])
    out_cols = [F.col(c) for c in schema.names]
    steps = []
    prev = _load_manifest_retained(loc, from_version)
    for v in range(from_version + 1, to_version + 1):
        m = _load_manifest_retained(loc, v)
        if m["parent"] != v - 1:
            raise ValueError(f"broken version chain at v{v} in {loc}")
        op = m.get("commit", {}).get("op")
        if op in ("compact", "compact_changes"):
            # compaction (data OR change-file) is content-preserving
            # BY CONTRACT (the op tags are written only by
            # compact_snapshot_commit / compact_changes_commit, which
            # read and rewrite the same rows) — digest-diffing it
            # would cost |table| to discover an empty delta (ADVICE
            # r8). Skipping also keeps a post-MoR-delete compaction
            # legal inside a range: its cleared delete list reflects
            # materialized, not changed, rows.
            prev = m
            continue
        if op == "replace":
            # full-content overwrite: drop+insert by op-tag contract —
            # the one commit where "diff the files" IS "scan the
            # table", so the fast path is also the only bounded one.
            steps.append(("replace", v, prev, m))
            prev = m
            continue
        if "changes" in m:
            # the commit materialized its own row delta (cdf table):
            # the step is a plain scan of the change files. Recorded
            # as [] when the commit provably changed nothing.
            if m["changes"]:
                steps.append(("materialized", v, m["changes"]))
            prev = m
            continue
        if _delete_entries(m) != _delete_entries(prev):
            raise ValueError(
                f"v{v} of {loc} changes equality-delete files — row-level "
                "changes for those require a table scan; compact first"
            )
        prev_by_path = {e["path"] for e in prev["files"]}
        cur_by_path = {e["path"] for e in m["files"]}
        removed = [e for e in prev["files"] if e["path"] not in cur_by_path]
        added = [e for e in m["files"] if e["path"] not in prev_by_path]
        if removed or added:
            steps.append(("diff", v, prev, removed, added))
        prev = m

    # change-file consolidation (sidecar index): materialized steps
    # covered by a consolidation entry read the ONE range-clustered
    # file set instead of per-commit small files — newest covering
    # entry wins, one scan per entry for all its covered versions.
    cl = changelog_entries(loc)

    def _covering_entry(v):
        for e in reversed(cl):
            if v in e["covers"]:
                return e
        return None

    def step_materialized(v, entries):
        ch_schema = T.StructType(
            [T.StructField(_CHANGE_TYPE_COL, T.StringType())]
            + list(schema.fields)
        )
        ch = spark.read.schema(ch_schema).parquet(
            *[os.path.join(loc, e["path"]) for e in entries]
        )
        return ch.select(
            _CHANGE_TYPE_COL,
            *out_cols,
            F.lit(v).cast("int").alias("_commit_version"),
        )

    def step_consolidated(entry, versions):
        cch = T.StructType(
            [T.StructField(_CHANGE_TYPE_COL, T.StringType())]
            + list(schema.fields)
            + [T.StructField("_commit_version", T.IntegerType())]
        )
        ch = spark.read.schema(cch).parquet(
            *[os.path.join(loc, e["path"]) for e in entry["files"]]
        )
        # version filter reaches the scan: files are range-clustered
        # and sorted on _commit_version, so subrange reads prune row
        # groups via page stats
        return ch.filter(F.col("_commit_version").isin(versions)).select(
            _CHANGE_TYPE_COL, *out_cols, "_commit_version"
        )

    def step_replace(v, parent, m):
        ver = F.lit(v).cast("int").alias("_commit_version")
        old = _read_with_deletes(
            spark, loc, schema, parent["files"], _delete_entries(parent)
        ).select(*out_cols)
        new = _read_with_deletes(spark, loc, schema, m["files"], []).select(
            *out_cols
        )
        return old.select(
            F.lit("delete").alias("_change_type"), *out_cols, ver
        ).unionAll(
            new.select(F.lit("insert").alias("_change_type"), *out_cols, ver)
        )

    def step_changes(v, parent, removed, added):
        from pyspark.sql import Window

        old = _read_with_deletes(
            spark, loc, schema, removed, _delete_entries(parent)
        ).select(*out_cols)
        # added files carry seq == their commit version, which
        # outranks every delete in the (validated-unchanged) list —
        # no delete applies to them.
        new = _read_with_deletes(spark, loc, schema, added, []).select(
            *out_cols
        )
        ver = F.lit(v).cast("int").alias("_commit_version")
        # degenerate steps cost what they touch: a pure append emits
        # its added rows as inserts with no diff at all (the
        # incremental-scan price), a pure drop emits deletes.
        if not removed:
            return new.select(F.lit("insert").alias("_change_type"), *out_cols, ver)
        if not added:
            return old.select(F.lit("delete").alias("_change_type"), *out_cols, ver)
        # multiset diff at digest granularity: union both sides with a
        # ±1 marker, shuffle ONLY (xxhash64(row), key, side) — ~24
        # bytes/row instead of the full row (a full-row groupBy's
        # wide string keys measured 2.3 s vs this shape's sub-second
        # on the same 1.8M-row slice) — and net the side marker per
        # (digest, key): net 0 rows (carried neighbors rewritten
        # byte-identically) vanish map-portably, survivors are
        # |changes|-sized. Full rows for the survivors come from a
        # second scan joined against them — AQE sees the materialized
        # survivor size at runtime and broadcasts when it is small
        # (the commit-bounded case) instead of us hard-coding a hint
        # that would break on a table-rewrite commit. The digest is
        # engine-internal (no cross-engine identity needed, unlike
        # the md5 oracle family); a 64-bit collision would need the
        # SAME key's old and new rows to collide while differing.
        allc = [F.col(c) for c in schema.names]
        dig = F.xxhash64(*allc).alias("_dig")
        sided = old.withColumn("_side", F.lit(-1)).unionAll(
            new.withColumn("_side", F.lit(1))
        )
        net = (
            sided.select(*key_cols, dig, "_side")
            .groupBy("_dig", *key_cols)
            .agg(F.sum("_side").alias("_net"))
            .filter(F.col("_net") != 0)
        )
        matched = (
            sided.withColumn("_dig", F.xxhash64(*allc))
            .join(net, [*key_cols, "_dig"], "inner")
            .filter(
                F.col("_side")
                == F.when(F.col("_net") > 0, 1).otherwise(-1)
            )
        )
        w = Window.partitionBy(*key_cols)
        pos = F.when(F.col("_net") > 0, 1).otherwise(0)
        flagged = matched.withColumn(
            "_has_pos", F.max(pos).over(w)
        ).withColumn("_has_neg", F.max(1 - pos).over(w))
        typed = flagged.withColumn(
            "_change_type",
            F.when(
                (F.col("_net") > 0) & (F.col("_has_neg") == 1),
                F.lit("update_postimage"),
            )
            .when(F.col("_net") > 0, F.lit("insert"))
            .when(
                (F.col("_net") < 0) & (F.col("_has_pos") == 1),
                F.lit("update_preimage"),
            )
            .otherwise(F.lit("delete")),
        )
        return typed.select("_change_type", *out_cols, ver)

    if not steps:
        empty = T.StructType(
            [T.StructField("_change_type", T.StringType())]
            + list(schema.fields)
            + [T.StructField("_commit_version", T.IntegerType())]
        )
        return spark.createDataFrame([], empty)
    builders = {
        "materialized": step_materialized,
        "replace": step_replace,
        "diff": step_changes,
    }
    parts = []
    grouped: dict[int, tuple[dict, list[int]]] = {}
    for s in steps:
        if s[0] == "materialized":
            e = _covering_entry(s[1])
            if e is not None:
                g = grouped.setdefault(e["commit_version"], (e, []))
                g[1].append(s[1])
                continue
        parts.append(builders[s[0]](*s[1:]))
    for e, versions in grouped.values():
        parts.append(step_consolidated(e, versions))
    return functools.reduce(DataFrame.unionAll, parts)


def delete_where_commit(
    spark: SparkSession,
    loc: str,
    part_lo,
    part_hi,
    row_pred=None,
    max_attempts: int = 5,
) -> int:
    """Row-level DELETE as a copy-on-write commit, with Iceberg's
    planning-time METADATA DELETE: the predicate is
    ``part_col BETWEEN part_lo AND part_hi`` (AND ``row_pred`` if
    given), and every live file is classified DRIVER-SIDE against its
    manifest min/max stats —

    * stats range disjoint from [lo, hi] → CARRIED by identity (never
      listed, read, or rewritten);
    * stats range fully inside [lo, hi] and no residual ``row_pred``
      → DROPPED metadata-only: every row provably matches, so the
      file leaves the manifest WITHOUT EVER BEING READ (zero IO, any
      file size);
    * straddling (or residual predicate, or absent stats) → REWRITTEN
      keeping the surviving rows.

    On the range-clustered layout this table writes, a partition-range
    DELETE rewrites at most the two straddling edge files regardless
    of how many files the range covers — at 100 TB, dropping a year
    from an 80-month table is metadata for the interior months plus
    two bounded edge rewrites. SQL DELETE semantics: rows where the
    predicate is NULL are KEPT (delete-where-TRUE, not
    delete-where-not-FALSE). Re-applying the same DELETE converges:
    interior files are already gone and the rewritten edges no longer
    intersect [lo, hi], so the second commit is pure metadata.
    Existing equality deletes are honored: rewrite candidates are
    read with their applicable delete files applied, and carried
    deletes keep applying to carried files only (new files outrank
    them by seq)."""
    for _ in range(max_attempts):
        base_v = latest_version(loc)
        if base_v is None:
            raise FileNotFoundError(f"no snapshot table at {loc}")
        m = load_manifest(loc, base_v)
        part_col = m["part_col"]
        schema = T.StructType.fromJson(m["schema"])
        carried, dropped, rewrite = [], [], []
        for e in m["files"]:
            if e["min"] is not None and (
                e["max"] < part_lo or e["min"] > part_hi
            ):
                carried.append(e)
            elif (
                e["min"] is not None
                and part_lo <= e["min"]
                and e["max"] <= part_hi
                and row_pred is None
            ):
                dropped.append(e)
            else:
                rewrite.append(e)
        version = base_v + 1
        new_files: list[dict] = []
        written_dirs: list[str] = []
        if rewrite:
            df = _read_with_deletes(
                spark, loc, schema, rewrite, _delete_entries(m)
            )
            pred = (F.col(part_col) >= F.lit(part_lo)) & (
                F.col(part_col) <= F.lit(part_hi)
            )
            if row_pred is not None:
                pred = pred & row_pred(df)
            kept = df.filter(~F.coalesce(pred, F.lit(False)))
            # one slice per SIDE of the deleted range so no rewritten
            # file ever spans the hole — otherwise its min/max would
            # re-classify it as straddling on every later invocation
            # and the DELETE would never converge to pure metadata.
            # NULL partition values (kept by SQL semantics when the
            # predicate is NULL) ride the low slice. The in-range
            # slice exists only under a residual predicate — without
            # one it is provably empty, so no job runs for it.
            slices = [
                (
                    "lo",
                    F.col(part_col).isNull()
                    | (F.col(part_col) < F.lit(part_lo)),
                ),
                ("hi", F.col(part_col) > F.lit(part_hi)),
            ]
            if row_pred is not None:
                slices.append(
                    (
                        "mid",
                        (F.col(part_col) >= F.lit(part_lo))
                        & (F.col(part_col) <= F.lit(part_hi)),
                    )
                )
            for tag, cond in slices:
                written_dirs.append(
                    os.path.join(
                        loc, "data", f"c{version:08d}_{os.getpid()}_{tag}"
                    )
                )
                new_files += _stamp_seq(
                    _write_commit_files(
                        kept.filter(cond),
                        loc,
                        version,
                        part_col,
                        subdir=tag,
                        **_table_write_opts(m),
                    ),
                    version,
                )
        manifest = {
            "format": _FORMAT,
            "version": version,
            "parent": base_v,
            "part_col": part_col,
            "schema": m["schema"],
            "files": carried + new_files,
            "deletes": _delete_entries(m),
            "tags": _applied_tags(m),
            "commit": {
                "op": "delete_where",
                "lo": part_lo,
                "hi": part_hi,
                "dropped_metadata_only": len(dropped),
                "rewritten": len(rewrite),
                "carried": len(carried),
            },
        }
        try:
            _publish_manifest(loc, _carry_write_contract(manifest, m))
            return version
        except FileExistsError:
            for d in written_dirs:
                shutil.rmtree(d, ignore_errors=True)
    raise RuntimeError(
        f"snapshot delete on {loc}: lost the optimistic-commit race "
        f"{max_attempts} times"
    )


def delete_keys_commit(
    spark: SparkSession,
    loc: str,
    keys_df: DataFrame,
    key_cols: list[str],
    max_attempts: int = 5,
    tag: str | None = None,
) -> int:
    """Row-level DELETE as a MERGE-ON-READ commit: equality-delete
    files (the Iceberg v2 / Delta deletion-vector model). The commit
    writes ONLY the distinct delete keys as a small parquet file and
    republishes the parent's data files by identity — write cost is
    |keys|, independent of how many data files contain them. This is
    the right half of the DELETE design space that copy-on-write
    can't serve: keys SCATTERED across the table (GDPR erasure, bad
    upstream record recall), where CoW would rewrite essentially
    every file. Readers apply the deletes as one broadcast anti-join
    (map-side, data never shuffles); a later MERGE that re-inserts a
    deleted key wins by sequence number (its files outrank the
    delete); ``compact_snapshot_commit`` materializes and clears the
    accumulated delete debt. Deleting zero keys returns the current
    version without a commit. NULL key values are DROPPED before the
    delete file is written (ADVICE r8): the read-side equality
    anti-join can never match a NULL key, so writing them would
    silently delete nothing while the delete-file row count claimed
    otherwise — dropping them keeps the file an honest statement of
    effect (SQL semantics agree: ``key IN (NULL)`` deletes no row).
    ``tag`` names the delete's SPEC for idempotence: if the tag is in
    the manifest's PERSISTED applied-tag list the commit is skipped —
    the list survives compaction (which clears the live delete files
    but must not reset idempotence, ADVICE r8), so re-running the
    same erasure job converges instead of stacking identical delete
    files or re-erasing keys legitimately re-inserted since
    compaction. Concurrent first-timers may both land — harmless, the
    anti-join has set semantics — and every later run skips."""
    for _ in range(max_attempts):
        base_v = latest_version(loc)
        if base_v is None:
            raise FileNotFoundError(f"no snapshot table at {loc}")
        m = load_manifest(loc, base_v)
        schema = T.StructType.fromJson(m["schema"])
        missing = [c for c in key_cols if c not in schema.names]
        if missing:
            raise ValueError(
                f"delete key columns {missing} not in table schema at {loc}"
            )
        existing = _delete_entries(m)
        if existing and existing[0]["key"] != list(key_cols):
            raise ValueError(
                f"snapshot table {loc}: existing delete files use key "
                f"{existing[0]['key']}, refusing mixed-key deletes"
            )
        if tag is not None and (
            tag in _applied_tags(m)
            or any(d.get("tag") == tag for d in existing)
        ):
            return base_v
        version = base_v + 1
        del_dir = os.path.join(loc, "data", f"d{version:08d}_{os.getpid()}")
        notnull = functools.reduce(
            lambda a, c: a & F.col(c).isNotNull(),
            key_cols,
            F.lit(True),
        )
        keys_df.select(*key_cols).filter(notnull).distinct().coalesce(
            1
        ).write.mode("overwrite").parquet(del_dir)
        import pyarrow.parquet as pq

        entries = []
        for name in sorted(os.listdir(del_dir)):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(del_dir, name)
            n = pq.ParquetFile(path).metadata.num_rows
            if n:
                e = {
                    "path": os.path.relpath(path, loc),
                    "rows": n,
                    "seq": version,
                    "key": list(key_cols),
                }
                if tag is not None:
                    e["tag"] = tag
                entries.append(e)
        if not entries:
            shutil.rmtree(del_dir, ignore_errors=True)
            return base_v
        manifest = {
            "format": _FORMAT,
            "version": version,
            "parent": base_v,
            "part_col": m["part_col"],
            "schema": m["schema"],
            "files": m["files"],
            "deletes": existing + entries,
            "tags": _applied_tags(m) + ([tag] if tag is not None else []),
            "commit": {
                "op": "delete_keys",
                "keys": sum(e["rows"] for e in entries),
            },
        }
        try:
            _publish_manifest(loc, _carry_write_contract(manifest, m))
            return version
        except FileExistsError:
            shutil.rmtree(del_dir, ignore_errors=True)
    raise RuntimeError(
        f"snapshot equality delete on {loc}: lost the optimistic-commit "
        f"race {max_attempts} times"
    )


def compact_snapshot_commit(
    spark: SparkSession,
    loc: str,
    files: int | None = None,
    max_attempts: int = 5,
    expected_parent: int | None = None,
) -> int | None:
    """Table maintenance as a commit: rewrite the CURRENT content into
    ``files`` range-clustered files and publish it as a new version —
    the lakehouse OPTIMIZE. Content is bit-identical by construction
    (same rows, new physical layout); concurrent readers are never
    blocked or broken (their version's files are untouched), and a
    concurrent MERGE that wins the version race simply makes the
    compactor recompute over the merged state. Small-file entropy from
    many incremental commits is the known failure mode of any
    copy-on-write table at scale; this is the standing answer, and
    vacuum afterwards reclaims the superseded files once no retained
    version references them. ``expected_parent`` makes the OPTIMIZE
    conditional on the table version (None without committing when it
    moved) — the racing-process determinism guard, as on append/merge."""
    for _ in range(max_attempts):
        base_v = latest_version(loc)
        if base_v is None:
            raise FileNotFoundError(f"no snapshot table at {loc}")
        if expected_parent is not None and base_v != expected_parent:
            return None
        m, _ = snapshot_files(loc, base_v)
        part_col = m["part_col"]
        df = read_snapshot(spark, loc, version=base_v)
        version = base_v + 1
        new_files = _stamp_seq(
            _write_commit_files(
                df,
                loc,
                version,
                part_col,
                files=files,
                **_table_write_opts(m),
            ),
            version,
        )
        manifest = {
            "format": _FORMAT,
            "version": version,
            "parent": base_v,
            "part_col": part_col,
            "schema": m["schema"],
            "files": new_files,
            # compaction reads THROUGH the deletes (read_snapshot
            # applies them), so the rewritten content has them
            # materialized — the child clears the delete list: this is
            # how merge-on-read debt is retired. Applied-tag history is
            # CARRIED (ADVICE r8): clearing it here would let a re-run
            # of an old tagged erasure job commit again and delete keys
            # legitimately re-inserted since.
            "deletes": [],
            "tags": _applied_tags(m),
            # the op tag is a CONTRACT statement: compaction is
            # content-preserving by construction, which is what lets
            # read_changes skip the step instead of digest-diffing the
            # whole table to discover an empty delta.
            "commit": {"op": "compact"},
        }
        try:
            _publish_manifest(loc, _carry_write_contract(manifest, m))
            return version
        except FileExistsError:
            shutil.rmtree(
                os.path.join(loc, "data", f"c{version:08d}_{os.getpid()}"),
                ignore_errors=True,
            )
    raise RuntimeError(
        f"snapshot compact on {loc}: lost the optimistic-commit race "
        f"{max_attempts} times"
    )


# --- change-file compaction (VERDICT r10 seed): many small per-commit
# CDF files → one range-read-optimized change file set. A cdf table
# accumulates one small change-file group per merge commit; a consumer
# catching up over hundreds of commits would open hundreds of small
# files. Consolidation is an op-tagged maintenance commit (like
# OPTIMIZE) plus a link(2)-CAS SIDECAR INDEX entry — the sidecar is
# what lets read_changes over an OLD range (which never walks the
# compaction commit's manifest) discover the consolidated files.
# read_changes results are byte-identical before/after by
# construction: the consolidated rows are read from the change files
# themselves, carrying their _commit_version as a physical column.


def _changelog_dir(loc: str) -> str:
    return os.path.join(loc, "_changelog")


def changelog_entries(loc: str) -> list[dict]:
    """All published change-file consolidation entries, oldest first."""
    d = _changelog_dir(loc)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.startswith("e") and name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return out


def _publish_changelog_entry(loc: str, entry: dict) -> None:
    """Numbered link(2)-CAS publish into the sidecar index; losing the
    number race just takes the next number (entries are additive —
    read_changes prefers the newest covering entry)."""
    d = _changelog_dir(loc)
    os.makedirs(d, exist_ok=True)
    while True:
        n = len([x for x in os.listdir(d) if x.endswith(".json")])
        final = os.path.join(d, f"e{n:08d}.json")
        tmp = final + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(entry, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
            return
        except FileExistsError:
            continue
        finally:
            os.unlink(tmp)


def compact_changes_commit(
    spark: SparkSession,
    loc: str,
    from_version: int,
    to_version: int,
    files: int = 1,
    max_attempts: int = 5,
    expected_parent: int | None = None,
) -> int | None:
    """Consolidate the MATERIALIZED change files of every commit in
    (from_version, to_version] into ``files`` range-clustered parquet
    files ordered by ``_commit_version`` — the change-data analogue of
    OPTIMIZE. Only commits that materialized their delta are covered
    (a pure append's CDF is already a plain scan of its added DATA
    files: there is no small-file debt to retire and consolidating it
    would duplicate table data into the change log); covered commits'
    original change files stay owned by their manifests (vacuum is the
    only deleter) — this is a READ optimization: a consumer catching
    up over the range opens one clustered file set instead of one
    file group per commit, and storage reclaim follows history
    retirement as usual. Re-running the same consolidation converges
    (an existing entry covering the same versions short-circuits);
    racing compactors serialize on the manifest CAS like every writer.
    Content-preserving by contract: the commit's op tag keeps
    read_changes/lag accounting treating the STEP itself as free."""
    for _ in range(max_attempts):
        base_v = latest_version(loc)
        if base_v is None:
            raise FileNotFoundError(f"no snapshot table at {loc}")
        if expected_parent is not None and base_v != expected_parent:
            return None
        if not 0 <= from_version <= to_version <= base_v:
            raise ValueError(
                f"bad compact_changes range v{from_version}..v{to_version}"
            )
        covered = []
        for v in range(from_version + 1, to_version + 1):
            mv = _load_manifest_retained(loc, v)
            if mv.get("changes"):
                covered.append((v, mv["changes"]))
        if not covered:
            return base_v
        cover_versions = [v for v, _ in covered]
        for e in changelog_entries(loc):
            if set(cover_versions) <= set(e["covers"]):
                return e["commit_version"]  # already consolidated
        m = load_manifest(loc, base_v)
        schema = T.StructType.fromJson(m["schema"])
        ch_schema = T.StructType(
            [T.StructField(_CHANGE_TYPE_COL, T.StringType())]
            + list(schema.fields)
        )
        version = base_v + 1
        out_dir = os.path.join(
            loc, "data", f"cc{version:08d}_{os.getpid()}"
        )
        frames = [
            spark.read.schema(ch_schema)
            .parquet(*[os.path.join(loc, e["path"]) for e in entries])
            .withColumn("_commit_version", F.lit(v).cast("int"))
            for v, entries in covered
        ]
        allf = functools.reduce(
            lambda a, b: a.unionByName(b), frames
        )
        # range-clustered by version: a consumer reading a subrange
        # prunes whole row groups via the version column's page stats
        (
            allf.repartitionByRange(files, "_commit_version")
            .sortWithinPartitions("_commit_version")
            .write.mode("overwrite")
            .parquet(out_dir)
        )
        entries_out = _change_file_entries(out_dir, loc)
        manifest = {
            "format": _FORMAT,
            "version": version,
            "parent": base_v,
            "part_col": m["part_col"],
            "schema": m["schema"],
            "files": m["files"],
            "deletes": _delete_entries(m),
            "tags": _applied_tags(m),
            "commit": {
                "op": "compact_changes",
                "from": from_version,
                "to": to_version,
                "covers": cover_versions,
                "files": entries_out,
            },
        }
        try:
            _publish_manifest(loc, _carry_write_contract(manifest, m))
        except FileExistsError:
            shutil.rmtree(out_dir, ignore_errors=True)
            continue
        _publish_changelog_entry(
            loc,
            {
                "from": from_version,
                "to": to_version,
                "covers": cover_versions,
                "files": entries_out,
                "commit_version": version,
            },
        )
        return version
    raise RuntimeError(
        f"change-file compaction on {loc}: lost the optimistic-commit "
        f"race {max_attempts} times"
    )


def replace_snapshot_commit(
    spark: SparkSession,
    loc: str,
    df: DataFrame,
    files: int | None = None,
    max_attempts: int = 5,
    expected_parent: int | None = None,
) -> int | None:
    """Full-content REPLACE (INSERT OVERWRITE) as one atomic commit —
    the commit-taxonomy member between append (add only) and merge
    (keyed rewrite): the child manifest references ONLY the new files,
    every parent file leaves by identity (still owned by history — a
    reader of any prior version is untouched, vacuum is the only
    deleter), and equality-delete debt clears (the replacement content
    IS the table; old deletes applied to files no longer referenced).

    Commit taxonomy contracts: ``read_incremental`` REFUSES a range
    containing a replace (parent files do not survive — a file diff
    would misread rewritten history; validated from the manifests, not
    this op tag); ``read_changes`` fast-paths it as drop+insert (every
    old row deletes, every new row inserts — Delta's CDF semantics for
    overwrite commits, and the one step shape where diffing the files
    would BE a table scan). The replaced frame is schema-validated at
    commit time like appends. ``expected_parent`` is the usual
    conditional-commit CAS."""
    for _ in range(max_attempts):
        base_v = latest_version(loc)
        if base_v is None:
            raise FileNotFoundError(f"no snapshot table at {loc}")
        if expected_parent is not None and base_v != expected_parent:
            return None
        m = load_manifest(loc, base_v)
        _check_append_schema(df, m, loc)
        version = base_v + 1
        new_files = _stamp_seq(
            _write_commit_files(
                df,
                loc,
                version,
                m["part_col"],
                files=files,
                **_table_write_opts(m),
            ),
            version,
        )
        manifest = {
            "format": _FORMAT,
            "version": version,
            "parent": base_v,
            "part_col": m["part_col"],
            "schema": m["schema"],
            "files": new_files,
            "deletes": [],
            "tags": _applied_tags(m),
            "commit": {
                "op": "replace",
                "rows": sum(e["rows"] for e in new_files),
            },
        }
        try:
            _publish_manifest(loc, _carry_write_contract(manifest, m))
            return version
        except FileExistsError:
            shutil.rmtree(
                os.path.join(loc, "data", f"c{version:08d}_{os.getpid()}"),
                ignore_errors=True,
            )
    raise RuntimeError(
        f"snapshot replace on {loc}: lost the optimistic-commit race "
        f"{max_attempts} times"
    )


def evolve_partition_spec(
    spark: SparkSession,
    loc: str,
    new_part_col: str,
    max_attempts: int = 5,
) -> int:
    """PARTITION-SPEC EVOLUTION as a METADATA-ONLY commit (the
    Iceberg spec-evolution contract, near-trivial here because pruning
    is stats-based, not path-based): the child manifest declares
    ``new_part_col`` as the partition column over the PARENT'S file
    list — zero data rewritten, whatever the table size.

    Old files keep their pruning power on BOTH specs: their old-spec
    min/max migrates into the per-column ``stats`` map under the old
    column's name (so old-spec predicates keep pruning via
    ``snapshot_files_keyrange``), and their first-class min/max becomes
    their recorded stats for the NEW column when the table declared it
    in ``stats_cols`` (Iceberg per-column stats — this is why a table
    expecting spec evolution declares the future partition column
    up front), else None = conservatively kept. Commits after the
    evolution range-cluster and record stats on the new column
    automatically (every write path reads ``part_col`` from the
    manifest it parents on). Idempotent: evolving to the current spec
    returns the current version with no commit — racing peers
    converge."""
    for _ in range(max_attempts):
        base_v = latest_version(loc)
        if base_v is None:
            raise FileNotFoundError(f"no snapshot table at {loc}")
        m = load_manifest(loc, base_v)
        old_part = m["part_col"]
        if old_part == new_part_col:
            return base_v
        schema = T.StructType.fromJson(m["schema"])
        if new_part_col not in schema.names:
            raise ValueError(
                f"partition column '{new_part_col}' not in table schema "
                f"at {loc}"
            )
        migrated = []
        for e in m["files"]:
            e2 = dict(e)
            stats = dict(e2.get("stats", {}))
            if e2.get("min") is not None:
                stats[old_part] = [e2["min"], e2["max"]]
            new_range = stats.get(new_part_col)
            e2["min"], e2["max"] = (
                (new_range[0], new_range[1]) if new_range else (None, None)
            )
            if stats:
                e2["stats"] = stats
            migrated.append(e2)
        manifest = {
            "format": _FORMAT,
            "version": base_v + 1,
            "parent": base_v,
            "part_col": new_part_col,
            "schema": m["schema"],
            "files": migrated,
            "deletes": _delete_entries(m),
            "tags": _applied_tags(m),
            "commit": {
                "op": "evolve_partition_spec",
                "from": old_part,
                "to": new_part_col,
            },
        }
        try:
            _publish_manifest(loc, _carry_write_contract(manifest, m))
            return base_v + 1
        except FileExistsError:
            continue  # pure metadata: nothing to clean, just recompute
    raise RuntimeError(
        f"partition-spec evolution on {loc}: lost the optimistic-commit "
        f"race {max_attempts} times"
    )


# --- named refs: tags (immutable) and branches (CAS-movable heads) ----
# A ref is a NAME → VERSION pointer published with the same link(2)
# CAS as manifests. Tags are immutable (the "train tag": the corpus
# exactly as the run that trained the model saw it, forever); a branch
# is a movable head whose every advance is a numbered ref entry
# published by link — updating requires naming the expected current
# head, so concurrent movers serialize exactly like commit writers.
# Vacuum treats ref'd versions as retained: tagging a version is what
# makes it immune to history retirement.


def _refs_dir(loc: str, kind: str) -> str:
    return os.path.join(loc, "_refs", kind)


def _write_ref_file(path: str, payload: dict) -> None:
    """Publish ``payload`` at ``path`` atomically via link(2); raises
    FileExistsError when the name is already claimed — the CAS."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


def _check_ref_version(loc: str, version: int | None) -> int:
    latest = latest_version(loc)
    if latest is None:
        raise FileNotFoundError(f"no snapshot table at {loc}")
    if version is None:
        return latest
    if not os.path.exists(_manifest_path(loc, version)):
        raise ValueError(f"no version v{version} at {loc} to reference")
    return version


def create_tag(loc: str, name: str, version: int | None = None) -> int:
    """Create an IMMUTABLE named ref to a version (default: latest).
    Concurrent-idempotent: re-creating the tag at the SAME version is
    success (a racing peer already published the identical ref — the
    guard the concurrent sweep protocol requires); at a different
    version it raises, because a tag's meaning never moves."""
    version = _check_ref_version(loc, version)
    path = os.path.join(_refs_dir(loc, "tags"), f"{name}.json")
    try:
        _write_ref_file(path, {"version": version})
    except FileExistsError:
        with open(path) as f:
            existing = json.load(f)["version"]
        if existing != version:
            raise ValueError(
                f"tag {name!r} at {loc} already points to v{existing}, "
                f"refusing to move it to v{version}"
            ) from None
    return version


def create_branch(loc: str, name: str, version: int | None = None) -> int:
    """Create a branch HEAD at a version (default: latest) — entry 0
    of the branch's numbered ref chain. Concurrent-idempotent like
    create_tag: same-version re-create succeeds, different raises."""
    version = _check_ref_version(loc, version)
    path = os.path.join(_refs_dir(loc, "heads"), name, "r00000000.json")
    try:
        _write_ref_file(path, {"version": version})
    except FileExistsError:
        with open(path) as f:
            existing = json.load(f)["version"]
        if existing != version:
            raise ValueError(
                f"branch {name!r} at {loc} was already created at "
                f"v{existing}, not v{version}"
            ) from None
    return version


def _branch_entries(
    loc: str, name: str, kind: str = "heads"
) -> list[tuple[int, str]]:
    d = os.path.join(_refs_dir(loc, kind), name)
    if not os.path.isdir(d):
        raise KeyError(f"no {kind[:-1]} {name!r} at {loc}")
    out = []
    for n in os.listdir(d):
        if n.startswith("r") and n.endswith(".json"):
            try:
                out.append((int(n[1:-5]), os.path.join(d, n)))
            except ValueError:
                continue
    if not out:
        raise KeyError(f"no {kind[:-1]} {name!r} at {loc}")
    return sorted(out)


def branch_head_entry(
    loc: str, name: str, kind: str = "heads"
) -> tuple[int, int]:
    """(entry number, version) of the branch's current head — the
    entry number is the CAS token movers pass back to update_branch
    as ``expected_entry`` for an ABA-proof advance."""
    k, path = _branch_entries(loc, name, kind)[-1]
    with open(path) as f:
        return k, json.load(f)["version"]


def branch_head(loc: str, name: str) -> int:
    """The branch's current version (its highest-numbered ref entry)."""
    return branch_head_entry(loc, name)[1]


def update_branch(
    loc: str,
    name: str,
    new_version: int,
    expected_version: int,
    expected_entry: int | None = None,
    _kind: str = "heads",
) -> bool:
    """Advance the branch head, CAS-conditional on the CURRENT head:
    returns False (nothing published) when the head is not
    ``expected_version`` or a racing mover claims the next entry
    first — the loser re-reads and retries, exactly the
    optimistic-commit loop writers run on manifests.

    The value-only CAS is sound for MONOTONE advances (every current
    caller): a stale mover's expected value can only re-match if the
    head returned to it, which monotone heads never do. For heads
    that may legitimately revisit a version (rollback then re-land —
    the ABA case, ADVICE r9), pass ``expected_entry`` from
    ``branch_head_entry``: the CAS then also requires the head to
    still be at that exact ENTRY NUMBER, which never repeats."""
    entries = _branch_entries(loc, name, _kind)
    k, path = entries[-1]
    with open(path) as f:
        cur = json.load(f)["version"]
    if cur != expected_version:
        return False
    if expected_entry is not None and k != expected_entry:
        return False
    new_version = _check_ref_version(loc, new_version)
    nxt = os.path.join(
        _refs_dir(loc, _kind), name, f"r{k + 1:08d}.json"
    )
    try:
        _write_ref_file(nxt, {"version": new_version})
    except FileExistsError:
        return False
    return True


# --- consumer cursors: the CDF subscribe/resume bookmark ---------------
# A cursor is a named consumer's "last version I have fully applied"
# pointer on a table — the same numbered-entry CAS chain as a branch
# head, in its own namespace. The consumer loop is: read the cursor,
# read_changes(cursor → head), apply, advance the cursor with the
# entry-number CAS (ABA-proof; exactly one racing consumer instance
# lands each advance, the rest observe it done — at-most-once apply
# per change range when the apply itself is idempotent). Vacuum treats
# a cursor like any other ref pin: the cursor's version stays retained
# so the consumer can always resume from where it stopped (retained
# history above it is protected by keep_latest).


def create_cursor(loc: str, name: str, version: int | None = None) -> int:
    """Create a consumer cursor at a version (default: latest).
    Concurrent-idempotent like create_branch: same-version re-create
    converges, different raises."""
    version = _check_ref_version(loc, version)
    path = os.path.join(_refs_dir(loc, "cursors"), name, "r00000000.json")
    try:
        _write_ref_file(path, {"version": version})
    except FileExistsError:
        with open(path) as f:
            existing = json.load(f)["version"]
        if existing != version:
            raise ValueError(
                f"cursor {name!r} at {loc} was already created at "
                f"v{existing}, not v{version}"
            ) from None
    return version


def cursor_entry(loc: str, name: str) -> tuple[int, int]:
    """(entry number, position) of a consumer cursor — the entry
    number is the ABA-proof CAS token for advance_cursor."""
    return branch_head_entry(loc, name, kind="cursors")


def advance_cursor(
    loc: str, name: str, new_version: int, expected_entry: int
) -> bool:
    """CAS-advance a consumer cursor to ``new_version``, conditional
    on its current ENTRY NUMBER (from cursor_entry) — entry numbers
    never repeat, so the advance is ABA-proof by construction."""
    entries = _branch_entries(loc, name, "cursors")
    k, path = entries[-1]
    if k != expected_entry:
        return False
    with open(path) as f:
        cur = json.load(f)["version"]
    return update_branch(
        loc, name, new_version, cur, expected_entry=k, _kind="cursors"
    )


# Maintenance/metadata op tags: content-preserving by contract, so
# read_changes skips them and a consumer's lag accounting treats them
# as free — shared vocabulary between the two.
_FREE_OPS = {"compact", "compact_changes", "evolve_schema", "evolve_partition_spec"}


def cursor_lag_report(loc: str, names: list[str]) -> list[dict]:
    """Consumer-GROUP lag metrics (VERDICT r10 item 3) from MANIFEST
    METADATA ONLY — the dashboard read a feed operator polls: per
    named cursor, its position, the table head, ``versions_behind``,
    ``pending_commits`` (DATA commits in (position, head]; commits
    whose op tag is content-preserving maintenance are free, by the
    same contract read_changes skips them under), and
    ``pending_change_rows`` — the EXACT row count of the pending
    change feed, read from commit metadata: materialized change
    files' recorded rows for cdf merge/replace commits, added-file
    rows for pure appends. A pending commit whose CDF size is not
    knowable from metadata (a non-cdf merge would need the digest
    diff this report promises not to run) reports the row count as
    None rather than guessing. Zero data-file IO and zero Spark jobs
    at any table size — manifests are the only thing opened."""
    head = latest_version(loc)
    if head is None:
        raise FileNotFoundError(f"no snapshot table at {loc}")
    out = []
    for name in names:
        _k, pos = cursor_entry(loc, name)
        pending_commits = 0
        rows: int | None = 0
        for v in range(pos + 1, head + 1):
            m = _load_manifest_retained(loc, v)
            op = (m.get("commit") or {}).get("op")
            if op in _FREE_OPS:
                continue
            pending_commits += 1
            if rows is None:
                continue
            if m.get("changes"):
                rows += sum(e["rows"] for e in m["changes"])
            elif op == "append":
                rows += sum(e["rows"] for e in commit_added_entries(loc, v))
            else:
                rows = None
        out.append(
            {
                "consumer": name,
                "position": pos,
                "head": head,
                "versions_behind": head - pos,
                "pending_commits": pending_commits,
                "pending_change_rows": rows,
            }
        )
    return out


def resolve_ref(loc: str, name: str) -> int:
    """NAME → VERSION: tags first, then branch heads."""
    tag = os.path.join(_refs_dir(loc, "tags"), f"{name}.json")
    if os.path.exists(tag):
        with open(tag) as f:
            return json.load(f)["version"]
    return branch_head(loc, name)


def delete_ref(loc: str, name: str, kind: str | None = None) -> bool:
    """Remove a named ref — a tag, a branch, or a consumer cursor
    (with its whole entry chain). Returns True if it existed. Deleting
    a ref releases its retention pin: the next vacuum may retire the
    version it referenced (the tag lifecycle's other half — 'train'
    tags are forever only until the run is decommissioned).

    ``kind`` ∈ {"tag", "branch", "cursor"} scopes the delete to one
    namespace. Ref namespaces are independent, so a name can exist in
    several at once; deleting "the first match" would silently remove
    the wrong retention pin (ADVICE r10) — when ``kind`` is omitted
    and the name is ambiguous, this raises instead of guessing."""
    kinds = {"tag": None, "branch": "heads", "cursor": "cursors"}
    if kind is not None and kind not in kinds:
        raise ValueError(f"delete_ref: unknown ref kind {kind!r}")
    tag = os.path.join(_refs_dir(loc, "tags"), f"{name}.json")
    hits = []
    if os.path.exists(tag):
        hits.append("tag")
    for k, d in (("branch", "heads"), ("cursor", "cursors")):
        if os.path.isdir(os.path.join(_refs_dir(loc, d), name)):
            hits.append(k)
    if kind is None:
        if len(hits) > 1:
            raise ValueError(
                f"delete_ref: {name!r} names {hits} at {loc} — pass "
                f"kind= to disambiguate"
            )
        if not hits:
            return False
        kind = hits[0]
    elif kind not in hits:
        return False
    if kind == "tag":
        os.unlink(tag)
    else:
        shutil.rmtree(os.path.join(_refs_dir(loc, kinds[kind]), name))
    return True


def _ref_versions(loc: str) -> set[int]:
    """Every version a tag, branch HEAD, or consumer CURSOR currently
    references — vacuum's protected set (historical branch entries are
    history: only the head pins retention, as in Iceberg; a cursor
    pins its position so a paused consumer can always resume)."""
    out: set[int] = set()
    tags = _refs_dir(loc, "tags")
    if os.path.isdir(tags):
        for n in os.listdir(tags):
            if n.endswith(".json"):
                with open(os.path.join(tags, n)) as f:
                    out.add(json.load(f)["version"])
    for kind in ("heads", "cursors"):
        d = _refs_dir(loc, kind)
        if os.path.isdir(d):
            for name in os.listdir(d):
                try:
                    out.add(branch_head_entry(loc, name, kind)[1])
                except KeyError:
                    continue
    return out


def vacuum_snapshot(loc: str, keep_latest: int = 1) -> tuple[int, int]:
    """Retire history: keep the newest ``keep_latest`` manifests PLUS
    every version a tag or branch head references (a named ref is the
    retention pin — "the train tag" stays readable forever until the
    ref itself is deleted), delete older manifests and every data file
    no retained manifest references. Returns (manifests deleted, data
    files deleted). This is the ONLY operation that deletes data
    files — running it breaks time travel to the retired versions (by
    definition) and, as in real lakehouses, must respect a retention
    window longer than any concurrent reader."""
    latest = latest_version(loc)
    if latest is None:
        return (0, 0)
    protected = set(range(max(0, latest - keep_latest + 1), latest + 1))
    protected |= _ref_versions(loc)
    keep_versions = [
        v
        for v in sorted(protected)
        if os.path.exists(_manifest_path(loc, v))
    ]
    live: set[str] = set()
    for v in keep_versions:
        m = load_manifest(loc, v)
        live |= {e["path"] for e in m["files"]}
        live |= {e["path"] for e in _delete_entries(m)}
        # a retained commit's materialized change files stay readable
        live |= {e["path"] for e in m.get("changes", [])}
        # a retained compaction commit owns its consolidated files
        live |= {
            e["path"]
            for e in (m.get("commit") or {}).get("files", [])
        }
    # sidecar-indexed consolidated change files are retention pins
    # while their entry exists (a consolidated feed stays readable like
    # a tagged version; retire the entry to release them)
    for e in changelog_entries(loc):
        live |= {f["path"] for f in e["files"]}
    dropped_m = 0
    for v in range(0, latest + 1):
        if v in protected:
            continue
        p = _manifest_path(loc, v)
        if os.path.exists(p):
            os.unlink(p)
            dropped_m += 1
    dropped_f = 0
    data_root = os.path.join(loc, "data")
    for dirpath, _dirs, names in os.walk(data_root):
        for name in names:
            p = os.path.join(dirpath, name)
            if name.endswith(".parquet") and os.path.relpath(p, loc) not in live:
                os.unlink(p)
                dropped_f += 1
    return (dropped_m, dropped_f)


def apply_changes_commit(
    spark: SparkSession,
    loc: str,
    changes: DataFrame,
    key_cols: list[str],
    part_of,
    touched: list,
    range_tag: str | None = None,
) -> int:
    """Apply a CHANGE DATA FEED range to a REPLICA snapshot table —
    the standard CDC-apply consumer (Delta's APPLY CHANGES): reduce
    the range to the LATEST image per key (window over
    ``_commit_version``; pre-images drop — a key touched by several
    commits in the range lands once, at its final state), then
    upsert the surviving inserts/post-images as one idempotent merge
    commit and erase the surviving deletes as one equality-delete
    commit. Absolute values make the apply IDEMPOTENT: a consumer
    crash between apply and cursor-advance re-applies the same range
    as same-value updates and the replica converges (the
    stream_snapshot_ingest exactly-once story).

    The two ``isEmpty`` probes are bounded by |changes| — the frame a
    CDF consumer holds by definition (commit-bounded, never |table|);
    Merger refuses empty batches, so a deletes-only or upserts-only
    range must skip the other arm. ``range_tag`` (ADVICE r10) names
    the change RANGE's identity (e.g. ``f"{loc}:{from_v}->{to_v}"``):
    it is forwarded to the delete arm's applied-tag skip, so a
    crash-replay of the same range converges WITHOUT stacking a fresh
    equality-delete file per replay (the merge arm is already
    idempotent by absolute values). Returns the replica's new head
    version."""
    from pyspark.sql import Window

    # Full-tiebreak rule (ADVICE r10): a REPLACE-step CDF range emits
    # delete + insert for a SURVIVING key at the SAME _commit_version
    # (drop+insert semantics) — at equal version the new content must
    # win deterministically, so non-delete rows rank above delete.
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("_commit_version").desc(),
        (F.col(_CHANGE_TYPE_COL) == "delete").cast("int").asc(),
    )
    latest = (
        changes.filter(F.col(_CHANGE_TYPE_COL) != "update_preimage")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    head = latest_version(loc)
    if head is None:
        raise FileNotFoundError(f"no replica snapshot table at {loc}")
    m = load_manifest(loc, head)
    part_col = m["part_col"]
    schema = T.StructType.fromJson(m["schema"])
    data_cols = [c for c in schema.names if c != part_col]
    ups = latest.filter(F.col(_CHANGE_TYPE_COL) != "delete").select(
        *data_cols
    )
    dels = latest.filter(F.col(_CHANGE_TYPE_COL) == "delete").select(
        *key_cols
    )
    v = head
    if not ups.isEmpty():
        v = merge_snapshot_commit(
            spark, loc, ups, key_cols, part_of, touched
        )
    if not dels.isEmpty():
        v = delete_keys_commit(spark, loc, dels, key_cols, tag=range_tag)
    return v


# --- catalog manifest: multi-table atomic commits ----------------------
# The link(2)-CAS commit protocol generalized one level up: a CATALOG
# is a versioned manifest whose payload names other tables' versions
# (and any consumer state, e.g. a cursor position). Publishing N
# version pointers in ONE catalog entry makes them atomic for every
# reader that resolves through the catalog: there is no instant at
# which table A's v_{n+1} is visible with table B's v_n — the exact
# multi-table transaction a (replica table, consumer cursor) pair
# needs, and the same structure an N-table warehouse commit would use.


_CATALOG_FORMAT = "dbis-catalog/1"


def _catalog_path(cat_loc: str, version: int) -> str:
    return os.path.join(cat_loc, "_catalog", f"v{version:08d}.json")


def catalog_latest(cat_loc: str) -> int | None:
    """Highest published catalog version, or None for no catalog."""
    d = os.path.join(cat_loc, "_catalog")
    if not os.path.isdir(d):
        return None
    best = None
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                v = int(name[1:-5])
            except ValueError:
                continue
            best = v if best is None else max(best, v)
    return best


def load_catalog(cat_loc: str, version: int | None = None) -> dict:
    """One immutable catalog entry — the atomic multi-table read
    point: every version pointer in it was published together."""
    if version is None:
        version = catalog_latest(cat_loc)
        if version is None:
            raise FileNotFoundError(f"no catalog at {cat_loc}")
    with open(_catalog_path(cat_loc, version)) as f:
        c = json.load(f)
    if c.get("format") != _CATALOG_FORMAT:
        raise ValueError(f"not a {_CATALOG_FORMAT} entry: {cat_loc} v{version}")
    return c


def catalog_commit(
    cat_loc: str, tables: dict, expected_version: int | None = None
) -> int | None:
    """Atomically publish a new catalog entry binding table versions
    (and any consumer state) together. ``expected_version`` is the
    usual conditional CAS: None commits on top of whatever is current
    (first commit lands v0); a version number makes the commit
    conditional on the catalog still being there — returns None when
    it moved, and a racing publisher losing the link(2) CAS also
    returns None (re-read and retry, as everywhere in the protocol)."""
    cur = catalog_latest(cat_loc)
    if expected_version is not None and cur != expected_version:
        return None
    version = 0 if cur is None else cur + 1
    entry = {
        "format": _CATALOG_FORMAT,
        "version": version,
        "parent": cur,
        "tables": tables,
    }
    d = os.path.dirname(_catalog_path(cat_loc, version))
    os.makedirs(d, exist_ok=True)
    final = _catalog_path(cat_loc, version)
    tmp = final + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(entry, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError:
        return None
    finally:
        os.unlink(tmp)
    return version
