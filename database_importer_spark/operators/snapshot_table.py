"""Snapshot table: a minimal lakehouse commit protocol on plain
parquet — versioned manifests, file-granular copy-on-write MERGE,
optimistic concurrency, time travel, snapshot-isolated readers, and
vacuum.

Why this exists. A MERGE at scale should rewrite only the part of
the table its batch touches. Spark's own primitive for that, dynamic
partition overwrite, DELETES each replaced directory in place: it is
not crash-atomic, and a concurrent reader planned over the old files
fails mid-job with FAILED_READ_FILE. Delta Lake and Iceberg solve both
problems with the same structure, and this module implements that
structure natively, with no lakehouse jars:

* data files are IMMUTABLE and never deleted by a commit — a commit
  only writes NEW files plus a NEW manifest;
* a manifest (``_manifests/v{N}.json``) lists every live data file
  with file-level partition-column min/max stats (Iceberg-style file
  pruning metadata: the planner prunes files from the manifest before
  the engine lists or reads anything);
* commits are ATOMIC and OPTIMISTICALLY CONCURRENT: every commit op
  runs through ONE driver, ``_commit`` — resolve the parent manifest,
  let the op build its child (writing any new files), publish
  ``v{N+1}`` through ``_publish`` (staged to a temp name, then
  ``os.link`` — link(2) fails with EEXIST if a peer already claimed
  the version), and on that conflict drop the op's orphan commit dirs
  and rebuild against the winner's state, a bounded number of times
  (exactly Delta's commit-log protocol, with the local filesystem's
  atomic link standing in for the object-store conditional put);
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
from database_importer_spark.operators.merge import Merger, _as, _insert_arm, _q
from database_importer_spark.operators.partitioning import _layout_lock
from database_importer_spark.session import parse_byte_conf

_FORMAT = "dbis-snapshot/1"
# optimistic-commit attempts before a writer gives up on a hot table
_COMMIT_ATTEMPTS = 5


def _manifest_dir(loc: str) -> str:
    return os.path.join(loc, "_manifests")


def _manifest_path(loc: str, version: int) -> str:
    return os.path.join(_manifest_dir(loc), f"v{version:08d}.json")


def _highest_entry(d: str, prefix: str = "v") -> int | None:
    """Highest N among the ``{prefix}{N}.json`` entries of ``d`` — the
    numbered chains (manifests, catalog entries, ref and changelog
    entries) — or None when there are none."""
    best = None
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.startswith(prefix) and name.endswith(".json"):
                try:
                    n = int(name[len(prefix) : -5])
                except ValueError:
                    continue
                best = n if best is None else max(best, n)
    return best


def latest_version(loc: str) -> int | None:
    """Highest published manifest version, or None for no table."""
    return _highest_entry(_manifest_dir(loc))


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


def _publish(path: str, payload: dict) -> None:
    """Atomically publish ``payload`` as the json file ``path``: staged
    to a temp name, fsynced, then linked into place. link(2) never
    overwrites, so this raises FileExistsError when a peer already
    claimed ``path`` — the one compare-and-swap behind every manifest,
    changelog, ref and catalog entry of this module."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)  # atomic, fails on EEXIST: the CAS
    finally:
        os.unlink(tmp)


def _publish_manifest(loc: str, manifest: dict) -> None:
    """Publish ``manifest`` as its version. Raises FileExistsError if a
    concurrent writer already claimed the version — the caller's
    optimistic-retry point."""
    _publish(_manifest_path(loc, manifest["version"]), manifest)


def _commit_dir(
    loc: str, version: int, prefix: str = "c", sub: str | None = None
) -> str:
    """Data dir of one commit attempt, ``{prefix}{version}_{pid}[_{sub}]``:
    named by (version, pid) so a losing optimistic writer's orphans are
    identifiable; ``sub`` names one of several disjoint slices a commit
    may write (e.g. the DELETE edges)."""
    tag = f"{prefix}{version:08d}_{os.getpid()}" + (f"_{sub}" if sub else "")
    return os.path.join(loc, "data", tag)


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


def _bin_bounds(
    entries: list[dict], loc: str, col: str, part_col: str, max_bytes: int
) -> list:
    """The file layout of a merge write, planned on the driver from the
    manifest alone: the lower bound on ``col`` of each bin (each bin is
    at most one written file). The candidate ``entries`` are ordered by their
    ``col`` range (``_entry_range``; entries with no range come first,
    so they count toward bin 0) and packed in that order into bins of
    at most ``max_bytes`` on-disk bytes. A bin starts only where the
    lower bound rises, so bounds are strictly increasing. Bin 0 has no
    lower bound (None): it takes every value below bin 1's, and the
    last bin every value above its own, so the bins are disjoint,
    contiguous ranges covering the whole domain — a batch value outside
    every candidate lands in the adjacent bin."""
    ranked = sorted(
        ((*_entry_range(e, col, part_col), e["path"]) for e in entries),
        key=lambda r: (r[0] is not None, *r),
    )
    bounds, size = [None], 0
    for lo, _hi, path in ranked:
        nbytes = os.path.getsize(os.path.join(loc, path))
        if (
            size
            and size + nbytes > max_bytes
            and lo is not None
            and (bounds[-1] is None or lo > bounds[-1])
        ):
            bounds.append(lo)
            size = 0
        size += nbytes
    return bounds


def _bin_id(col: str, bounds: list):
    """The partition id of a row under ``bounds`` (``_bin_bounds``): a
    literal ``CASE WHEN col >= b_n THEN n … ELSE 0 END``. NULL goes to
    bin 0."""
    pid = None
    for i in range(len(bounds) - 1, 0, -1):
        hit = F.col(col) >= F.lit(bounds[i])
        pid = F.when(hit, i) if pid is None else pid.when(hit, i)
    return F.lit(0) if pid is None else pid.otherwise(0)


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
    _bins: tuple[str, list] | None = None,
) -> list[dict]:
    """Write ``df`` as the data files of commit ``version`` and return
    their manifest entries, stamped with the commit SEQUENCE. Files go
    under the attempt's ``_commit_dir`` (``subdir`` names a slice).
    Each file covers a CONTIGUOUS slice of the clustering column —
    tight footer min/max = sharp manifest pruning (the r6
    partitioned-layout law: range placement gives fan-out AND sharp
    stats). The layout is either:

    * PLANNED, when ``_bins`` = (column, lower bounds) is given: one
      file per bin, rows placed by ``_bin_id`` through
      ``repartitionById`` — no sampling job, and the layout is a pure
      function of the bounds. Merge commits plan their bins from the
      candidates' manifest ranges (``_bin_bounds``);
    * SAMPLED otherwise: ``repartitionByRange`` on (partition column,
      cluster column), or on ``sort_cols`` — the table's declared SORT
      ORDER (Iceberg's write order: a table point-looked-up by key
      clusters on the key, so the key's per-file stats are sharp).
      Every other commit (create, append, compact, replace, the
      slices of a DELETE) writes this way: the driver knows nothing of
      how their input is distributed. ``files`` pins
      the fan-out (an explicit count bypasses AQE's small-partition
      coalescing — needed when the table is small relative to the
      advisory size but pruning granularity still matters); None lets
      AQE size the files.

    ``stats_cols`` names the secondary columns whose footer min/max the
    manifest entries carry (Iceberg per-column stats).

    Sequence numbers order data files against equality-delete files
    (the Iceberg rule): a delete with seq D applies to a data file
    with seq F iff D >= F — so a merge that re-inserts a previously
    deleted key writes files with a HIGHER seq than the delete and the
    key survives the read-side anti-join. Entries from manifests that
    predate this field default to seq 0 (oldest)."""
    commit_dir = _commit_dir(loc, version, sub=subdir)
    if _bins is not None:
        col, bounds = _bins
        laid = df.repartitionById(len(bounds), _bin_id(col, bounds))
    else:
        cols = sort_cols or [part_col] + ([cluster_col] if cluster_col else [])
        head = [files] if files is not None else []
        laid = df.repartitionByRange(*head, *map(F.col, cols))
    laid.write.mode("overwrite").parquet(commit_dir)
    entries = _file_entries(commit_dir, loc, part_col, stats_cols)
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


def _scan(spark: SparkSession, schema: T.StructType, paths: list[str]) -> DataFrame:
    """A scan of the manifest-named parquet ``paths`` under ``schema``.

    The manifest already names every file, so nothing needs listing.
    Spark lists a path list longer than its parallel-discovery
    threshold again, with a Spark job, while the plan is built (on a
    4-core host a 40-file read planned in 0.34-0.42 s with 1 job,
    against 0.05-0.06 s with none). The paths are therefore planned in
    chunks of at most that threshold, as a union of scans."""
    n = int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    )
    reader = spark.read.schema(schema)
    return functools.reduce(
        DataFrame.unionAll,
        [reader.parquet(*paths[i : i + n]) for i in range(0, len(paths), n)],
    )


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
        return _scan(
            spark, schema, [os.path.join(loc, e["path"]) for e in entries]
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
        df = _scan(spark, schema, paths)
        if appl:
            ddf = _scan(
                spark, del_schema, [os.path.join(loc, p) for p in appl]
            ).distinct()
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


class _Skip:
    """A commit build's early result: the op returns ``result`` without
    committing (nothing to do, or a peer already did it)."""

    def __init__(self, result):
        self.result = result


def _commit(loc: str, build, expected_parent: int | None = None, resolve=None):
    """The optimistic-commit loop every commit op runs through.

    Each attempt resolves the head (no table raises FileNotFoundError),
    applies the conditional-commit guard (``expected_parent``: return
    None without committing when the table is elsewhere), loads the
    parent manifest — or takes it from ``resolve()``, the hook that
    lets merge parent on exactly the manifest its prewrite frame was
    planned over (checked against ``expected_parent`` again: a peer may
    land between the head read and the prewrite) — and calls
    ``build(parent, version)``. The build returns a ``_Skip``, or
    ``(fields, dirs)``: the child-manifest fields it sets (``commit``
    at least; everything else carries from the parent) and the commit
    dirs it wrote. The child is published with the link(2) CAS; the
    loser of the version race removes exactly those dirs and rebuilds
    against the winner's state, up to ``_COMMIT_ATTEMPTS`` times."""
    for _ in range(_COMMIT_ATTEMPTS):
        head = _head(loc)
        if expected_parent is not None and head != expected_parent:
            return None
        m = load_manifest(loc, head) if resolve is None else resolve()
        if expected_parent is not None and m["version"] != expected_parent:
            return None
        version = m["version"] + 1
        out = build(m, version)
        if isinstance(out, _Skip):
            return out.result
        fields, dirs = out
        manifest = {
            "format": _FORMAT,
            "version": version,
            "parent": m["version"],
            "part_col": m["part_col"],
            "schema": m["schema"],
            "files": m["files"],
            "deletes": _delete_entries(m),
            "tags": _applied_tags(m),
            **fields,
        }
        try:
            _publish_manifest(loc, _carry_write_contract(manifest, m))
            return version
        except FileExistsError:
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)
    raise RuntimeError(
        f"snapshot {fields['commit']['op']} on {loc}: lost the "
        f"optimistic-commit race {_COMMIT_ATTEMPTS} times"
    )


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
    batch rows emit as inserts through Merger's own insert arm (two
    broadcast joins, the table side never shuffles)."""
    data_cols = [c for c in schema.names if c != part_col]
    src = batch.schema
    subset = [c for c in src.names if c not in join_on]
    keyed = batch.na.drop(subset=[_q(k) for k in join_on])
    b = F.broadcast(keyed)
    joined = base.alias("a").join(b.alias("b"), on=join_on, how="inner")
    # flat pre/post projection so part_of (which reads table column
    # names) can derive the POST partition value from post columns;
    # post values cast to the table schema's types (no-op when equal)
    # so the change files read back under the manifest schema exactly
    out_cols = (*data_cols, part_col)
    pre = {c: _q(f"_pre_{c}") for c in out_cols}
    flat = joined.selectExpr(
        *[f"a.{_q(c)} AS {q}" for c, q in pre.items()],
        *[
            _as(f"b.{_q(c)}", c, src[c].dataType, schema[c].dataType)
            if c in subset
            else f"a.{_q(c)}"
            for c in data_cols
        ],
    )
    flat = flat.withColumn("_post_part", part_of(flat))
    changed = " OR ".join(f"NOT ({pre[c]} <=> {_q(c)})" for c in subset)

    def image(kind: str, exprs: list[str]) -> str:
        named = ", ".join(f"{e} AS {_q(c)}" for e, c in zip(exprs, out_cols))
        return f"struct('{kind}' AS _change_type, {named})"

    pre_s = image("update_preimage", [pre[c] for c in out_cols])
    post_s = image("update_postimage", [*map(_q, data_cols), "_post_part"])
    upd = (
        flat.filter(changed or "false")
        .selectExpr(f"explode(array({pre_s}, {post_s})) AS r")
        .select("r.*")
    )
    # insert rows: Merger's insert arm, semi-probing the base keys
    # against the same broadcast batch the update rows join
    ins_flat = _insert_arm(
        base, keyed, join_on, T.StructType([schema[c] for c in data_cols]), b
    )
    ins = ins_flat.withColumn(part_col, part_of(ins_flat)).selectExpr(
        "'insert' AS _change_type", *map(_q, out_cols)
    )
    return upd.unionByName(ins)


_CHANGE_TYPE_COL = "_change_type"


def _row_entries(d: str, loc: str) -> list[dict]:
    """Manifest entries for the non-empty parquet files Spark wrote
    into ``d`` — path + rows only: change files (consumed whole by
    version) and equality-delete files record no pruning stats."""
    import pyarrow.parquet as pq

    entries = []
    if not os.path.isdir(d):
        return entries
    for name in sorted(os.listdir(d)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(d, name)
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
        entries = _write_commit_files(
            df,
            loc,
            0,
            part_col,
            cluster_col,
            files=files,
            sort_cols=sort_cols,
            stats_cols=stats_cols or [],
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


def _head(loc: str) -> int:
    """The table's head version; no table raises FileNotFoundError."""
    head = latest_version(loc)
    if head is None:
        raise FileNotFoundError(f"no snapshot table at {loc}")
    return head


def _manifest(loc: str, version: int) -> dict:
    """The one manifest resolver of the read path: ``load_manifest``
    with a missing version read descriptively. A version below the
    head was retired by vacuum (time travel to it, and any change or
    incremental read over it, is permanently gone — that is what
    vacuum means); any other missing version is unknown."""
    try:
        return load_manifest(loc, version)
    except FileNotFoundError:
        head = latest_version(loc)
        if head is not None and 0 <= version < head:
            raise ValueError(
                f"version v{version} of {loc} was retired by vacuum — "
                "reads need every version they touch retained (tag it "
                "to pin retention)"
            ) from None
        raise FileNotFoundError(
            f"no version v{version} of snapshot table {loc}"
            + ("" if head is None else f" (head is v{head})")
        ) from None


def _entry_range(e: dict, col: str, part_col: str):
    """A file entry's [min, max] for ``col`` from the manifest —
    part_col from the first-class fields, anything else from the
    per-column ``stats`` map; (None, None) when unknown."""
    if col == part_col:
        return e.get("min"), e.get("max")
    r = e.get("stats", {}).get(col)
    return (r[0], r[1]) if r else (None, None)


def _pruned(m: dict, col: str, values=None, span=None) -> list[dict]:
    """The one stats-pruning rule: the entries of ``m`` whose ``col``
    range (``_entry_range``) meets one of ``values`` or the ``span``
    (lo, hi). An entry with no stats for ``col`` is conservatively
    kept; asking for neither keeps every entry. Metadata-only: this
    runs on the driver before the engine lists or reads anything."""
    if values is None and span is None:
        return m["files"]
    spans = [span] if span is not None else [(v, v) for v in set(values)]
    kept = []
    for e in m["files"]:
        e_lo, e_hi = _entry_range(e, col, m["part_col"])
        if e_lo is None or any(e_lo <= hi and lo <= e_hi for lo, hi in spans):
            kept.append(e)
    return kept


def snapshot_files(
    loc: str, version: int, part_values: list | None = None
) -> tuple[dict, list[str]]:
    """Resolve (manifest, absolute file paths) for a version, pruning
    files by partition-column values against the manifest's file-level
    min/max stats (``_pruned``)."""
    m = _manifest(loc, version)
    entries = _pruned(m, m["part_col"], part_values)
    return m, [os.path.join(loc, e["path"]) for e in entries]


def snapshot_files_keyrange(
    loc: str, version: int, col: str, lo, hi
) -> tuple[dict, list[dict]]:
    """Resolve (manifest, surviving file ENTRIES) for a version,
    pruning by ``col BETWEEN lo AND hi`` against the manifest's
    per-file column stats (Iceberg per-column stats: the partition
    column's min/max or a declared secondary stats column). On a table
    whose sort order clusters ``col``, a key-range lookup opens 1-2 of
    N files."""
    m = _manifest(loc, version)
    return m, _pruned(m, col, span=(lo, hi))


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
        version = _head(loc)
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
        version = _head(loc)
    m = _manifest(loc, version)
    schema = T.StructType.fromJson(m["schema"])
    entries = _pruned(m, m["part_col"], part_values)
    return _read_with_deletes(spark, loc, schema, entries, _delete_entries(m))


def touched_partitions(batch: DataFrame, part_expr) -> list:
    """The sorted distinct values of ``part_expr`` over ``batch`` — the
    touched set of a merge whose batch months are not known up front.
    One job; the collected result is bounded by the table's partition
    count, never by the data. A NULL value is an error: no partition
    holds it."""
    vals = [
        r[0]
        for r in batch.select(part_expr.alias("__part")).distinct().collect()
    ]
    if any(v is None for v in vals):
        raise ValueError(
            "merge batch contains rows with a NULL partition value — "
            "every batch row must map to a concrete target partition"
        )
    return sorted(vals)


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
    the broadcast batch, partition column re-derived. Every batch row
    must map into ``touched``; the frame raises on one that does not.
    Returns (frame, base manifest, candidate file entries) — split out
    so plan dumps and tests can pin the shape without performing a
    commit."""
    m = _manifest(loc, _head(loc))
    part_col = m["part_col"]
    schema = T.StructType.fromJson(m["schema"])
    candidates = _pruned(m, part_col, touched)
    base = _read_with_deletes(spark, loc, schema, candidates, _delete_entries(m))
    # A batch row outside ``touched`` would miss the file holding its
    # key and be inserted a second time, so the write job raises on it.
    # The check rides a projection of the first non-key column. On a
    # key, the join's and Merger's not-null filters over it would be
    # pushed below the batch's own filters (a window partitioned by
    # the key, say), and a filter form is copied across the equi-join
    # onto the base side. Key validation runs on the unchecked batch.
    p, allowed = part_of(batch), sorted(set(touched))
    col = next(c for c in batch.columns if c not in join_on)
    outside = F.raise_error(
        F.format_string(
            "merge batch row in partition %s outside the touched set %s",
            p,
            F.lit(str(allowed)),
        )
    )
    checked = batch.withColumn(
        col, F.when(p.isNull() | ~p.isin(allowed), outside).otherwise(F.col(col))
    )
    merged = Merger(
        base.drop(part_col), checked, join_on=join_on, validate_anchor=batch
    ).merged(update=True, insert=True)
    return merged.withColumn(part_col, part_of(merged)), m, candidates


def merge_snapshot_commit(
    spark: SparkSession,
    loc: str,
    batch: DataFrame,
    join_on: list[str],
    part_of,  # callable: merged DataFrame -> partition-value Column
    touched: list,
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
    pre = {}

    def resolve():
        # TOCTOU close (ADVICE r9): the prewrite re-resolves the latest
        # manifest, so the commit parents on exactly the manifest the
        # merged frame was planned over (the driver re-checks it
        # against expected_parent; the version+1 link CAS then closes
        # the race completely).
        pre["out"], m, pre["candidates"] = merge_snapshot_prewrite(
            spark, loc, batch, join_on, part_of, touched
        )
        return m

    def build(m, version):
        part_col = m["part_col"]
        candidates = pre["candidates"]
        opts = _table_write_opts(m)
        # the layout is planned from (manifest, batch) alone: bins of
        # candidates on the table's first clustering column
        col = (opts["sort_cols"] or [part_col])[0]
        limit = parse_byte_conf(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
        bins = _bin_bounds(candidates, loc, col, part_col, limit)
        new_files = _write_commit_files(
            pre["out"], loc, version, part_col, **opts, _bins=(col, bins)
        )
        fields = {"commit": {"op": "merge"}}
        dirs = [_commit_dir(loc, version)]
        if m.get("cdf"):
            schema = T.StructType.fromJson(m["schema"])
            base = _read_with_deletes(
                spark, loc, schema, candidates, _delete_entries(m)
            )
            ch = _merge_cdf_frame(
                base, batch, join_on, part_col, part_of, schema
            )
            dirs.append(_commit_dir(loc, version, sub="changes"))
            ch.write.mode("overwrite").parquet(dirs[-1])
            fields["changes"] = _row_entries(dirs[-1], loc)
        keep = {e["path"] for e in candidates}
        # carried deletes still apply to carried files only: the
        # rewritten candidates were read WITH deletes applied and
        # their replacements carry seq=version > every delete seq.
        fields["files"] = [
            e for e in m["files"] if e["path"] not in keep
        ] + new_files
        return fields, dirs

    return _commit(loc, build, expected_parent, resolve)


def evolve_snapshot_schema(
    spark: SparkSession,
    loc: str,
    new_fields: list[tuple[str, str]],
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

    def build(m, version):
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
            return _Skip(m["version"])
        for name, ddl in to_add:
            schema = schema.add(name, ddl, True)
        # pure metadata: a lost race has nothing to clean
        return {
            "schema": schema.jsonValue(),
            "commit": {"op": "evolve_schema"},
        }, []

    return _commit(loc, build)


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

    def build(m, version):
        _check_append_schema(df, m, loc)
        new_files = _write_commit_files(
            df, loc, version, m["part_col"], files=files, **_table_write_opts(m)
        )
        return {
            "files": m["files"] + new_files,
            "commit": {
                "op": "append",
                "rows": sum(e["rows"] for e in new_files),
            },
        }, [_commit_dir(loc, version)]

    return _commit(loc, build, expected_parent)


# Maintenance/metadata op tags: content-preserving by contract, so
# read_changes skips their steps and a consumer's lag accounting treats
# them as free — one vocabulary for both.
_FREE_OPS = {"compact", "compact_changes", "evolve_schema", "evolve_partition_spec"}


def _history(loc: str, from_version: int, to_version: int):
    """The one walk over a version range: for each step v in
    (from_version, to_version], oldest first, yields (parent manifest,
    manifest, removed entries, added entries) — the step's file diff by
    identity (metadata-only; bounded by the commit's touched slice for
    copy-on-write commits). Every version resolves through
    ``_manifest``, so a range past the head reads as unknown and one
    over vacuumed history as retired (ADVICE r9: a ref-pinned vacuum
    can leave retained history non-contiguous); each manifest must
    parent on the version before it."""
    _manifest(loc, to_version)
    parent = _manifest(loc, from_version)
    if from_version > to_version:
        raise ValueError(f"bad version range v{from_version}..v{to_version}")
    for v in range(from_version + 1, to_version + 1):
        m = _manifest(loc, v)
        if m["parent"] != v - 1:
            raise ValueError(f"broken version chain at v{v} in {loc}")
        was = {e["path"] for e in parent["files"]}
        now = {e["path"] for e in m["files"]}
        removed = [e for e in parent["files"] if e["path"] not in now]
        added = [e for e in m["files"] if e["path"] not in was]
        yield parent, m, removed, added
        parent = m


def commit_added_entries(loc: str, version: int) -> list[dict]:
    """File entries a commit ADDED relative to its parent — the
    commit's own data output, resolved by manifest diff
    (metadata-only; bounded by the commit's touched slice for
    copy-on-write commits). v0 has no parent: everything is added."""
    if version == 0:
        return list(_manifest(loc, 0)["files"])
    ((_parent, _m, _removed, added),) = _history(loc, version - 1, version)
    return added


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
    out: list[dict] = []
    for parent, m, removed, added in _history(loc, from_version, to_version):
        if removed or _delete_entries(m) != _delete_entries(parent):
            raise ValueError(
                f"v{m['version']} of {loc} is not an append commit — "
                "incremental file diff would misread rewritten history"
            )
        out += added
    return out


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
    schema = T.StructType.fromJson(_manifest(loc, to_version)["schema"])
    entries = incremental_entries(loc, from_version, to_version)
    return _read_with_deletes(spark, loc, schema, entries, [])


def _change_schema(schema: T.StructType, versioned: bool = True) -> T.StructType:
    """The change-feed schema: ``_change_type``, the table columns and
    (``versioned``) ``_commit_version`` — the columns a consolidated
    change file holds; a commit's own change files lack the version."""
    fields = [T.StructField(_CHANGE_TYPE_COL, T.StringType()), *schema.fields]
    if versioned:
        fields.append(T.StructField("_commit_version", T.IntegerType()))
    return T.StructType(fields)


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
    compact the debt first). Steps whose op tag is in ``_FREE_OPS``
    (compaction, schema and partition-spec evolution) are skipped
    outright: content-preserving by contract, so the delta is empty
    by construction and diffing a compaction would cost |table| for
    nothing (ADVICE r8) — this is also what keeps the bounded-cost
    claim true across maintenance commits, and what keeps a
    post-MoR-delete compaction legal inside a range (its cleared
    delete list reflects materialized, not changed, rows).
    Old-side reads honor the deletes that applied to the removed
    files, so a row already invisible at ``from_version`` never
    reports as deleted twice.

    Step pricing, cheapest shape first (each step pays only its own):

    * MATERIALIZED (cdf table, merge commit) — the commit persisted
      its row delta as change files; the step is a plain scan of
      them, zero diff work (the Delta `_change_data` read path).
    * REPLACE, pure append, pure drop — no diff: removed rows emit
      as ``delete`` and added rows as ``insert`` (Delta's CDF
      semantics for overwrite commits; diffing a replace WOULD be a
      table scan).
    * otherwise — the read-time digest diff."""
    schema = T.StructType.fromJson(_manifest(loc, to_version)["schema"])
    out_cols = [F.col(c) for c in schema.names]

    def version_col(v):
        return F.lit(v).cast("int").alias("_commit_version")

    def step_materialized(v, entries):
        ch = _read_with_deletes(
            spark, loc, _change_schema(schema, versioned=False), entries, []
        )
        return ch.select(_CHANGE_TYPE_COL, *out_cols, version_col(v))

    def step_consolidated(entry, versions):
        ch = _read_with_deletes(
            spark, loc, _change_schema(schema), entry["files"], []
        )
        # version filter reaches the scan: files are range-clustered
        # and sorted on _commit_version, so subrange reads prune row
        # groups via page stats
        return ch.filter(F.col("_commit_version").isin(versions)).select(
            _CHANGE_TYPE_COL, *out_cols, "_commit_version"
        )

    def step_rows(v, parent, removed, added):
        # added files carry seq == their commit version, which
        # outranks every delete the parent carried — no delete
        # applies to them.
        sides = [
            ("delete", removed, _delete_entries(parent)),
            ("insert", added, []),
        ]
        return functools.reduce(
            DataFrame.unionAll,
            [
                _read_with_deletes(spark, loc, schema, entries, deletes).select(
                    F.lit(kind).alias("_change_type"), *out_cols, version_col(v)
                )
                for kind, entries, deletes in sides
                if entries
            ],
        )

    def step_changes(v, parent, removed, added):
        from pyspark.sql import Window

        old = _read_with_deletes(
            spark, loc, schema, removed, _delete_entries(parent)
        ).select(*out_cols)
        new = _read_with_deletes(spark, loc, schema, added, []).select(
            *out_cols
        )
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
        return typed.select("_change_type", *out_cols, version_col(v))

    # change-file consolidation (sidecar index): materialized steps
    # covered by a consolidation entry read the ONE range-clustered
    # file set instead of per-commit small files — newest covering
    # entry wins, one scan per entry for all its covered versions.
    cl = changelog_entries(loc)
    parts = []
    grouped: dict[int, tuple[dict, list[int]]] = {}
    for parent, m, removed, added in _history(loc, from_version, to_version):
        v = m["version"]
        op = (m.get("commit") or {}).get("op")
        if op in _FREE_OPS:
            continue
        if "changes" in m:
            # the commit materialized its own row delta (cdf table):
            # the step is a plain scan of the change files. Recorded
            # as [] when the commit provably changed nothing.
            if m["changes"]:
                cover = [e for e in cl if v in e["covers"]]
                if cover:
                    e = cover[-1]
                    grouped.setdefault(e["commit_version"], (e, []))[1].append(v)
                else:
                    parts.append(step_materialized(v, m["changes"]))
            continue
        if op != "replace" and _delete_entries(m) != _delete_entries(parent):
            raise ValueError(
                f"v{v} of {loc} changes equality-delete files — row-level "
                "changes for those require a table scan; compact first"
            )
        if removed and added and op != "replace":
            parts.append(step_changes(v, parent, removed, added))
        elif removed or added:
            parts.append(step_rows(v, parent, removed, added))
    parts += [step_consolidated(e, vs) for e, vs in grouped.values()]
    if not parts:
        return spark.createDataFrame([], _change_schema(schema))
    return functools.reduce(DataFrame.unionAll, parts)


def delete_where_commit(
    spark: SparkSession,
    loc: str,
    part_lo,
    part_hi,
    row_pred=None,
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

    def build(m, version):
        part_col = m["part_col"]
        schema = T.StructType.fromJson(m["schema"])
        hit = _pruned(m, part_col, span=(part_lo, part_hi))
        paths = {e["path"] for e in hit}
        carried = [e for e in m["files"] if e["path"] not in paths]
        dropped, rewrite = [], []
        for e in hit:
            e_lo, e_hi = _entry_range(e, part_col, part_col)
            inside = e_lo is not None and part_lo <= e_lo and e_hi <= part_hi
            (dropped if inside and row_pred is None else rewrite).append(e)
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
                written_dirs.append(_commit_dir(loc, version, sub=tag))
                new_files += _write_commit_files(
                    kept.filter(cond),
                    loc,
                    version,
                    part_col,
                    subdir=tag,
                    **_table_write_opts(m),
                )
        return {
            "files": carried + new_files,
            "commit": {
                "op": "delete_where",
                "lo": part_lo,
                "hi": part_hi,
                "dropped_metadata_only": len(dropped),
                "rewritten": len(rewrite),
                "carried": len(carried),
            },
        }, written_dirs

    return _commit(loc, build)


def delete_keys_commit(
    spark: SparkSession,
    loc: str,
    keys_df: DataFrame,
    key_cols: list[str],
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

    def build(m, version):
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
            return _Skip(m["version"])
        del_dir = _commit_dir(loc, version, "d")
        notnull = functools.reduce(
            lambda a, c: a & F.col(c).isNotNull(),
            key_cols,
            F.lit(True),
        )
        keys_df.select(*key_cols).filter(notnull).distinct().coalesce(
            1
        ).write.mode("overwrite").parquet(del_dir)
        entries = [
            {
                **e,
                "seq": version,
                "key": list(key_cols),
                **({"tag": tag} if tag is not None else {}),
            }
            for e in _row_entries(del_dir, loc)
        ]
        if not entries:
            shutil.rmtree(del_dir, ignore_errors=True)
            return _Skip(m["version"])
        return {
            "deletes": existing + entries,
            "tags": _applied_tags(m) + ([tag] if tag is not None else []),
            "commit": {
                "op": "delete_keys",
                "keys": sum(e["rows"] for e in entries),
            },
        }, [del_dir]

    return _commit(loc, build)


def compact_snapshot_commit(
    spark: SparkSession,
    loc: str,
    files: int | None = None,
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

    def build(m, version):
        df = read_snapshot(spark, loc, version=m["version"])
        new_files = _write_commit_files(
            df, loc, version, m["part_col"], files=files, **_table_write_opts(m)
        )
        return {
            "files": new_files,
            # compaction reads THROUGH the deletes (read_snapshot
            # applies them), so the rewritten content has them
            # materialized — the child clears the delete list: this is
            # how merge-on-read debt is retired. Applied-tag history is
            # CARRIED (ADVICE r8): clearing it here would let a re-run
            # of an old tagged erasure job commit again and delete keys
            # legitimately re-inserted since.
            "deletes": [],
            # the op tag is a CONTRACT statement: compaction is
            # content-preserving by construction, which is what lets
            # read_changes skip the step instead of digest-diffing the
            # whole table to discover an empty delta.
            "commit": {"op": "compact"},
        }, [_commit_dir(loc, version)]

    return _commit(loc, build, expected_parent)


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
    """Numbered link(2)-CAS publish into the sidecar index as the
    HIGHEST entry + 1 (not the entry count: a retired entry must not
    make every later publish collide with the last one); losing the
    number race just takes the next number (entries are additive —
    read_changes prefers the newest covering entry)."""
    d = _changelog_dir(loc)
    while True:
        last = _highest_entry(d, "e")
        n = 0 if last is None else last + 1
        try:
            return _publish(os.path.join(d, f"e{n:08d}.json"), entry)
        except FileExistsError:
            continue


def compact_changes_commit(
    spark: SparkSession,
    loc: str,
    from_version: int,
    to_version: int,
    files: int = 1,
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
    sidecar: dict = {}

    def build(m, version):
        sidecar.clear()
        if not 0 <= from_version <= to_version <= m["version"]:
            raise ValueError(
                f"bad compact_changes range v{from_version}..v{to_version}"
            )
        covered = [
            (mv["version"], mv["changes"])
            for _p, mv, _r, _a in _history(loc, from_version, to_version)
            if mv.get("changes")
        ]
        if not covered:
            return _Skip(m["version"])
        cover_versions = [v for v, _ in covered]
        for e in changelog_entries(loc):
            if set(cover_versions) <= set(e["covers"]):
                return _Skip(e["commit_version"])  # already consolidated
        ch_schema = _change_schema(
            T.StructType.fromJson(m["schema"]), versioned=False
        )
        out_dir = _commit_dir(loc, version, "cc")
        frames = [
            _read_with_deletes(spark, loc, ch_schema, entries, []).withColumn(
                "_commit_version", F.lit(v).cast("int")
            )
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
        entry = {
            "from": from_version,
            "to": to_version,
            "covers": cover_versions,
            "files": _row_entries(out_dir, loc),
        }
        sidecar.update(entry, commit_version=version)
        return {"commit": {"op": "compact_changes", **entry}}, [out_dir]

    v = _commit(loc, build, expected_parent)
    # the last build committed iff its version came back: only then
    # does the sidecar index gain the consolidation entry
    if sidecar.get("commit_version") == v:
        _publish_changelog_entry(loc, sidecar)
    return v


def replace_snapshot_commit(
    spark: SparkSession,
    loc: str,
    df: DataFrame,
    files: int | None = None,
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

    def build(m, version):
        _check_append_schema(df, m, loc)
        new_files = _write_commit_files(
            df, loc, version, m["part_col"], files=files, **_table_write_opts(m)
        )
        return {
            "files": new_files,
            "deletes": [],
            "commit": {
                "op": "replace",
                "rows": sum(e["rows"] for e in new_files),
            },
        }, [_commit_dir(loc, version)]

    return _commit(loc, build, expected_parent)


def evolve_partition_spec(
    spark: SparkSession,
    loc: str,
    new_part_col: str,
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

    def build(m, version):
        old_part = m["part_col"]
        if old_part == new_part_col:
            return _Skip(m["version"])
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
        # pure metadata: a lost race has nothing to clean
        return {
            "part_col": new_part_col,
            "files": migrated,
            "commit": {
                "op": "evolve_partition_spec",
                "from": old_part,
                "to": new_part_col,
            },
        }, []

    return _commit(loc, build)


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


def _ref_version(path: str) -> int:
    with open(path) as f:
        return json.load(f)["version"]


def _check_ref_version(loc: str, version: int | None) -> int:
    latest = _head(loc)
    if version is None:
        return latest
    if not os.path.exists(_manifest_path(loc, version)):
        raise ValueError(f"no version v{version} at {loc} to reference")
    return version


def _create_ref(loc: str, path: str, version: int | None, conflict) -> int:
    """Publish a ref's first entry at ``path`` pointing to ``version``
    (default: latest). Concurrent-idempotent: re-creating it at the
    SAME version is success (a racing peer already published the
    identical ref — the guard the concurrent sweep protocol requires);
    at a different version it raises ``conflict(existing, version)``."""
    version = _check_ref_version(loc, version)
    try:
        _publish(path, {"version": version})
    except FileExistsError:
        existing = _ref_version(path)
        if existing != version:
            raise ValueError(conflict(existing, version)) from None
    return version


def create_tag(loc: str, name: str, version: int | None = None) -> int:
    """Create an IMMUTABLE named ref to a version (default: latest),
    concurrent-idempotent (``_create_ref``); re-creating it at a
    different version raises, because a tag's meaning never moves."""
    return _create_ref(
        loc,
        os.path.join(_refs_dir(loc, "tags"), f"{name}.json"),
        version,
        lambda old, new: f"tag {name!r} at {loc} already points to "
        f"v{old}, refusing to move it to v{new}",
    )


def create_branch(loc: str, name: str, version: int | None = None) -> int:
    """Create a branch HEAD at a version (default: latest) — entry 0
    of the branch's numbered ref chain. Concurrent-idempotent like
    create_tag: same-version re-create succeeds, different raises."""
    return _create_ref(
        loc,
        os.path.join(_refs_dir(loc, "heads"), name, "r00000000.json"),
        version,
        lambda old, new: f"branch {name!r} at {loc} was already created "
        f"at v{old}, not v{new}",
    )


def branch_head_entry(
    loc: str, name: str, kind: str = "heads"
) -> tuple[int, int]:
    """(entry number, version) of the branch's current head — the
    entry number is the CAS token movers pass back to update_branch
    as ``expected_entry`` for an ABA-proof advance."""
    d = os.path.join(_refs_dir(loc, kind), name)
    k = _highest_entry(d, "r")
    if k is None:
        raise KeyError(f"no {kind[:-1]} {name!r} at {loc}")
    return k, _ref_version(os.path.join(d, f"r{k:08d}.json"))


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
    k, cur = branch_head_entry(loc, name, _kind)
    if cur != expected_version:
        return False
    if expected_entry is not None and k != expected_entry:
        return False
    new_version = _check_ref_version(loc, new_version)
    nxt = os.path.join(
        _refs_dir(loc, _kind), name, f"r{k + 1:08d}.json"
    )
    try:
        _publish(nxt, {"version": new_version})
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
    return _create_ref(
        loc,
        os.path.join(_refs_dir(loc, "cursors"), name, "r00000000.json"),
        version,
        lambda old, new: f"cursor {name!r} at {loc} was already created "
        f"at v{old}, not v{new}",
    )


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
    k, cur = cursor_entry(loc, name)
    if k != expected_entry:
        return False
    return update_branch(
        loc, name, new_version, cur, expected_entry=k, _kind="cursors"
    )


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
    head = _head(loc)
    out = []
    for name in names:
        _k, pos = cursor_entry(loc, name)
        pending_commits = 0
        rows: int | None = 0
        for _p, m, _r, added in _history(loc, pos, head):
            op = (m.get("commit") or {}).get("op")
            if op in _FREE_OPS:
                continue
            pending_commits += 1
            if rows is None:
                continue
            if m.get("changes"):
                rows += sum(e["rows"] for e in m["changes"])
            elif op == "append":
                rows += sum(e["rows"] for e in added)
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
        return _ref_version(tag)
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
                out.add(_ref_version(os.path.join(tags, n)))
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
    head = _head(loc)
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
    return _highest_entry(os.path.join(cat_loc, "_catalog"))


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
    try:
        _publish(_catalog_path(cat_loc, version), entry)
    except FileExistsError:
        return None
    return version
