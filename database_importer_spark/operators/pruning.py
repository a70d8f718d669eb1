"""Zone-map (parquet row-group statistics) pruning for global top-k.

The reference engine has no top-k operator (its data plane is a full
pandas frame, dbimport/window.py:294-311); `limit_topk_global` is the
Part-B surface demo (TakeOrderedAndProject — per-task heap, driver
merge). That plan is already shuffle-free, but it still *scans every
row*: at 100 TB a global `ORDER BY x DESC LIMIT k` should read almost
nothing, because parquet footers carry min/max per row group and only
row groups whose max can reach the running k-th value can contribute.
Columnar engines (DuckDB, Trino, ClickHouse) do exactly this; Spark's
DSv2 parquet scan does not — but its *filter pushdown* does prune row
groups by stats. So we synthesize the missing optimization in two
sound phases:

  phase 1 (metadata + one-column peek): rank row groups by their
    stats max, read ONLY the order column of the best row group(s)
    until >= k non-null values are in hand; the k-th largest of that
    sample is a LOWER bound on the true k-th value (any k concrete
    values give one).
  phase 2 (the real scan): the declared plan with `col >= threshold`
    prepended. The comparison filter reaches the parquet reader as a
    pushed filter, so every row group whose max < threshold is
    skipped WITHOUT reading data pages — typically all but a handful.
    TakeOrderedAndProject then runs over the few surviving rows.

Soundness: every true top-k row has value >= true k-th value >=
threshold, and `>=` keeps threshold ties, so phase 2 can never drop a
result row. NULLs sort last under both Spark `desc` (desc_nulls_last)
and DuckDB `DESC` (NULLS LAST default); with >= k non-null values in
the table the filter dropping NULLs is also exact.

Scale note: phase 1 is O(#row-groups) footer metadata plus ONE
column chunk of one-or-few row groups — on a cluster this is the
planner/coordinator reading a catalog's zone map (Iceberg/Delta file
stats serve the same role); it never touches the fact's data pages.
The threshold is memoized on the file fingerprint, so repeated
invocations over an unchanged table pay zero I/O.
"""

from __future__ import annotations

import os

from database_importer_spark.cache import fingerprint, memo


def _parquet_files(path: str) -> list[str]:
    """A testdata table is one .parquet file; a Spark-written table is
    a directory of part files. Accept both."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return [path]


def topk_prune_threshold(path: str, col: str, k: int) -> float | None:
    """Lower bound on the k-th largest value of ``col`` across all
    row groups under ``path``, from footer stats plus a one-column
    read of the highest-max row group(s). Returns None when stats are
    missing or the table holds < k non-null values (caller falls back
    to the unpruned plan)."""
    import numpy as np
    import pyarrow.parquet as pq

    # a pure function of the file bytes: memoized on their fingerprint
    thresholds = memo("topk_thresholds")
    key = (fingerprint(path), col, k)
    if key in thresholds:
        return thresholds[key]
    files = _parquet_files(path)

    # (stats_max, file, rg_index) for every row group; None max → no
    # stats for that group → it can never be pruned, but it also
    # cannot seed the threshold.
    groups: list[tuple[float, str, int]] = []
    readers: dict[str, pq.ParquetFile] = {}
    for f in files:
        pf = pq.ParquetFile(f)
        readers[f] = pf
        md = pf.metadata
        try:
            ci = md.schema.to_arrow_schema().get_field_index(col)
        except KeyError:
            thresholds[key] = None
            return None
        if ci < 0:
            thresholds[key] = None
            return None
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(ci).statistics
            if st is None or not st.has_min_max:
                continue
            groups.append((float(st.max), f, i))

    if not groups:
        thresholds[key] = None
        return None

    groups.sort(key=lambda g: g[0], reverse=True)
    vals: list[np.ndarray] = []
    have = 0
    for _mx, f, i in groups:
        arr = (
            readers[f]
            .read_row_group(i, columns=[col])
            .column(0)
            .to_numpy(zero_copy_only=False)
        )
        arr = arr[~np.isnan(arr)] if arr.dtype.kind == "f" else arr
        if len(arr):
            vals.append(arr)
            have += len(arr)
        if have >= k:
            break

    if have < k:
        thresholds[key] = None
        return None
    allv = np.concatenate(vals)
    thr = float(np.partition(allv, len(allv) - k)[len(allv) - k])
    thresholds[key] = thr
    return thr


def footer_exact_max(path: str, col: str) -> int | None:
    """EXACT maximum of an integer column from parquet footer stats
    alone — zero data pages, zero Spark jobs (the planner-side
    zone-map read, same fenced builder-I/O class as
    :func:`topk_prune_threshold`, memoized the same way).

    Sound only when every row group carries min/max stats for ``col``
    and the physical type is integral (int stats are exact by the
    parquet spec; string stats may be truncated, float stats can be
    NaN-polluted) — returns None otherwise and the caller falls back
    to an in-plan aggregate. MAX over per-group maxes == table MAX
    because stats cover all non-null values and SQL MAX ignores NULLs
    (an all-NULL group simply reports no stats and is skipped; if ALL
    groups are stats-less or all-NULL, fall back)."""
    import pyarrow.parquet as pq

    maxes = memo("footer_max")
    key = (fingerprint(path), col)
    if key in maxes:
        return maxes[key]
    files = _parquet_files(path)

    out: int | None = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        schema = md.schema.to_arrow_schema()
        try:
            ci = schema.get_field_index(col)
        except KeyError:
            ci = -1
        import pyarrow.types as pat

        if ci < 0 or not pat.is_integer(schema.field(ci).type):
            maxes[key] = None
            return None
        for i in range(md.num_row_groups):
            rg = md.row_group(i).column(ci)
            st = rg.statistics
            if st is None or not st.has_min_max:
                if rg.num_values > 0:  # real values but no stats
                    maxes[key] = None
                    return None
                continue
            mx = int(st.max)
            out = mx if out is None or mx > out else out
    maxes[key] = out
    return out
