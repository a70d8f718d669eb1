"""Set-based merge/upsert — the engine's flagship operator.

Re-expresses the reference's entire data plane (reference:
dbimport/importer.py — validation :53-251, staging :253-291, update
:312-359, insert declared-but-NotImplemented :361-362) as one Catalyst
logical plan. The reference ships spreadsheet rows to a server-side
temp table and issues ONE set-based ``UPDATE .. FROM .. INNER JOIN``;
Spark's equivalent needs no staging step at all — the update source
is just the small side of a join.

Semantics preserved from the reference:
  * rows with NULL in any join-key column never match (importer.py:230
    ``dropna``; test tests/test_importer.py:166-189) — and because
    Spark's ``=`` is null-rejecting, the join itself also guarantees
    this. Never use ``eqNullSafe`` here.
  * each source row must address at most one target row: duplicate
    join-key tuples in the source are an error (importer.py:242-249).
  * matched target rows take the source value EVEN IF NULL — this is
    ``UPDATE SET a.c = b.c`` semantics, not COALESCE. Implemented via
    a match flag, so a NULL update value still overwrites.
  * only the validated (join_on + subset) columns of the source
    participate (importer.py:228-230 projection).
  * error messages match the reference suite (tests/test_importer.py).

Completion beyond the reference: ``insert=True`` (the reference's
``NotImplementedError`` half of MERGE, importer.py:361-362) is a
left-anti join + unionByName.

Scale design (100 TB target table, spreadsheet-to-moderate source):
the update source is broadcast by default, so the merge is a
broadcast-hash join — the target is scanned once, no shuffle of the
big side, and the plan parallelizes per input split. For a large
source (``broadcast=False``) it degrades gracefully to a sort-merge
join where AQE handles skew. Either way the whole merge is one job,
atomic at the output level (write-then-swap), which improves on the
reference's per-5000-row-chunk commits (importer.py:261 non-atomic
staging).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_importer_spark.cache import fingerprint, memo

_MATCH_FLAG = "__dbis_matched"


class MergerError(Exception):
    """Data-dependent merge failure (duplicate columns / duplicate keys)."""


def _fmt_cols(cols) -> str:
    return ", ".join(f"'{c}'" for c in cols)


def _plural(n: int) -> str:
    return "s" if n > 1 else ""


def _q(name: str) -> str:
    """Backtick-quoted SQL identifier — dotted/spaced names must not
    parse as nested field access."""
    return "`" + name.replace("`", "``") + "`"


def _sql_type(dt: T.DataType) -> str:
    """``dt`` as an SQL type, struct field names quoted. SQL has no
    syntax for non-nullable array elements or map values, so a cast to
    such a type yields the nullable one."""
    if isinstance(dt, T.StructType):
        return "STRUCT<%s>" % ", ".join(
            f"{_q(f.name)}: {_sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in dt.fields
        )
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{_sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{_sql_type(dt.keyType)}, {_sql_type(dt.valueType)}>"
    return dt.simpleString()


def _as(expr: str, name: str, have: T.DataType | None, want: T.DataType) -> str:
    """One projection item: ``expr`` (of type ``have``) named ``name``,
    cast to ``want`` unless it already has that type."""
    if have != want:
        expr = f"CAST({expr} AS {_sql_type(want)})"
    return f"{expr} AS {_q(name)}"


_NAN = object()
_EXACT = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.DecimalType, T.DateType, T.TimestampNTZType, T.DayTimeIntervalType,
    T.YearMonthIntervalType, T.NullType,
)


def _group_value(dt: T.DataType):
    """A function from a collected (non-NULL) value of type ``dt`` to a
    hashable value, equal for two values exactly when Spark's groupBy
    puts them in one group; None for a type it cannot map exactly.
    Spark normalizes floats in grouping keys, nested ones too, so every
    NaN is one value (Python's NaN is unequal to itself) and -0.0 is
    0.0 (already equal in Python). A local timestamp collects as a
    naive local datetime whose ``fold`` alone tells apart the two
    instants of a repeated wall-clock hour. Strings compare as decoded
    text, so a key with invalid UTF-8 bytes can only be over-reported.
    Nested NULLs are a value of their own, as in a group key."""
    if isinstance(dt, _EXACT):
        return lambda v: v
    if isinstance(dt, T.StringType):
        return (lambda v: v) if dt.collation == "UTF8_BINARY" else None
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return lambda v: _NAN if v != v else v
    if isinstance(dt, T.TimestampType):
        return lambda v: (v, v.fold)
    if isinstance(dt, T.BinaryType):
        return bytes
    if isinstance(dt, T.ArrayType):
        fs = [_group_value(dt.elementType)]
    elif isinstance(dt, T.StructType):
        fs = [_group_value(x.dataType) for x in dt.fields]
    else:
        return None
    if None in fs:
        return None
    gs = [lambda v, f=f: None if v is None else f(v) for f in fs]
    if isinstance(dt, T.ArrayType):
        return lambda v: tuple(map(gs[0], v))
    return lambda v: tuple(g(x) for g, x in zip(gs, v))


def _duplicate_keys(keys: DataFrame) -> bool | None:
    """Whether two rows of ``keys`` fall into one group of Spark's
    groupBy, decided on the driver over the collected rows; None when
    a key type has no exact driver-side comparison."""
    norm = [_group_value(f.dataType) for f in keys.schema.fields]
    if None in norm:
        return None
    seen: set = set()
    for row in keys.collect():
        k = tuple(f(v) for f, v in zip(norm, row))
        if k in seen:
            return True
        seen.add(k)
    return False


def _dedup_keep_order(cols: list[str]) -> list[str]:
    seen = set()
    out = []
    for c in cols:
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


# Per-OBJECT memo of the (canonical plan, file fingerprints) base:
# computing it costs two py4j round trips (analyzed-plan toString — a
# large string — and inputFiles) plus the stats, ~50-100 ms on a merge
# source. A DataFrame object's plan never changes, and every builder
# hands Merger a FRESH object when the corpus changes (frame_cache /
# footer-cache fingerprints gate object reuse), so object identity ⇒
# same plan over same bytes. The one unsupported pattern: holding ONE
# DataFrame across an in-place rewrite of its input files and
# re-probing it — fresh construction (what every declared builder
# does) re-stats.
import weakref as _weakref

_ANCHOR_BASE: "_weakref.WeakKeyDictionary[DataFrame, object]" = (
    _weakref.WeakKeyDictionary()
)


def _file_anchored_key(frame: DataFrame, extra: tuple):
    """Memo key for a data-derived property of ``frame``: its
    #id-stripped analyzed plan + the fingerprint of every input file +
    ``extra``. Same plan over same bytes ⇒ same verdict.
    Returns None when the frame has NO file anchors (checkpointed /
    LogicalRDD / createDataFrame sources): two different datasets
    would canonicalize identically after id-stripping, so those are
    never memoized."""
    import re

    try:
        base = _ANCHOR_BASE.get(frame)
    except TypeError:
        base = None  # non-weakrefable wrapper: compute uncached
    if base is None:
        try:
            plan = frame._jdf.queryExecution().analyzed().toString()
            canonical = re.sub(r"#\d+L?", "#", plan)
            files = sorted(
                fingerprint(f.removeprefix("file:")) for f in frame.inputFiles()
            )
            base = (canonical, tuple(files)) if files else False
        except Exception:
            return None
        try:
            _ANCHOR_BASE[frame] = base
        except TypeError:
            pass
    if base is False:
        return None
    return (base[0], base[1], extra)


class Merger:
    """Validated set-based update/insert of ``target`` from ``data``.

    Parameters
    ----------
    target : DataFrame
        The table being updated (the reference's DBMS table).
    data : DataFrame
        The update source (the reference's spreadsheet frame).
    join_on : list[str], optional
        Join-key columns. Defaults to ``keys ∩ data.columns`` in key
        order — the reference's PK-based default (importer.py:100).
    subset : list[str], optional
        Columns to update. Defaults to ``data.columns − join_on``.
    keys : list[str], optional
        The target's key columns (Spark has no PK catalog; this is
        the explicit analogue of the reference's PK discovery,
        importer.py:18-28).
    broadcast : bool
        Hint the update source as the broadcast side (default True:
        merge sources are small relative to a 100 TB target). False
        also makes the full MERGE (``merged(update=True,
        insert=True)``) the single full-outer pass.
    """

    def __init__(
        self,
        target: DataFrame,
        data: DataFrame,
        join_on: list[str] | None = None,
        subset: list[str] | None = None,
        keys: list[str] | None = None,
        broadcast: bool = True,
        validate_anchor: DataFrame | None = None,
    ):
        # Fail-fast on an empty source (reference importer.py:131-139)
        # — but memoized like validate_unique_keys (r8): isEmpty() is
        # a JOB, and one that eagerly materializes every broadcast
        # subtree under the source plan (a batch embedding a
        # max-key scalar re-scans the key column per construction —
        # measured 0.81 s at sf10, paid by EVERY merge invocation).
        # Same plan + same input files ⇒ same emptiness verdict.
        # Checkpointed sources anchor on validate_anchor (plan-equal
        # rows); anchorless sources re-check every time, and an
        # actually-empty source still raises on every construction
        # (only non-emptiness is ever recorded).
        probe = validate_anchor if validate_anchor is not None else data
        nonempty = memo("merge_nonempty", probe.sparkSession)
        key = _file_anchored_key(probe, ())
        if key is None or key not in nonempty:
            if data.isEmpty():
                raise ValueError("data contains no records")
            if key is not None:
                nonempty[key] = True

        self._target = target
        self._data_master = data
        self._keys = list(keys or [])
        self._broadcast = broadcast

        self._check_dup_columns(data.columns)

        if join_on is None:
            join_on = [k for k in self._keys if k in data.columns]
        self._join_on = self._validate_join_on(join_on)

        if subset is None:
            subset = [c for c in data.columns if c not in self._join_on]
        self._subset = self._validate_subset(subset)

        self._anchor_master = validate_anchor
        self._slice_data()

    def _slice_data(self) -> None:
        """The reference's ``_slice_data`` (importer.py:253-260):
        project the master source to the current join+subset columns
        and drop NULL-key rows (they can never match), in one lazy
        plan. Re-run by the ``join_on``/``subset`` setters so a
        remapped Merger re-derives its update source exactly like the
        reference re-analyzes on property assignment.

        validate_anchor: a FILE-ANCHORED frame that is plan-equal to
        ``data`` modulo checkpointing. A checkpointed source is a
        LogicalRDD with no input files, so validate_unique_keys can
        neither fingerprint it (memo) nor trust #id-stripped plan
        equality (two different RDDs canonicalize alike). Callers
        that checkpoint their staging batch pass the pre-checkpoint
        plan; validation then runs (and memoizes) on the anchor
        — same rows by construction, so the verdict transfers. The
        snapshot merge likewise passes its batch as the anchor of the
        touched-set-checked projection, which adds only a raise."""
        cols = [_q(c) for c in (*self._join_on, *self._subset)]
        keys = cols[: len(self._join_on)]
        self._data = self._data_master.selectExpr(*cols).na.drop(subset=keys)
        if self._anchor_master is not None:
            a = self._anchor_master.selectExpr(*cols)
            self._validate_anchor = a.na.drop(subset=keys)
        else:
            self._validate_anchor = None

    # --- validation (importer.py:141-251 parity) --------------------

    @staticmethod
    def _check_dup_columns(columns: list[str]) -> None:
        seen: set[str] = set()
        dups: list[str] = []
        for c in columns:
            if c in seen and c not in dups:
                dups.append(c)
            seen.add(c)
        if dups:
            raise MergerError(
                "data contains duplicate column%s: %s"
                % (_plural(len(dups)), _fmt_cols(dups))
            )

    def _validate_join_on(self, columns: list[str]) -> list[str]:
        if not columns:
            raise ValueError("column(s) to join on are required")
        columns = _dedup_keep_order(list(columns))
        missing = sorted(set(columns) - set(self._data_master.columns))
        if missing:
            raise ValueError(
                "couldn't find supplied column%s to join on: %s"
                % (_plural(len(missing)), _fmt_cols(missing))
            )
        return columns

    def _validate_subset(self, columns: list[str]) -> list[str]:
        if not columns:
            raise ValueError("no columns provided")
        columns = _dedup_keep_order(list(columns))

        missing = sorted(set(columns) - set(self._data_master.columns))
        if missing:
            raise ValueError(
                "column%s provided not found in data: %s"
                % (_plural(len(missing)), _fmt_cols(missing))
            )

        overlap = sorted(set(columns) & set(self._join_on))
        if overlap:
            raise ValueError(
                "column%s provided cannot contain join on column%s: %s"
                % (_plural(len(columns)), _plural(len(overlap)), _fmt_cols(overlap))
            )

        not_in_target = sorted(set(columns) - set(self._target.columns))
        if not_in_target:
            raise ValueError(
                "column%s provided not found in target table: %s"
                % (_plural(len(not_in_target)), _fmt_cols(not_in_target))
            )
        return columns

    def validate_unique_keys(self) -> None:
        """Each source row must address exactly one target row
        (importer.py:242-249).

        A broadcast source is checked on the driver: the broadcast
        collects the whole batch there anyway, so collecting its keys
        stays inside the same memory bound, and an in-memory batch
        costs no Spark job at all (a file-backed one, one scan). The
        keys compare as Spark's groupBy compares them (``_group_value``).
        A non-broadcast source is not driver-bounded and keeps the one
        aggregate over the source, as does a key type the driver
        cannot compare exactly.

        Memoized (r7) per (session, canonical source plan, source file
        fingerprint): re-running the same MERGE plan re-proved the same
        property every invocation — a fixed 0.4-0.65 s job at sf10 that
        dominated the merge's non-sink cost. Same plan + same input
        files (path/size/mtime of every scanned file) ⇒ same verdict,
        so a pass is recorded and skipped next time; a CHANGED source
        (new batch file, regenerated corpus, different projection) gets
        a fresh key and re-validates. Failures are never memoized."""
        frame = (
            self._validate_anchor if self._validate_anchor is not None else self._data
        )
        validated = memo("merge_validated_keys", frame.sparkSession)
        # No file anchors (e.g. a checkpointed/LogicalRDD source,
        # createDataFrame input): never memoized, always re-validate.
        key = _file_anchored_key(frame, tuple(self._join_on))
        if key is not None and key in validated:
            return
        keys = frame.selectExpr(*[_q(k) for k in self._join_on])
        dup = _duplicate_keys(keys) if self._broadcast else None
        if dup is None:
            dup = (
                keys.groupBy(*[_q(k) for k in self._join_on])
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
        if dup:
            raise MergerError(
                "data contains duplicate values in join on column%s: %s"
                % (_plural(len(self._join_on)), _fmt_cols(self._join_on))
            )
        if key is not None:
            validated[key] = True

    # --- properties (importer.py:107-123 parity: re-slice on change) --

    @property
    def join_on(self) -> list[str]:
        return list(self._join_on)

    @join_on.setter
    def join_on(self, columns: list[str]) -> None:
        """Re-point the key mapping and RE-SLICE (importer.py:111-114:
        the setter re-runs ``_slice_data``) — the update source is
        re-derived lazily from the master frame, so the next merge
        plan uses the new keys without constructing a new Merger. Like
        the reference, this validates the new keys against the source
        columns; the existing ``subset`` is kept as-is (assign it next
        if the new keys overlap it — ``_validate_subset`` is the
        overlap check's home in both implementations)."""
        self._join_on = self._validate_join_on(list(columns))
        self._slice_data()

    @property
    def subset(self) -> list[str]:
        return list(self._subset)

    @subset.setter
    def subset(self, columns: list[str]) -> None:
        """Re-point the update-column set and RE-SLICE
        (importer.py:120-123): full re-validation (presence in data,
        no join-key overlap, presence in target), then the update
        source re-derives from the master frame."""
        self._subset = self._validate_subset(list(columns))
        self._slice_data()

    @property
    def data(self) -> DataFrame:
        """The validated, projected, key-filtered update source."""
        return self._data

    def cast_warnings(self) -> list[tuple[str, str, str]]:
        """Pre-flight lossy-cast lint over (source, target) schema
        pairs — the engine's version of the reference GUI's yellow
        cells (window.py:410-415): warnings, never errors. Returns
        [(column, canonical_source_type, target_type)]."""
        from database_importer_spark.functions.typesys import lint_cast_plan

        src = {
            f.name: f.dataType.simpleString()
            for f in self._data.schema.fields
            if f.name in self._subset
        }
        dst = {
            f.name: f.dataType.simpleString()
            for f in self._target.schema.fields
        }
        # map Spark type names onto the canonical/DBMS vocabulary the
        # matrix understands
        canon_src = {
            "string": "object", "bigint": "int64", "int": "int64",
            "double": "float64", "float": "float64",
            "timestamp": "datetime64[ns]", "timestamp_ntz": "datetime64[ns]",
        }
        canon_dst = {
            "string": "text", "bigint": "int", "int": "int",
            "double": "float", "float": "float",
            "timestamp": "datetime", "timestamp_ntz": "datetime",
            "date": "date", "boolean": "bool",
        }
        return lint_cast_plan(
            {c: canon_src.get(t, t) for c, t in src.items()},
            {c: canon_dst.get(t, t) for c, t in dst.items()},
        )

    # --- execution ---------------------------------------------------

    def _updates_frame(self) -> DataFrame:
        u = self._data.withColumn(_MATCH_FLAG, F.lit(True))
        return F.broadcast(u) if self._broadcast else u

    def _update_arm(self, how: str) -> DataFrame:
        """MERGE's update arm: the target joined with the update
        source on the keys, every output column cast to the target
        column's type (the reference stages into a schema-only copy of
        the target, so its UPDATE never widens a column; a no-op cast
        folds away). ``how`` picks the shape:

          * ``"left"`` — every target row, matched rows updated
            (``merged``);
          * ``"inner"`` — only the matched rows' post-images
            (``merged_delta``);
          * ``"full_outer"`` — the single-pass MERGE: target-only rows
            pass through, source-only rows become the inserts, their
            typed-NULL padding falling out of the join itself.

        ``UPDATE SET a.c = b.c``: the match flag (never NULL on a
        source-present row) drives the branch, so a NULL source value
        still overwrites. Target rows with NULL join keys can never
        match the null-rejecting join, preserving the reference's
        never-match semantics in every shape."""
        joined = self._target.alias("a").join(
            self._updates_frame().alias("b"), on=self._join_on, how=how
        )
        src = self._data.schema
        flag = _q(_MATCH_FLAG)
        exprs = []
        for f in self._target.schema.fields:
            c = _q(f.name)
            if f.name in self._join_on:
                e = c  # USING join: coalesced key on full_outer
            elif f.name in self._subset:
                e = f"CASE WHEN {flag} IS NOT NULL THEN b.{c} ELSE a.{c} END"
            else:
                e = f"a.{c}"
            same = f.name not in src.names or src[f.name].dataType == f.dataType
            exprs.append(_as(e, f.name, f.dataType if same else None, f.dataType))
        return joined.selectExpr(*exprs)

    def _inserts(self) -> DataFrame:
        return _insert_arm(
            self._target,
            self._data,
            self._join_on,
            self._target.schema,
            self._updates_frame() if self._broadcast else None,
        )

    def _validate_action(self, update: bool, insert: bool) -> None:
        if not (update or insert):
            raise ValueError("at least one action must be performed")
        self.validate_unique_keys()

    def merged(self, update: bool = True, insert: bool = False) -> DataFrame:
        """Return the post-merge target as one lazy DataFrame plan,
        in the target's schema.

        ``update``: matched rows take source values (NULLs included).
        ``insert``: unmatched source rows are appended, null-padding
        target columns absent from the source (completes the
        reference's importer.py:361-362).

        With ``broadcast=True`` the full MERGE is the update arm (left
        join) ∪ the insert arm: the target is SCANNED twice but never
        shuffled — right when the target is 100 TB and the batch
        broadcasts. With ``broadcast=False`` it is ONE full-outer join,
        one target scan, no union: a full outer join cannot broadcast
        anyway, and the two-arm shape would shuffle the target twice.
        Against a BUCKETED target the full-outer side plans
        exchange-free and sort-free and only the batch moves. Both
        shapes are row-identical (property-tested)."""
        self._validate_action(update, insert)
        if update and insert and not self._broadcast:
            return self._update_arm("full_outer")
        out = self._update_arm("left") if update else self._target
        return out.unionByName(self._inserts()) if insert else out

    def merged_delta(self, update: bool = True, insert: bool = True) -> DataFrame:
        """Only the rows a MERGE would WRITE: the post-update image of
        matched target rows plus the typed-NULL-padded insert rows —
        never the unchanged remainder of the target.

        This is the realistic 100 TB merge surface: a lakehouse MERGE
        commit writes changed+inserted rows (new file versions for
        touched rows), not a re-materialization of every target row.
        Output size is ≤ |source|, so the sink cost is batch-
        proportional — the full-table ``merged()`` keys exist for
        reference parity (the reference rewrites its DBMS table in
        place server-side), this is the shape a production pipeline
        ships.

        Plan: the update arm probes the target with an INNER join
        against the (broadcast, by default) source — the target only
        ever streams through a hash probe, nothing target-sized
        shuffles or is output; the insert arm is the same as
        ``merged()``'s. Row-identity property vs merged() is pytest-
        pinned: merged() minus untouched target rows == merged_delta().
        """
        self._validate_action(update, insert)
        if not insert:
            return self._update_arm("inner")
        ins = self._inserts()
        return self._update_arm("inner").unionByName(ins) if update else ins

    def updated_rowcount(self) -> int:
        """Number of target rows a merge(update=True) touches — the
        reference's ``cur.rowcount`` surface (importer.py:359): the
        rows of the inner update arm, one per matched target row once
        the source keys are validated unique."""
        self.validate_unique_keys()
        return self._update_arm("inner").count()

    def inserted_rowcount(self) -> int:
        """Number of rows a merge(insert=True) appends — completes the
        reference's ``row_count_inserted`` surface (importer.py:85,138),
        which the reference initializes to -1 and can never set because
        its ``_insert`` body is NotImplementedError (importer.py:361).
        This engine ships the insert arm, so the count is real: the
        rows the insert arm emits, under the same key validation as
        the merge itself."""
        self.validate_unique_keys()
        return self._inserts().count()


def _insert_arm(
    target: DataFrame,
    data: DataFrame,
    keys: list[str],
    schema: T.StructType,
    probe: DataFrame | None = None,
) -> DataFrame:
    """MERGE's insert arm: the rows of ``data`` whose keys match no
    ``target`` row, cast to ``schema`` and padded to it with typed
    NULLs.

    Without a ``probe`` it is the direct data-ANTI-target join, which
    shuffles every target key. With ``probe`` — the broadcast frame the
    update arm joins — the target's keys first semi-probe it (target
    scanned, nothing shuffled, result ≤ |source|), and ``data`` antis
    that small matched-key set: two broadcast joins, the 100 TB side
    never moves. The probe is NOT a shared hash relation: a semi join
    reads only the build side's keys, so Catalyst prunes the probe's
    side to the key columns and the batch broadcasts twice — the update
    arm's ``BroadcastExchange`` with every column, the semi-probe's
    with the keys — and the plan holds no ``ReusedExchange``. With the
    matched-key set that makes three ``BroadcastExchange``s per merge
    (pinned by tests/test_snapshot_table.py)."""
    other = target.selectExpr(*[_q(k) for k in keys])
    if probe is not None:
        other = F.broadcast(other.join(probe, keys, "left_semi"))
    unmatched = data.join(other, keys, "left_anti")
    src = data.schema
    return unmatched.selectExpr(
        *[
            _as(_q(f.name), f.name, src[f.name].dataType, f.dataType)
            if f.name in src.names
            else _as("NULL", f.name, None, f.dataType)
            for f in schema.fields
        ]
    )


def candidate_key_check(df: DataFrame, cols: list[str]) -> bool:
    """PK inference for sources without a catalog: ``cols`` is a
    candidate key iff no NULLs and no duplicate tuples — the engine's
    analogue of the reference's PK discovery (importer.py:18-28),
    expressed as one aggregate so it is a single scan at any scale."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(c) for c in cols]).alias("nd"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    if any(row[f"nulls_{i}"] > 0 for i in range(len(cols))):
        return False
    return row["n"] == row["nd"]
