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

from database_importer_spark.cache import fingerprint, memo

_MATCH_FLAG = "__dbis_matched"


class MergerError(Exception):
    """Data-dependent merge failure (duplicate columns / duplicate keys)."""


def _fmt_cols(cols) -> str:
    return ", ".join(f"'{c}'" for c in cols)


def _plural(n: int) -> str:
    return "s" if n > 1 else ""


def _qcol(name: str, side: str | None = None):
    """Backtick-quoted column reference — dotted/spaced names must not
    parse as nested field access."""
    q = "`" + name.replace("`", "``") + "`"
    return F.col(f"{side}.{q}" if side else q)


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
        merge sources are small relative to a 100 TB target).
    source_join_hint : str, optional
        A join-strategy hint (e.g. ``"merge"``) applied to the source
        side AT the merge-join sites only. Callers must not hint the
        ``data`` frame themselves: the Merger also runs non-join
        queries over it (key-uniqueness validation), where a dangling
        join hint is dropped with a HintErrorLogger warning — and a
        dropped hint means the plan it was meant to pin isn't pinned.
    """

    def __init__(
        self,
        target: DataFrame,
        data: DataFrame,
        join_on: list[str] | None = None,
        subset: list[str] | None = None,
        keys: list[str] | None = None,
        broadcast: bool = True,
        source_join_hint: str | None = None,
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
        self._source_join_hint = source_join_hint

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
        — same rows by construction, so the verdict transfers."""
        cols = [
            _qcol(c).alias(c) for c in (*self._join_on, *self._subset)
        ]
        self._data = self._data_master.select(*cols).na.drop(
            subset=self._join_on
        )
        if self._anchor_master is not None:
            a = self._anchor_master.select(*cols)
            self._validate_anchor = a.na.drop(subset=self._join_on)
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
        (importer.py:242-249). One cheap agg job over the (small)
        source; map-side partial aggregation keeps it a single pass.

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
        dup = (
            frame.groupBy(*self._join_on)
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

    def _hinted_source(self, df: DataFrame) -> DataFrame:
        """Apply the configured join-strategy hint to a source frame
        that is about to become a join input (hints survive the
        projections the arms add above it)."""
        return df.hint(self._source_join_hint) if self._source_join_hint else df

    def _updates_frame(self) -> DataFrame:
        u = self._hinted_source(self._data).withColumn(_MATCH_FLAG, F.lit(True))
        return F.broadcast(u) if self._broadcast else u

    def merged(
        self,
        update: bool = True,
        insert: bool = False,
        strategy: str = "two_arm",
    ) -> DataFrame:
        """Return the post-merge target as one lazy DataFrame plan.

        ``update``: matched rows take source values (NULLs included).
        ``insert``: unmatched source rows are appended, null-padding
        target columns absent from the source (completes the
        reference's importer.py:361-362).

        ``strategy`` (update+insert only):
          * ``"two_arm"`` (default) — update arm (left join) ∪ insert
            arm (semi+anti). With ``broadcast=True`` the target side
            is SCANNED twice but never shuffled: the right default
            when the target is 100 TB and the batch broadcasts.
          * ``"full_outer"`` — ONE full-outer join, one target scan,
            no union. A full outer join cannot broadcast (no
            preserved side), so the target must either shuffle or —
            the case this strategy exists for — already satisfy the
            join's distribution via a BUCKETED layout, where the
            target side plans exchange-free and sort-free and only
            the batch moves. Row-identical to two_arm (same
            match-flag NULL-overwrite semantics; property-tested).
        """
        if not (update or insert):
            raise ValueError("at least one action must be performed")
        if strategy not in ("two_arm", "full_outer"):
            raise ValueError(f"unknown merge strategy: {strategy!r}")
        if strategy == "full_outer":
            if not (update and insert):
                raise ValueError(
                    "full_outer strategy implements the full MERGE "
                    "(update=True, insert=True)"
                )
            self.validate_unique_keys()
            return self._merged_full_outer()
        self.validate_unique_keys()

        keys = self._join_on
        out = self._target
        u = self._updates_frame()

        if update:
            a, b = self._target.alias("a"), u.alias("b")
            joined = a.join(b, on=keys, how="left")

            cols = []
            for c in self._target.columns:
                if c in keys:
                    cols.append(_qcol(c))
                elif c in self._subset:
                    # UPDATE SET a.c = b.c — source value wins on
                    # match even when NULL; match flag (never NULL on
                    # a matched row) drives the branch.
                    cols.append(
                        F.when(F.col(_MATCH_FLAG), _qcol(c, "b"))
                        .otherwise(_qcol(c, "a"))
                        .alias(c)
                    )
                else:
                    cols.append(_qcol(c, "a").alias(c))
            out = joined.select(*cols)

        if insert:
            if self._broadcast:
                # Direct data-ANTI-target would shuffle every target
                # key. Instead: semi-join target keys against the
                # broadcast source (target scanned, nothing shuffled;
                # result ≤ |source|), then anti-join the source
                # against that small matched-key set — two broadcast
                # joins, the 100 TB side never moves.
                #
                # The semi probes the SAME broadcast frame the update
                # arm joins (not a keys-only projection): identical
                # subplans canonicalize equal, so AQE's exchange reuse
                # builds ONE hash relation for both arms instead of
                # two — measured 2.7 s → 2.4 s on the sf10 full merge.
                # A semi join only reads the build side's keys, so the
                # extra payload columns cost broadcast bytes already
                # being shipped for the update arm anyway.
                matched_keys = self._target.select(
                    *[_qcol(k).alias(k) for k in keys]
                ).join(
                    self._updates_frame() if update else F.broadcast(
                        self._data.select(*[_qcol(k).alias(k) for k in keys])
                    ),
                    keys,
                    "left_semi",
                )
                unmatched = self._data.join(
                    F.broadcast(matched_keys), on=keys, how="left_anti"
                )
            else:
                unmatched = self._hinted_source(self._data).join(
                    self._target.select(*[_qcol(k).alias(k) for k in keys]),
                    on=keys,
                    how="left_anti",
                )
            # pad to the full target schema with typed NULLs
            pad = unmatched.select(
                *[
                    _qcol(c).cast(self._target.schema[c].dataType).alias(c)
                    if c in unmatched.columns
                    else F.lit(None).cast(self._target.schema[c].dataType).alias(c)
                    for c in self._target.columns
                ]
            )
            out = out.unionByName(pad)

        return out

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
        shuffles or is output; the insert arm is the same anti-join as
        ``merged()``. Row-identity property vs merged() is pytest-
        pinned: merged() minus untouched target rows == merged_delta().
        """
        if not (update or insert):
            raise MergerError("at least one action must be performed")
        self.validate_unique_keys()

        keys = self._join_on
        arms = []
        if update:
            a, b = self._target.alias("a"), self._updates_frame().alias("b")
            joined = a.join(b, on=keys, how="inner")
            cols = []
            for c in self._target.columns:
                if c in keys:
                    cols.append(_qcol(c))
                elif c in self._subset:
                    cols.append(_qcol(c, "b").alias(c))
                else:
                    cols.append(_qcol(c, "a").alias(c))
            arms.append(joined.select(*cols))
        if insert:
            if self._broadcast:
                # same two-broadcast shape as merged()'s insert arm:
                # semi-probe target keys against the broadcast source
                # (≤|source| rows out, target only streams), then
                # anti against that small set — a direct anti would
                # shuffle every target key, the exact cost this
                # delta-output surface exists to avoid. The semi
                # probes the SAME broadcast frame the update arm
                # joins so AQE builds one shared hash relation.
                matched_keys = self._target.select(
                    *[_qcol(k).alias(k) for k in keys]
                ).join(
                    self._updates_frame() if update else F.broadcast(
                        self._data.select(*[_qcol(k).alias(k) for k in keys])
                    ),
                    keys,
                    "left_semi",
                )
                unmatched = self._data.join(
                    F.broadcast(matched_keys), on=keys, how="left_anti"
                )
            else:
                unmatched = self._hinted_source(self._data).join(
                    self._target.select(*[_qcol(k).alias(k) for k in keys]),
                    on=keys,
                    how="left_anti",
                )
            arms.append(
                unmatched.select(
                    *[
                        _qcol(c).cast(self._target.schema[c].dataType).alias(c)
                        if c in unmatched.columns
                        else F.lit(None)
                        .cast(self._target.schema[c].dataType)
                        .alias(c)
                        for c in self._target.columns
                    ]
                )
            )
        out = arms[0]
        for extra in arms[1:]:
            out = out.unionByName(extra)
        return out

    def _merged_full_outer(self) -> DataFrame:
        """Single-pass MERGE: target FULL OUTER JOIN source on the
        keys, then per-row arbitration — matched rows take source
        values (the match flag, never NULL on a source-present row,
        drives the branch so a NULL source value still overwrites),
        target-only rows pass through, source-only rows become the
        inserts with typed-NULL padding falling out of the join
        itself. Target rows with NULL join keys survive as
        target-only rows (the null-rejecting join condition can
        never match them), preserving the reference's never-match
        semantics."""
        keys = self._join_on
        b = (
            self._hinted_source(self._data)
            .withColumn(_MATCH_FLAG, F.lit(True))
            .alias("b")
        )
        a = self._target.alias("a")
        cond = None
        for k in keys:
            c = _qcol(k, "a") == _qcol(k, "b")
            cond = c if cond is None else (cond & c)
        joined = a.join(b, cond, "full_outer")
        cols = []
        for c in self._target.columns:
            if c in keys:
                cols.append(F.coalesce(_qcol(c, "a"), _qcol(c, "b")).alias(c))
            elif c in self._subset:
                cols.append(
                    F.when(F.col(_MATCH_FLAG).isNotNull(), _qcol(c, "b"))
                    .otherwise(_qcol(c, "a"))
                    .cast(self._target.schema[c].dataType)
                    .alias(c)
                )
            else:
                cols.append(_qcol(c, "a").alias(c))
        return joined.select(*cols)

    def updated_rowcount(self) -> int:
        """Number of target rows a merge(update=True) touches — the
        reference's ``cur.rowcount`` surface (importer.py:359). Equals
        the semi-join count because source keys are unique."""
        return self._target.join(
            self._updates_frame().select(
                *[_qcol(k).alias(k) for k in self._join_on]
            ),
            self._join_on,
            "left_semi",
        ).count()

    def inserted_rowcount(self) -> int:
        """Number of rows a merge(insert=True) appends — completes the
        reference's ``row_count_inserted`` surface (importer.py:85,138),
        which the reference initializes to -1 and can never set because
        its ``_insert`` body is NotImplementedError (importer.py:361).
        This engine ships the insert arm, so the count is real: source
        rows whose keys match no target row — exactly the rows the
        insert arm emits (source keys are unique by the validated
        merge contract). Same broadcast discipline as the arm itself
        (merged()'s insert arm): the target never shuffles — its keys
        semi-probe the broadcast source, then the source antis the
        small matched-key set."""
        keys = self._join_on
        key_cols = [_qcol(k).alias(k) for k in keys]
        if self._broadcast:
            matched_keys = self._target.select(*key_cols).join(
                F.broadcast(self._data.select(*key_cols)), keys, "left_semi"
            )
            unmatched = self._data.join(
                F.broadcast(matched_keys), on=keys, how="left_anti"
            )
        else:
            unmatched = self._hinted_source(self._data).join(
                self._target.select(*key_cols), on=keys, how="left_anti"
            )
        return unmatched.count()


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
