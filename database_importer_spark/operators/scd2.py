"""SCD Type-2 merge — the versioned variant of the engine's upsert.

Where Merger (operators/merge.py) overwrites in place (the
reference's UPDATE..JOIN semantics), scd2_merge preserves history:
a changed row is *closed* (valid_to = batch_time, is_current=false)
and a new open version inserted; unchanged rows pass through
untouched; brand-new keys insert as open versions.

Join shape (round-6 hardening — the same lesson as Merger's insert
arm): a FULL OUTER join has no preserved side, so a broadcast hint
on it can never bind. Worse, Catalyst's outer-join elimination
splits the three output arms of the old single-full-outer plan into
a left-outer arm (broadcast OK) and a RIGHT-outer arm for the
new-versions rows — where build-right broadcast is unsupported, so
the hint silently dropped (HintErrorLogger) and the new-versions arm
sort-merge-shuffled the whole dimension. With ``broadcast=True`` the
plan is now three explicit broadcast joins and the dimension NEVER
shuffles: current slice LEFT OUTER broadcast(updates) (close/carry +
changed new versions), a key semi-probe of the updates (≤|updates|
rows; its broadcast is column-pruned to the keys, so it is a second
``BroadcastExchange`` of the updates, not a reused one), and updates
LEFT ANTI broadcast(matched keys) for brand-new keys. With
``broadcast=False`` the single full-outer scan is kept — the right
shape when a bucketed layout supplies the join distribution.

Change detection is null-safe (NOT (a <=> b)): NULL→value and
value→NULL transitions are real changes.

NULL handling (round-2 hardening): row provenance after the full
outer join is tracked with explicit marker columns on BOTH sides, so
current rows whose business key is NULL are carried forward (a NULL
key never equi-matches an update, and provenance no longer depends
on key nullability). A NULL ``is_current`` flag is treated as "not
current" (the row is preserved in the history slice, not dropped).
Duplicate update keys are rejected up front, mirroring
Merger.validate_unique_keys (reference importer.py:242-249).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MATCH = "__scd2_matched"
_CURR = "__scd2_curr"


class Scd2Error(ValueError):
    pass


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    keys: list[str],
    tracked: list[str],
    batch_time,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
    broadcast: bool = True,
    validate: bool = True,
) -> DataFrame:
    """Return the post-merge dimension (history rows + closed rows +
    carried-forward rows + new open versions).

    ``batch_time``: a Column/literal used as the close/open boundary.
    ``updates`` must carry exactly (keys + tracked).
    ``validate``: reject duplicate key tuples in ``updates`` (one
    cheap map-side-combined agg over the small update batch) —
    duplicates would fan out the join and silently open multiple
    current versions per key.
    """
    batch_time = F.lit(batch_time) if not hasattr(batch_time, "_jc") else batch_time
    if validate:
        dup = (
            updates.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise Scd2Error(
                "updates contain duplicate values in join on columns: %s"
                % ", ".join(keys)
            )
    # NULL is_current ⇒ not current: preserved in the history slice
    # rather than silently dropped by the null-rejecting filters.
    curr_flag = F.coalesce(F.col(is_current), F.lit(False))
    hist = dim.filter(~curr_flag)
    curr = dim.filter(curr_flag).withColumn(_CURR, F.lit(True))

    u = updates.select(
        *[F.col(k).alias(f"u_{k}") for k in keys],
        *[F.col(c).alias(f"u_{c}") for c in tracked],
        F.lit(True).alias(_MATCH),
    )
    if broadcast:
        u = F.broadcast(u)

    on = reduce(
        lambda a, b: a & b, [curr[k] == u[f"u_{k}"] for k in keys]
    )

    other_cols = [
        c
        for c in dim.columns
        if c not in keys + tracked + [valid_from, valid_to, is_current]
    ]

    def closed_or_carried(j, matched, changed):
        """Rows sourced from the current slice: closed when changed,
        carried forward otherwise; dropped when the key is update-only."""
        return j.filter(curr[_CURR].isNotNull()).select(
            *[curr[k].alias(k) for k in keys],
            *[curr[c].alias(c) for c in tracked],
            *[curr[c].alias(c) for c in other_cols],
            curr[valid_from].alias(valid_from),
            F.when(changed, batch_time).otherwise(curr[valid_to]).alias(valid_to),
            F.when(changed, F.lit(False)).otherwise(curr[is_current]).alias(is_current),
        )

    def open_versions(src):
        """Open versions from update-side columns (curr[k] fallback
        covers the full-outer path where the frame carries both)."""
        key_cols = (
            [F.coalesce(F.col(f"u_{k}"), curr[k]).alias(k) for k in keys]
            if _CURR in src.columns
            else [F.col(f"u_{k}").alias(k) for k in keys]
        )
        return src.select(
            *key_cols,
            *[F.col(f"u_{c}").alias(c) for c in tracked],
            *[F.lit(None).cast(dim.schema[c].dataType).alias(c) for c in other_cols],
            batch_time.cast(dim.schema[valid_from].dataType).alias(valid_from),
            F.lit(None).cast(dim.schema[valid_to].dataType).alias(valid_to),
            F.lit(True).alias(is_current),
        )

    cols = dim.columns
    if broadcast:
        # curr preserved ⇒ _CURR is never NULL here; matched rides the
        # update-side marker alone.
        j = curr.join(u, on, "left_outer")
        matched = F.col(_MATCH).isNotNull()
        changed = matched & reduce(
            lambda a, b: a | b,
            [~curr[c].eqNullSafe(F.col(f"u_{c}")) for c in tracked],
        )
        # Brand-new keys without shuffling the dimension: semi-probe
        # the updates the left join builds on (the semi join reads
        # only their keys, so this broadcast is a second, key-pruned
        # one — the shape of Merger's insert arm, merge._insert_arm),
        # then anti-join updates against that ≤|updates|-row key set. A
        # NULL business key in updates never semi-matches, so it
        # correctly falls through to a brand-new open version — the
        # same rows the old full-outer new_key arm produced.
        matched_keys = curr.select(*[curr[k].alias(k) for k in keys]).join(
            u, on=reduce(
                lambda a, b: a & b,
                [F.col(k) == u[f"u_{k}"] for k in keys],
            ),
            how="left_semi",
        )
        brand_new = u.join(
            F.broadcast(matched_keys),
            on=reduce(
                lambda a, b: a & b,
                [u[f"u_{k}"] == matched_keys[k] for k in keys],
            ),
            how="left_anti",
        )
        return (
            hist.select(*cols)
            .unionByName(closed_or_carried(j, matched, changed).select(*cols))
            .unionByName(open_versions(j.filter(changed)).select(*cols))
            .unionByName(open_versions(brand_new).select(*cols))
        )

    # broadcast=False: ONE full-outer scan — the distribution-supplied
    # (bucketed-layout) shape; provenance via markers, NOT key
    # nullability: a curr row with a NULL business key is still a curr
    # row (it just never matches).
    j = curr.join(u, on, "full_outer")
    matched = F.col(_MATCH).isNotNull() & curr[_CURR].isNotNull()
    changed = matched & reduce(
        lambda a, b: a | b,
        [~curr[c].eqNullSafe(F.col(f"u_{c}")) for c in tracked],
    )
    new_key = F.col(_MATCH).isNotNull() & curr[_CURR].isNull()
    return (
        hist.select(*cols)
        .unionByName(closed_or_carried(j, matched, changed).select(*cols))
        .unionByName(open_versions(j.filter(changed | new_key)).select(*cols))
    )
