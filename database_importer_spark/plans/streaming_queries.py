"""Declared streaming queries (SURVEY.md §2 B.9): bounded
deterministic replay of each Structured Streaming op, oracle = the
batch SQL twin on the same events table (stream run to completion on
bounded input ≡ batch result).
"""

from __future__ import annotations

import tempfile

from database_importer_spark.plans.registry import declare
from database_importer_spark.session import static_plan_session
from database_importer_spark.streaming import windows as W


@declare(
    "stream_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark, sf_dir):
    """1-hour tumbling windows per event type through the REAL
    micro-batch + watermark + state-store machinery (bounded
    availableNow replay, complete mode) — the oracle is the batch
    twin, which the bounded replay must reproduce exactly.

    Static-plan session: the micro-batch's physical shape is fixed
    (scan → partial agg → state-store agg); AQE staging inside each
    micro-batch is pure scheduling tax (−170 ms at sf0.1,
    BASELINE.md round 5). State semantics are unchanged — the real
    watermark + state-store machinery still runs every batch."""
    spark = static_plan_session(spark)
    ev = W.read_events_stream(spark, sf_dir)
    return W.run_bounded(W.tumbling_counts(ev), "complete")


@declare(
    "stream_tumbling_multibatch",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_multibatch(spark, sf_dir):
    """The tumbling aggregation replayed across >=4 MICRO-BATCHES
    (VERDICT r10 item 6): the corpus streams as four time-ordered
    slices, one per trigger, so the watermark advances at every batch
    boundary and window state CARRIES ACROSS batches through the real
    state store (each batch re-opens, updates, and commits the stores
    the previous batch wrote) instead of the single-batch replay's
    one-shot pass. Same exact oracle as the single-batch twin — a
    stream run to completion must not care how its input was batched
    — plus a structural pin that >=4 data micro-batches actually ran
    (run_bounded raises otherwise, on every invocation including the
    sweeps). At 100 TB this IS the shape of a production backfill:
    hours of files replayed trigger by trigger against durable state,
    not one giant batch."""
    spark = static_plan_session(spark)
    ev = W.read_events_stream_sliced(spark, sf_dir, slices=4)
    return W.run_bounded(
        W.tumbling_counts(ev), "complete", expect_min_batches=4
    )


@declare(
    "stream_sliding_window",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts)
               - k.k * INTERVAL '15 minutes' AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    GROUP BY 1
    """,
)
def stream_sliding_window(spark, sf_dir):
    """1h/15min sliding windows; batch twin generates each event's 4
    slide starts explicitly (epoch-aligned buckets, like Spark's)."""
    spark = static_plan_session(spark)
    ev = W.read_events_stream(spark, sf_dir)
    return W.run_bounded(W.sliding_counts(ev), "complete")


@declare(
    "stream_session_window",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         <= INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_session
        FROM events
    ), s AS (
        -- (ts, event_id) total order in BOTH windows: with duplicate
        -- timestamps (the replicated scale corpora), two independent
        -- ORDER BY ts sorts may break ties differently, letting the
        -- cumulative SUM see the gap-flagged row mid-tie-group and
        -- split one session into two (observed: +2 rows at sf1).
        -- Spark's session_window is interval-merging — order-free —
        -- so only the oracle needs the tiebreak.
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark, sf_dir):
    """Gap-based session windows per user; batch twin is classic
    lag+cumsum sessionization (session end = last event + gap,
    matching Spark's session_window.end). Boundary verified
    empirically: Spark MERGES two events exactly `gap` apart
    (adjacent [t,t+gap) windows coalesce), so the oracle's `<=` gap
    test is the correct twin — `<` would disagree on exact-gap
    pairs."""
    spark = static_plan_session(spark)
    ev = W.read_events_stream(spark, sf_dir)
    return W.run_bounded(W.session_windows(ev), "complete")


@declare(
    "stream_stateful_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_stateful_dedup(spark, sf_dir):
    """dropDuplicatesWithinWatermark projected to its key — on
    bounded replay ≡ batch DISTINCT over the key."""
    spark = static_plan_session(spark)
    ev = W.read_events_stream(spark, sf_dir)
    return W.run_bounded(W.stateful_dedup(ev), "append")


@declare("stream_late_data", oracle=None)
def stream_late_data(spark, sf_dir):
    """Watermark drop semantics under a 2-batch replay (bulk, then
    stragglers): late rows beyond the watermark are excluded.
    Timing/batch-boundary-dependent → rows-only."""
    from database_importer_spark.scratch import scratch_dir

    return W.late_data_replay(spark, sf_dir, scratch_dir("late_data"))


@declare(
    "stream_custom_stateful",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_custom_stateful(spark, sf_dir):
    """applyInPandasWithState custom stateful operator: per-user
    running totals. On single-batch bounded replay the final state ≡
    batch GROUP BY (n_batches projected away; its =1 invariant is
    asserted in tests). State accumulates in 4-dp fixed point —
    exact, order-independent, identical to the DECIMAL(25,4) twin."""
    from database_importer_spark.streaming.stateful import running_user_totals

    ev = W.read_events_stream(spark, sf_dir)
    out = W.run_bounded(running_user_totals(ev), "update")
    return out.select("user_id", "n_events", "sum_value")


@declare(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream inner join (purchases ≤1h after a
    click, per user) — on bounded replay ≡ the batch time-range
    join."""
    out = W.stream_stream_click_purchase(spark, sf_dir)
    return W.run_bounded(out, "append")


@declare(
    "stream_upsert_merge",
    oracle=None,  # set below: reuses the batch _UPSERT_ORACLE
)
def stream_upsert_merge(spark, sf_dir):
    """The reference's data plane run CONTINUOUSLY: the update∪insert
    source replayed as 4 checkpointed micro-batches, each staged-
    merged into a versioned target via foreachBatch (Merger +
    atomic write-then-swap publication — readers never see a
    half-merged table). Keys are unique across the stream, so the
    per-batch merges compose to exactly the one-shot merge: the end
    state hash-matches the batch upsert_merge_full oracle."""
    from database_importer_spark.plans.part_a import (
        _insert_source_df,
        _updates_df,
        t,
    )
    from database_importer_spark.streaming.upsert import streaming_upsert

    target = t(spark, sf_dir, "orders")
    src = _updates_df(spark, sf_dir).unionByName(_insert_source_df(spark, sf_dir))
    return streaming_upsert(spark, target, src, keys=["o_orderkey"], batches=4)


@declare("stream_snapshot_ingest", oracle=None)  # wired below
def stream_snapshot_ingest(spark, sf_dir):
    """Streaming ingest into the SNAPSHOT table — the scale completion
    streaming_upsert's docstring promises ("at 100 TB the rewrite
    becomes a table-format MERGE commit"): the month-scoped
    update∪insert batch replayed as 4 checkpointed micro-batches, each
    landing as an ATOMIC manifest commit (streaming/upsert.
    streaming_snapshot_ingest) — per-batch work manifest-pruned to the
    batch's touched months, one snapshot version per micro-batch,
    readers never disturbed mid-commit. Keys are unique across the
    stream so the per-batch merges compose to the one-shot merge
    (hash-matches the same oracle as upsert_merge_snapshot), and
    absolute SET values make a replayed micro-batch — streaming's
    at-least-once failure mode — CONVERGE instead of corrupting."""
    from database_importer_spark.operators.snapshot_table import read_snapshot
    from database_importer_spark.plans.part_a import (
        _SNAP_OUT_COLS,
        _pm_batch_df,
        _pm_month_of,
        _snap_table,
    )
    from database_importer_spark.streaming.upsert import (
        streaming_snapshot_ingest,
    )

    loc = _snap_table(spark, sf_dir, "upsert", upto=0)
    streaming_snapshot_ingest(
        spark, loc, _pm_batch_df(spark, sf_dir), ["o_orderkey"],
        _pm_month_of, batches=4, cursor="ingest",
    )
    return read_snapshot(spark, loc).select(*_SNAP_OUT_COLS)


def _wire_upsert_oracle():
    from database_importer_spark.plans.part_a import (
        _PART_MERGE_ORACLE,
        _UPSERT_ORACLE,
    )
    from database_importer_spark.plans.registry import REGISTRY

    REGISTRY["stream_upsert_merge"].oracle = _UPSERT_ORACLE
    REGISTRY["stream_snapshot_ingest"].oracle = _PART_MERGE_ORACLE


_wire_upsert_oracle()
