"""Property-based merge invariants (SURVEY.md §5.2 item 5) —
hypothesis-generated key/null/duplicate patterns into the Merger:

  * update never changes cardinality;
  * update+insert cardinality = |target| + |unmatched source keys|;
  * the broadcast two-arm and the single-pass full-outer MERGE agree,
    and so do the row counts of both broadcast modes;
  * NULL-key source rows never touch the target;
  * a key is never multiplied;
  * non-subset columns are bit-for-bit unchanged.
"""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from database_importer_spark.operators.merge import Merger, MergerError

KEYS = st.integers(min_value=0, max_value=20)
VALS = st.one_of(st.none(), st.integers(min_value=-100, max_value=100))

target_rows = st.lists(
    st.tuples(KEYS, VALS, VALS), min_size=1, max_size=15, unique_by=lambda r: r[0]
)
source_rows = st.lists(
    st.tuples(st.one_of(st.none(), KEYS), VALS),
    min_size=1,
    max_size=15,
)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(tgt=target_rows, src=source_rows)
@SETTINGS
def test_merge_invariants(spark, tgt, src):
    target = spark.createDataFrame(tgt, "k int, a int, b int")
    source = spark.createDataFrame(src, "k int, a int")

    # dedupe source keys (duplicates are a *validated error*, asserted
    # separately below) — keep first occurrence
    seen, src_unique = set(), []
    for k, a in src:
        if k not in seen:
            seen.add(k)
            src_unique.append((k, a))
    source_u = spark.createDataFrame(src_unique, "k int, a int")

    m = Merger(target, source_u, join_on=["k"], subset=["a"])

    updated = m.merged(update=True)
    assert updated.count() == len(tgt)

    tgt_keys = {r[0] for r in tgt}
    src_keys = {k for k, _ in src_unique if k is not None}
    unmatched = src_keys - tgt_keys

    both = m.merged(update=True, insert=True)
    assert both.count() == len(tgt) + len(unmatched)

    # the single-pass full-outer MERGE (broadcast=False) is
    # row-identical to the broadcast two-arm shape on every generated
    # key/null/duplicate pattern
    m_fo = Merger(target, source_u, join_on=["k"], subset=["a"], broadcast=False)
    fo = m_fo.merged(update=True, insert=True)
    assert fo.exceptAll(both).count() == 0
    assert both.exceptAll(fo).count() == 0

    # the count methods share the arms: same counts in both modes
    for mm in (m, m_fo):
        assert mm.inserted_rowcount() == len(unmatched)
        assert mm.updated_rowcount() == len(src_keys & tgt_keys)

    # no key ever multiplied
    assert (
        both.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    )

    # the delta-output merge is exactly the touched slice of the full
    # merge: every source-keyed row of merged(), nothing else
    delta = m.merged_delta(update=True, insert=True)
    touched = both.join(source_u.select("k").na.drop(), "k", "left_semi")
    assert delta.exceptAll(touched).count() == 0
    assert touched.exceptAll(delta).count() == 0

    # NULL-key and unmatched-key target rows unchanged; matched rows
    # take source 'a' (even when NULL); 'b' never changes
    expect_a = {k: a for k, a in src_unique if k is not None}
    tgt_map = {r[0]: r for r in tgt}
    for row in updated.collect():
        orig = tgt_map[row["k"]]
        assert row["b"] == orig[2]
        if row["k"] in expect_a:
            assert row["a"] == expect_a[row["k"]]
        else:
            assert row["a"] == orig[1]

    # duplicate source keys are rejected, never silently merged
    dup_keys = [k for k, _ in src if k is not None]
    if len(dup_keys) != len(set(dup_keys)):
        m_dup = Merger(target, source, join_on=["k"], subset=["a"])
        with pytest.raises(MergerError, match="duplicate values"):
            m_dup.merged(update=True)


# --- distributed rank invariants -----------------------------------

rank_rows = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),
        st.integers(min_value=0, max_value=10_000),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: r[1],
)


@given(rows=rank_rows, desc=st.booleans())
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_distributed_rank_equals_single_window(spark, rows, desc):
    """The two-phase bucketized rank must agree EXACTLY with the
    textbook single-partition window row_number on arbitrary data —
    including duplicate keys (tiebreak column makes the order total)
    and tiny inputs where some buckets are empty."""
    from pyspark.sql.window import Window

    from database_importer_spark.operators.ranking import with_global_row_number

    df = spark.createDataFrame(rows, "v int, tb int").repartition(7)
    order = [("v", desc), ("tb", False)]
    got = {
        (r["v"], r["tb"]): r["rank"]
        for r in with_global_row_number(df, order, num_buckets=5).collect()
    }
    cols = [F.col("v").desc() if desc else F.col("v").asc(), F.col("tb").asc()]
    w = Window.orderBy(*cols)
    want = {
        (r["v"], r["tb"]): r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


# --- asof_join vs pandas merge_asof --------------------------------

asof_left = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100)),
    min_size=1, max_size=25,
)
asof_right = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(-50, 50)),
    min_size=1, max_size=25,
    unique_by=lambda r: (r[0], r[1]),  # unique (key, ts): no tie ambiguity
)


@given(lrows=asof_left, rrows=asof_right)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_pandas_merge_asof(spark, lrows, rrows):
    """Backward-inclusive as-of must agree with pandas merge_asof
    (direction='backward', by=key) on arbitrary key/ts patterns."""
    import pandas as pd

    from database_importer_spark.operators.asof import asof_join

    left = spark.createDataFrame(lrows, "k int, lts int").repartition(5)
    right = spark.createDataFrame(rrows, "k int, rts int, rv int").repartition(5)
    out = asof_join(left, right, ["k"], "lts", "rts", ["rv"]).collect()

    lp = pd.DataFrame(lrows, columns=["k", "lts"]).sort_values("lts", kind="stable")
    rp = pd.DataFrame(rrows, columns=["k", "rts", "rv"]).sort_values("rts", kind="stable")
    want = pd.merge_asof(
        lp, rp, left_on="lts", right_on="rts", by="k", direction="backward"
    )
    want_counts = {}
    for r in want.itertuples():
        kk = (r.k, r.lts, None if pd.isna(r.rv) else int(r.rv))
        want_counts[kk] = want_counts.get(kk, 0) + 1
    got_counts = {}
    for r in out:
        kk = (r["k"], r["lts"], r["rv"])
        got_counts[kk] = got_counts.get(kk, 0) + 1
    assert got_counts == want_counts


# --- SCD2 invariants ----------------------------------------------

scd2_updates = st.lists(
    st.tuples(st.integers(0, 6), st.integers(-20, 20)),
    min_size=1, max_size=8,
    unique_by=lambda r: r[0],
)


@given(upd=scd2_updates)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_invariants(spark, upd):
    """For any update batch: (1) at most one open version per key,
    (2) history rows are immutable, (3) every updated-and-changed key
    gets exactly one new open version stamped at batch time."""
    from database_importer_spark.operators.scd2 import scd2_merge

    dim = spark.createDataFrame(
        [(k, k % 3, f"2000-01-0{k + 1}", None, True) for k in range(5)]
        + [(0, 99, "1999-01-01", "2000-01-01", False)],  # history row
        "k int, attr int, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame(upd, "k int, attr int")
    out = scd2_merge(
        dim, updates, ["k"], ["attr"], "2001-06-01",
    ).collect()

    open_per_key = {}
    for r in out:
        if r["is_current"]:
            open_per_key[r["k"]] = open_per_key.get(r["k"], 0) + 1
    assert all(v == 1 for v in open_per_key.values()), open_per_key

    hist = [r for r in out if r["valid_from"] == "1999-01-01"]
    assert len(hist) == 1 and hist[0]["attr"] == 99  # untouched

    changed_keys = {
        k for k, a in upd if k < 5 and a != k % 3
    }
    new_open = {
        r["k"] for r in out if r["is_current"] and r["valid_from"] == "2001-06-01"
    }
    assert new_open == changed_keys | {k for k, _ in upd if k >= 5}


str_rank_rows = st.lists(
    st.tuples(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
            min_size=0, max_size=12,
        ),
        st.integers(min_value=0, max_value=10_000),
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda r: r[1],
)


@given(rows=str_rank_rows, desc=st.booleans())
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_distributed_rank_string_keys(spark, rows, desc):
    """String first keys rank through the order-preserving 8-byte
    prefix surrogate — must equal the single-window rank for
    arbitrary unicode, shared prefixes, and empty strings."""
    from pyspark.sql.window import Window

    from database_importer_spark.operators.ranking import with_global_row_number

    df = spark.createDataFrame(rows, "s string, tb int").repartition(5)
    got = {
        (r["s"], r["tb"]): r["rank"]
        for r in with_global_row_number(
            df, [("s", desc), ("tb", False)], num_buckets=4
        ).collect()
    }
    cols = [F.col("s").desc() if desc else F.col("s").asc(), F.col("tb").asc()]
    want = {
        (r["s"], r["tb"]): r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*cols))
        ).collect()
    }
    assert got == want
