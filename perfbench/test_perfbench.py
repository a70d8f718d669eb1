"""The benchmark's own tests: the tail-percentile rule, seeded batches,
and negative controls proving the correctness checks can fail.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.stats import tail  # noqa: E402


@pytest.mark.parametrize("n", [21, 50, 100, 1000])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n):
    values = list(np.random.default_rng(n).permutation(np.arange(1, n + 1) * 0.5))
    value, pct = tail(values)
    assert sum(v > value for v in values) == 10
    # the next sample up would leave only nine beyond it
    assert sum(v > value + 0.5 for v in values) == 9
    assert pct == pytest.approx(100.0 * (n - 10) / n)


@pytest.mark.parametrize("n", [1, 5, 10, 20])
def test_tail_falls_back_to_median_below_twenty_samples(n):
    values = [float(i) for i in range(n)]
    assert tail(values) == (float(np.median(values)), 50.0)


def test_corpus_is_the_sf0_1_corpus():
    assert sorted(datagen.corpus_fingerprints()) == sorted(datagen.TABLES)


def _orders(n=150_000):
    rng = np.random.default_rng(0)
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, 100, n),
            "o_orderstatus": "O",
            "o_totalprice": 1.0,
            "o_orderdate": (
                np.datetime64("1995-01-01", "D") + rng.integers(0, 2400, n)
            ).astype("datetime64[us]"),
            "o_orderpriority": "5-LOW",
        }
    )


def _batches(seed, k=3):
    g = datagen.BatchGenerator(seed, _orders())
    return [(g.batch(n, months), months) for n, months, _ in g.round()[:k]]


def test_batches_repeat_for_the_same_seed():
    for (a, ta), (b, tb) in zip(_batches(7), _batches(7)):
        assert ta == tb
        pd.testing.assert_frame_equal(a, b)


def test_batches_differ_for_another_seed():
    a = pd.concat([b for b, _ in _batches(7)])
    b = pd.concat([b for b, _ in _batches(8)])
    assert not a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_batches_keep_the_month_of_updated_rows():
    orders = _orders()
    g = datagen.BatchGenerator(3, orders)
    steps = g.round()
    assert sorted((n, len(m)) for n, m, _ in steps) == sorted((n, k) for n, _, k in g.ROUND)
    n, touched, _ = max(steps)
    batch = g.batch(n, touched)
    assert len(batch) == n
    assert batch["o_orderkey"].is_unique
    assert set(datagen.month_of(batch["o_orderdate"])) <= set(touched)
    old = batch.merge(orders, on="o_orderkey", suffixes=("", "_old"))
    assert (old["o_orderdate"] == old["o_orderdate_old"]).all()
    inserts = (~batch["o_orderkey"].isin(orders["o_orderkey"])).mean()
    assert 0.05 < inserts < 0.15


def _run(workload, inject):
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "perfbench", "run.py"),
            "--workload",
            workload,
            "--seed",
            "5",
            "--seconds",
            "1",
            "--trace",
            "0",
            "--inject",
            inject,
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,inject",
    [("snapshot_upsert", "wrong_state"), ("llm", "wrong_oracle")],
)
def test_negative_control_makes_error_rate_nonzero(workload, inject):
    r = _run(workload, inject)
    assert r["failed"] > 0
    assert r["correct"] is False
    assert r["attempted"] >= r["failed"]
