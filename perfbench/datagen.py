"""The benchmark's inputs: the corpus the workloads read and the seeded
upsert batches the snapshot_upsert workload applies.

The corpus is a byte-for-byte copy of the tables of the sf0.1 test
corpus (TESTDATA.md) that the workloads read, kept under
``perfbench/data/sf0.1`` so a run needs nothing outside its checkout.
``corpus_fingerprints`` refuses a corpus whose files differ from it.
The ``--seed`` of a run drives only the traffic: batches, lookups and
key order.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

# sha256 of each sf0.1 file, as shipped with the test corpus
FINGERPRINTS = {
    "orders": "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
    "lineitem": "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
    "part": "082525b9eb5098fe7b841e66b5a3e156808d32230202bc11cbafd85eb2443ea1",
    "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
}
TABLES = list(FINGERPRINTS)

ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def corpus_fingerprints(corpus: str = CORPUS) -> dict[str, str]:
    """{table: sha256} of the corpus files; raises if any differs from
    the sf0.1 file it copies."""
    out = {}
    for name, want in FINGERPRINTS.items():
        with open(os.path.join(corpus, f"{name}.parquet"), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
        if out[name] != want:
            raise RuntimeError(f"{corpus}/{name}.parquet is not the sf0.1 file")
    return out


def month_of(ts: pd.Series) -> pd.Series:
    return (ts.dt.year * 100 + ts.dt.month).astype("int64")


class BatchGenerator:
    """Seeded upsert traffic against a live expected ``orders`` state.

    A batch is a pandas frame with the ``orders`` columns: ``n`` rows
    touching given order-months; ~10% of the rows are inserts with fresh
    keys above the current maximum, the rest update existing rows of
    those months. Updated rows keep their order date, and so their
    month; their status, price, customer and priority are drawn from
    the value domains of the ``orders`` table given.

    Traffic comes in rounds, so every run sees the same mix: a round is
    one batch of every shape in ``ROUND``, in that order. A shape is
    (rows, recency rank of its latest month, months): 500-5,000 rows
    over 1-3 consecutive order-months, biased toward recent months (rank
    0 is the latest month). Shapes and order are fixed because which
    files a commit rewrites, and so the table's growth between vacuums,
    depends on the months each commit touches and on the commits before
    it; with a seeded order the growth of one round moved by up to 30%
    from seed to seed. The seed decides which rows each batch updates, the
    values it writes and the order of the lookup widths: each batch
    carries the width of one key-range lookup, spread evenly over
    100-2,000 keys. Everything depends only on the seed and on what was
    generated before."""

    ROUND = (
        (1500, 0, 2),
        (3000, 24, 2),
        (500, 1, 1),
        (4000, 5, 3),
        (2000, 9, 2),
        (1000, 3, 1),
        (5000, 40, 3),
        (1500, 6, 1),
        (2500, 14, 2),
        (3000, 2, 3),
    )
    WIDTHS = np.linspace(100, 2000, len(ROUND)).astype(int)

    def __init__(self, seed: int, orders: pd.DataFrame):
        self.rng = np.random.default_rng(seed)
        months = month_of(orders["o_orderdate"])
        self.months = np.sort(months.unique())
        self.keys_by_month = {
            m: np.sort(orders.loc[months == m, "o_orderkey"].to_numpy())
            for m in self.months
        }
        keys = orders["o_orderkey"].to_numpy()
        if keys.min() < 0:
            raise ValueError("order keys must be non-negative")
        self.next_key = int(keys.max()) + 1
        # order date by key: updates keep it
        self.dates = np.full(self.next_key, np.datetime64("NaT"), "datetime64[us]")
        self.dates[keys] = orders["o_orderdate"].to_numpy()
        self.n_cust = int(orders["o_custkey"].max()) + 1
        self.statuses = np.sort(orders["o_orderstatus"].unique())
        self.priorities = np.sort(orders["o_orderpriority"].unique())
        self.price_cents = (
            int(orders["o_totalprice"].min() * 100),
            int(orders["o_totalprice"].max() * 100) + 1,
        )

    def round(self) -> list[tuple[int, list[int], int]]:
        """(rows, months, lookup width) of the next round's batches."""
        rng = self.rng
        recent_first = self.months[::-1]
        widths = rng.permutation(self.WIDTHS)
        steps = []
        for (n, rank, k), width in zip(self.ROUND, widths):
            touched = sorted(int(m) for m in recent_first[rank : rank + k])
            steps.append((n, touched, int(width)))
        return steps

    def batch(self, n: int, touched: list[int]) -> pd.DataFrame:
        rng = self.rng
        n_ins = int(round(n * 0.1))
        pool = np.concatenate([self.keys_by_month[m] for m in touched])
        n_upd = min(n - n_ins, len(pool))
        upd_keys = rng.choice(pool, n_upd, replace=False)
        ins_keys = np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64)
        self.next_key += n_ins
        ins_month = rng.choice(touched, n_ins)
        for m in touched:
            new = ins_keys[ins_month == m]
            if len(new):
                self.keys_by_month[m] = np.concatenate([self.keys_by_month[m], new])
        month_start = {
            m: np.datetime64(f"{m // 100:04d}-{m % 100:02d}-01", "D") for m in touched
        }
        ins_dates = np.array(
            [month_start[m] + rng.integers(0, 28) for m in ins_month],
            dtype="datetime64[D]",
        ).astype("datetime64[us]")
        self.dates = np.concatenate([self.dates, ins_dates])
        rows = n_upd + n_ins
        frame = pd.DataFrame(
            {
                "o_orderkey": np.concatenate([upd_keys, ins_keys]).astype(np.int64),
                "o_custkey": rng.integers(0, self.n_cust, rows).astype(np.int64),
                "o_orderstatus": self.statuses[rng.integers(0, len(self.statuses), rows)],
                "o_totalprice": rng.integers(*self.price_cents, rows) / 100.0,
                "o_orderdate": np.concatenate([self.dates[upd_keys], ins_dates]),
                "o_orderpriority": self.priorities[
                    rng.integers(0, len(self.priorities), rows)
                ],
            }
        )
        return frame
