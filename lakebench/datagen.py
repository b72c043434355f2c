"""Seeded input generation: every table and every statement parameter
comes from ``numpy.random.default_rng`` seeded by the run's seed, so
the same seed gives the same inputs.

Tables are written once as pyarrow parquet source files; Spark stages
the lakehouse tables from them and DuckDB loads the same files as the
correctness model.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# lineitem-like fact table and orders dimension (TPC-H shaped, names
# shortened). Every column type here has a fixed raw width except the
# strings, which count their length (see lake.Lake.raw_bytes).
LI_COLS = ["id", "okey", "qty", "price", "disc", "tax", "rflag", "lstatus", "ship"]

EPOCH = np.datetime64("1992-01-01", "D")
DAYS = 2400  # ship/order dates span 1992-01-01 .. 1998-07-28
PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
# ids of rows that do not come from the bulk load start here
NEW_ID_BASE = 100_000_000


def lineitem(rng: np.random.Generator, ids: np.ndarray, n_orders: int) -> pa.Table:
    n = len(ids)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "id": ids.astype(np.int64),
            "okey": rng.integers(0, max(n_orders, 1), n).astype(np.int64),
            "qty": qty,
            "price": np.round(qty * rng.uniform(9.0, 105.0, n), 2),
            "disc": rng.integers(0, 11, n) / 100.0,
            "tax": rng.integers(0, 9, n) / 100.0,
            "rflag": rng.choice(np.array(["A", "N", "R"]), n),
            "lstatus": rng.choice(np.array(["F", "O"]), n),
            "ship": (EPOCH + rng.integers(0, DAYS, n)).astype("datetime64[D]"),
        }
    )


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "okey": np.arange(n, dtype=np.int64),
            "ckey": rng.integers(0, max(n // 10, 1), n).astype(np.int64),
            "odate": (EPOCH + rng.integers(0, DAYS, n)).astype("datetime64[D]"),
            "prio": rng.choice(PRIOS, n),
            "total": np.round(rng.uniform(900.0, 400_000.0, n), 2),
        }
    )


class Zipf:
    """Zipf-skewed keys over ``ids``: rank r is drawn with probability
    proportional to r**-a, and ranks map to ids through a seeded
    permutation so hot keys are spread over the table's files."""

    def __init__(self, rng: np.random.Generator, ids: np.ndarray, a: float = 1.2):
        self.rng = rng
        self.ids = ids[rng.permutation(len(ids))]
        self.a = a

    def __call__(self) -> int:
        r = int(self.rng.zipf(self.a)) - 1
        return int(self.ids[r % len(self.ids)])


def date_str(days: int) -> str:
    return str(EPOCH + np.timedelta64(int(days), "D"))
