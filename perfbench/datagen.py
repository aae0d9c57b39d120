"""Seeded generator of the orders table the repository's TPC-H-style
queries read: the same column names, physical types and value domains, so
the package's writers and readers see the shapes they were written for.
The same ``(seed, sf)`` always gives the same rows."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def orders(seed: int, sf: float) -> pa.Table:
    """The orders table: ``1_500_000 * sf`` rows, keys 0..n-1."""
    rng = np.random.default_rng(seed)
    n, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    d0 = (dt.datetime(1995, 1, 1) - dt.datetime(1970, 1, 1)).days
    days = d0 + rng.integers(0, 2405, n)
    return pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": pa.array(days.astype("int64") * 86_400_000_000,
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})
