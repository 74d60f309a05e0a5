"""Seeded TPC-H-like `orders` for the `lake_dml` workload's fixture.

Row count follows the scale factor `sf` (sf 0.1: 150k orders). Every value
comes from one numpy generator seeded with `seed`, and pyarrow writes the
table as one parquet file, so the same seed gives the same bytes.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def orders(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    return pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)})


def write(out_dir, seed, sf):
    """Writes `orders.parquet` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(orders(seed, sf), os.path.join(out_dir, "orders.parquet"))
