"""Seeded op plan for the `lake_dml` workload.

One client runs the plan in order against a lake table that starts as the
generated `orders` (columns o_orderkey, o_custkey, o_orderstatus,
o_totalprice). The plan is a sequence of cycles; each cycle holds the same
op mix in a seeded order, so a short run sees the same proportions as a
long one:

  merge      SQL MERGE of a fresh batch: updates of existing keys (skewed
             towards recent keys) plus inserts of new keys
  insert     SQL INSERT of a batch of new keys
  update     SQL UPDATE of a 200-key range (recent keys favoured)
  delete     SQL DELETE of a 200-key range (recent keys favoured)
  point x20  point read of one key
  range x20  range read of an 800-key range

Every cycle ends with `CALL ... optimize`. Reads outnumber commits more
than seven to one, so the median op is a read and sits inside the read
distribution rather than at its edge; a run measures about one cycle, and
forty reads make its median steady.
Set-up runs one op of each kind (WARMUP) on the same table first. Each batch carries its
plain-parquet size (pyarrow, default options), the denominator of the
write-amplification metric.
"""

import io
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CYCLE = ["merge", "insert", "update", "delete"] + ["point"] * 20 + ["range"] * 20
WARMUP = ["merge", "insert", "update", "delete", "point", "range"]
STATUSES = ["F", "O", "P", "M", "N"]


class Plan:
    def __init__(self, seed, max_key, batch_rows):
        self.rng = np.random.default_rng(seed)
        self.max_key = max_key  # keys 0..max_key exist at the start
        self.next_key = max_key + 1
        self.batch_rows = batch_rows

    def recent_key(self):
        """Skewed towards the newest keys: the gap below the top key is
        the top key times u^3 for uniform u."""
        u = self.rng.random()
        return int((self.next_key - 1) * (1.0 - u ** 3))

    def key_range(self, width):
        lo = self.recent_key()
        return lo, lo + width

    def rows(self, keys):
        n = len(keys)
        cust = self.rng.integers(0, 15000, n)
        status = np.array(STATUSES)[self.rng.integers(0, len(STATUSES), n)]
        price = np.round(self.rng.uniform(1000.0, 500000.0, n), 2)
        return [[int(k), int(c), str(s), float(p)] for k, c, s, p in zip(keys, cust, status, price)]

    def fresh_keys(self, n):
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    def op(self, kind):
        n = self.batch_rows
        if kind == "merge":
            old = sorted({self.recent_key() for _ in range(n // 2)})
            rows = self.rows(old + self.fresh_keys(n - len(old)))
            return {"kind": kind, "rows": rows, "batch_bytes": parquet_bytes(rows)}
        if kind == "insert":
            rows = self.rows(self.fresh_keys(n))
            return {"kind": kind, "rows": rows, "batch_bytes": parquet_bytes(rows)}
        if kind in ("update", "delete"):
            lo, hi = self.key_range(n // 2)
            op = {"kind": kind, "lo": lo, "hi": hi}
            if kind == "update":
                op["price"] = float(np.round(self.rng.uniform(1000.0, 500000.0), 2))
            return op
        if kind == "point":
            return {"kind": kind, "key": self.recent_key()}
        if kind == "range":
            lo, hi = self.key_range(2 * n)
            return {"kind": kind, "lo": lo, "hi": hi}
        raise ValueError(kind)

    def cycle(self, kinds):
        order = list(kinds)
        self.rng.shuffle(order)
        return [self.op(k) for k in order] + [{"kind": "optimize"}]


def parquet_bytes(rows):
    t = pa.table({
        "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
        "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
        "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
        "o_totalprice": pa.array([r[3] for r in rows], pa.float64())})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    return buf.tell()


def generate(path, seed, max_key, batch_rows=400, cycles=30):
    """Writes the plan as JSON: the warm-up cycle (run during set-up on the
    same table), then the measured cycles."""
    plan = Plan(seed, max_key, batch_rows)
    warm = [plan.cycle(WARMUP)]
    measured = [plan.cycle(CYCLE) for _ in range(cycles)]
    with open(path, "w") as f:
        json.dump({"seed": seed, "max_key": max_key, "warmup": warm, "cycles": measured}, f)
