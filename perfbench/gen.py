"""Seeded generator for the batch workload's input table.

Writes `events.parquet`, the one table the `batch_write` queries read,
at a given scale factor.  Column names, types and value domains follow
the `events` table the query suite and its DuckDB oracles were written
against; the same (seed, sf) always gives the same table contents.

    python3 perfbench/gen.py <out_dir> --seed 7 --sf 0.01
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def tables(seed, sf):
    """Return {name: pyarrow.Table} for one (seed, sf)."""
    rng = np.random.default_rng(seed)
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    us = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    ev_base = np.datetime64("2024-01-01T00:00:00", "us")
    return {"events": pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_base + us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})}


def write(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    write(a.out_dir, a.seed, a.sf)
