"""Seeded synthetic input for the benchmark: a TPC-H-style `lineitem`.

Writes `lineitem.parquet` with the same columns and types as the
repository's test data; `report/lineitem.parquet`, a tenth of its rows;
and `lineitem_ranges/`: all rows cut into 300 parquet files by contiguous
`l_orderkey` range, sorted inside each file, plus `bounds.json` with each
file's key range. Every value is drawn from numpy's PCG64 generator seeded
with `--seed`, so one seed always gives the same inputs.

Usage: python3 datagen.py --out DIR --seed N
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_DAY_US = 86_400 * 1_000_000
# day number (since 1970-01-01) of 1995-01-02, the first ship day
SHIP_DAY0 = 9132
SHIP_DAYS = 2499
# sf0.1: 600k rows
SF = 0.1
# more key-range files (one snapshot each in the lookup table) than the
# manifest layer's 256-entry caches hold
RANGE_FILES = 300


def lineitem(rng):
    n = int(6_000_000 * SF)
    n_orders = int(1_500_000 * SF)
    flags = np.array(["A", "N", "R"], dtype=object)
    status = np.array(["F", "O"], dtype=object)
    table = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, int(200_000 * SF), n),
        "l_suppkey": rng.integers(0, int(10_000 * SF), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n)], pa.string()),
        "l_linestatus": pa.array(status[rng.integers(0, 2, n)], pa.string()),
        "l_shipdate": pa.array((SHIP_DAY0 + rng.integers(0, SHIP_DAYS, n)) * EPOCH_DAY_US,
                               pa.timestamp("us")),
    })
    return table, n_orders


def write_ranges(rdir, li, n_orders):
    """One file per contiguous orderkey range, sorted inside the file: the
    lookup table commits them one per snapshot, so min/max pruning keeps
    exactly one file for a point lookup."""
    os.makedirs(rdir, exist_ok=True)
    li = li.sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")])
    keys = li.column("l_orderkey").to_numpy()
    key_bounds = np.linspace(0, n_orders, RANGE_FILES + 1).astype(np.int64)
    bounds = np.searchsorted(keys, key_bounds)
    for i in range(RANGE_FILES):
        pq.write_table(li.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(rdir, f"range-{i:05d}.parquet"))
    # file i holds exactly the keys in [key_bounds[i], key_bounds[i + 1])
    with open(os.path.join(rdir, "bounds.json"), "w") as f:
        json.dump({"key_bounds": key_bounds.tolist()}, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    li, n_orders = lineitem(np.random.Generator(np.random.PCG64(a.seed)))
    pq.write_table(li, os.path.join(a.out, "lineitem.parquet"))
    # a tenth of the rows, for the lookup workload's report query
    os.makedirs(os.path.join(a.out, "report"), exist_ok=True)
    pq.write_table(li.slice(0, li.num_rows // 10),
                   os.path.join(a.out, "report", "lineitem.parquet"))
    write_ranges(os.path.join(a.out, "lineitem_ranges"), li, n_orders)


if __name__ == "__main__":
    main()
