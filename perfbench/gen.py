"""Seeded generator for the two fixture tables the workloads read,
`orders` and `lineitem`, at scale factor 0.1 (150,000 and 600,000 rows).

Same column names, types and value domains as the engine's fixture data;
the values come from `numpy.random.default_rng(seed)`, so one seed always
yields byte-identical inputs. Each table is one parquet file with one row
group, like the fixtures the engine's tests use.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
ROWS = {
    "customer": int(150_000 * SF), "supplier": int(10_000 * SF),
    "part": int(200_000 * SF), "orders": int(1_500_000 * SF),
    "lineitem": int(6_000_000 * SF),
}
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def money(rng, lo, hi, n):
    """Uniform amounts with two decimals, exact in cents."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def days(rng, first, last, n):
    """Uniform midnight timestamps between two ISO dates, inclusive."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000).astype("datetime64[ms]")


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n)]


def tables(seed):
    rng = np.random.default_rng(seed)
    t = {}
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n),
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-01", n), pa.timestamp("ms")),
        "o_orderpriority": pick(rng, PRIORITIES, n)})
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-04", n), pa.timestamp("ms"))})
    return t


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
