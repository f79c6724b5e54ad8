#!/usr/bin/env python3
"""Derives the tables `query_mix` reads from the sf0.1 fixture the
repository's queries are verified against.

    python3 tagbench/derive_tables.py <sf0.1 fixture dir> tagbench/tables

The customer-side tables are cut to a fixed key-range fifth: `customer`
and `orders` keep the customers whose key lies in the lowest fifth of the
key range, with all their orders, `lineitem` keeps every line item of a
kept order, and `events` keeps the users whose id lies in the lowest
fifth, with all their events (so sessions are whole). Every other table
is copied byte for byte, so `documents` (and with it the near-duplicate
pairs the dedup queries find) and `embeddings` are the fixture's. The
output is a pure function of the input; `tagbench/tables` holds its
result, so no run reads outside the checkout.
"""
import os
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
# table -> the key whose lowest `fraction` of its range is kept
CUT_KEYS = {"customer": "c_custkey", "orders": "o_custkey", "events": "user_id"}
BENCH_FRACTION = 0.2
# query_mix warms up on a fiftieth of tagbench/tables, with `documents` and
# `embeddings` cut by their ids too
WARM_FRACTION = 0.02
WARM_KEYS = dict(CUT_KEYS, documents="doc_id", embeddings="vec_id")


def derive(src, out, fraction, keys=CUT_KEYS):
    """Writes every table of `src` to `out`: the tables in `keys` keep the
    rows whose key is below `fraction` of (max key + 1), `lineitem` the
    rows of the kept orders, all in source order; the rest are copied
    unchanged."""
    os.makedirs(out, exist_ok=True)
    kept_orders = None
    for t in TABLES:
        path = os.path.join(src, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t == "lineitem":
            table = pq.read_table(path)
            keep = pc.is_in(table.column("l_orderkey"), value_set=kept_orders)
        elif t in keys:
            table = pq.read_table(path)
            key = table.column(keys[t])
            keep = pc.less(key, int((pc.max(key).as_py() + 1) * fraction))
        else:
            shutil.copyfile(path, dst)
            continue
        table = table.filter(keep)
        if t == "orders":
            kept_orders = table.column("o_orderkey")
        pq.write_table(table, dst, compression="snappy")


def profile(d):
    """Row counts and the per-key shapes the queries depend on."""
    def read(t, cols):
        return pq.read_table(os.path.join(d, f"{t}.parquet"), columns=cols)
    out = {t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows for t in TABLES}
    li, o, ev = read("lineitem", ["l_orderkey"]), read("orders", ["o_custkey"]), read("events", ["user_id"])
    out["lines_per_order"] = li.num_rows / len(pc.unique(li.column(0)))
    out["orders_per_customer"] = o.num_rows / len(pc.unique(o.column(0)))
    out["events_per_user"] = ev.num_rows / len(pc.unique(ev.column(0)))
    return out


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    derive(sys.argv[1], sys.argv[2], BENCH_FRACTION)
    a, b = profile(sys.argv[1]), profile(sys.argv[2])
    for k in a:
        print(f"{k:20s} {a[k]:>12.6g} {b[k]:>12.6g}")
