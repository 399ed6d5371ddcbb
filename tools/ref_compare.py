#!/usr/bin/env python3
"""Honest single-node throughput comparison against the reference's
execution model (driver-side measurement script, not library code).

The reference (dataclass_array) delegates every batch op to numpy in a
single process. This times the SAME structural ops — boolean-mask
filter + dense re-index, reshape, strided slice, gather — in pure numpy
on the sf0.1 lineitem batch (600k rows), to put our BENCH numbers in
context. Run the Spark side with:
  sbt "runMain graft.Bench dca_s7_mask dca_s2_reshape dca_s6_slice dca_s8_gather"
"""
import time
import numpy as np
import pyarrow.parquet as pq

t = pq.read_table('/root/testdata/sf0.1/lineitem.parquet',
                  columns=['l_orderkey', 'l_linenumber', 'l_quantity'])
order = np.lexsort((t['l_linenumber'].to_numpy(), t['l_orderkey'].to_numpy()))
cols = {c: t[c].to_numpy()[order] for c in t.column_names}
qty_c = np.round(cols['l_quantity'] * 100).astype(np.int64)
n = len(qty_c)
print(f"rows: {n}")

def bench(name, fn, reps=5):
    fn()  # warm
    t0 = time.perf_counter()
    for _ in range(reps):
        fn()
    print(f"[numpy] {name:20s} {(time.perf_counter()-t0)/reps*1000:8.2f} ms")

bench("mask+reindex", lambda: {c: v[qty_c >= 4800] for c, v in cols.items()})
bench("reshape", lambda: qty_c[:60000].reshape(15000, 4))
bench("strided_slice", lambda: {c: v[10:50000:7] for c, v in cols.items()})
idx = np.array([4999, 0, 4999, 17, 3000])
bench("gather", lambda: {c: v[idx] for c, v in cols.items()})
