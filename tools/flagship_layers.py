"""Kernel layers of the flagship fact pass, measured single-core in this
process (no Spark task involved), plus the cost of the broadcast
candidate tables.

    python tools/flagship_layers.py <pages parquet dir> <region_rings parquet> [--reps N]

Prints one JSON object:

- ``kernel_s``: totals over all batches of the four layers the fused
  ``mapInArrow`` runs per Arrow batch — ``geocode`` (RE2 extract + cast),
  ``cell_keys``, ``resolve`` (``resolve_masks``) and ``decode``
  (``_masks_to_region_lists``) — the minimum over ``--reps`` passes;
- ``candidates``: ``build_cell_candidates`` seconds (minimum over reps),
  pickled bytes and unpickle seconds (minimum over reps) — what each
  Python worker deserializes once per task.

Batches hold ``min(maxRecordsPerBatch, ceil(pages / cores))`` rows: the
session's Arrow batch cap, or one batch per task when the pass runs one
task per core (what ``coalesce_by_bytes`` picks for a corpus smaller than
``cores`` splits).  The engine (index build, rings) comes from the same
``SpatialEngine`` the flagship uses, on a ``get_spark`` session.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _min_time(fn, reps: int):
    best, out = math.inf, None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return best, out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("pages", help="pages parquet (file or directory) with a text column")
    ap.add_argument("store", help="region_rings parquet")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    import pyarrow.parquet as pq

    from libosmtools_spark.joins import mapjoin as MJ
    from libosmtools_spark.pipeline import SpatialEngine
    from libosmtools_spark.session import get_spark

    spark = get_spark(app="flagship-layers")
    try:
        cap = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        cores = spark.sparkContext.defaultParallelism
        eng = SpatialEngine(spark, spark.read.parquet(args.store))
        index_pdf = eng.cell_index.toPandas()
        rings = eng.rings_bcast.value
        level = eng.level
    finally:
        spark.stop()

    build_s, cand = _min_time(lambda: MJ.build_cell_candidates(index_pdf, rings), args.reps)
    blob = pickle.dumps(cand, protocol=pickle.HIGHEST_PROTOCOL)
    unpickle_s, _ = _min_time(lambda: pickle.loads(blob), args.reps)

    text = pq.read_table(args.pages, columns=["text"]).column("text")
    n = len(text)
    rows = max(1, min(cap, -(-n // cores)))
    batches = [text.slice(s, rows) for s in range(0, n, rows)]

    layers = ("geocode", "cell_keys", "resolve", "decode")
    best = dict.fromkeys(layers, math.inf)
    for _ in range(args.reps):
        tot = dict.fromkeys(layers, 0.0)
        for b in batches:
            t0 = time.perf_counter()
            la, lo = MJ._geocode_batch(b)
            t1 = time.perf_counter()
            keys = MJ._keys_of(la, lo, level)
            t2 = time.perf_counter()
            masks = MJ.resolve_masks(la, lo, keys, cand)
            t3 = time.perf_counter()
            MJ._masks_to_region_lists(masks)
            t4 = time.perf_counter()
            for k, dt in zip(layers, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
                tot[k] += dt
        best = {k: min(best[k], tot[k]) for k in layers}

    print(json.dumps({
        "pages": n,
        "batch_rows": rows,
        "batches": len(batches),
        "index_rows": len(index_pdf),
        "partial_rows": int((~index_pdf["full"]).sum()),
        "kernel_s": {k: round(v, 4) for k, v in best.items()},
        "candidates": {
            "build_s": round(build_s, 4),
            "bytes": len(blob),
            "unpickle_s": round(unpickle_s, 5),
        },
    }))


if __name__ == "__main__":
    main()
