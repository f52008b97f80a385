"""Broadcast-vs-shuffle crossover probe for the spatial region store
(VERDICT r7 item 4): the flagship's plan of record (joins/mapjoin.py)
assumes the polygon store + cell index BROADCAST; spatial_join_adaptive /
SpatialEngine.flagship is the big-store shuffle fallback.  This probe
measures, store size by store size, what the dispatch point costs:

- engine build wall (driver-local covering build ≤ LOCAL_INDEX_MAX_REGIONS,
  the distributed applyInPandas build past it);
- broadcast payload size of the kernel candidate tables (the dense
  full-mask rows grow as occupied-cells × ceil(regions/63) words, the
  clipped-edge CSR as boundary cells × edges near them — the structural
  reason broadcast must stop somewhere);
- flagship query wall on the broadcast-kernel path (flagship_map) vs the
  shuffle-join path (flagship), same 200k-point corpus aimed at the
  store's hotspots.

Usage: python tools/spatial_crossover_probe.py [n_regions ...]
       (default sizes 64 256 1024 4096 8192)
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_POINTS = 200_000
SEED = 7


def make_rings_parquet(n_regions: int, out_dir: str) -> str:
    """Deterministic n-region star store (64-vertex rings — the probe
    scales the STORE-SIZE axis; vertex complexity is the scaling bench's
    axis) written as a region_rings parquet Spark can read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from libosmtools_spark.data.synth import regions_frames, scaling_region_spec

    path = os.path.join(out_dir, f"probe_rings_{n_regions}.parquet")
    if not os.path.exists(path):
        _, rings = regions_frames(scaling_region_spec(n_regions, n_vertices=64))
        pq.write_table(pa.Table.from_pandas(rings, preserve_index=False), path)
    return path


def make_pages(spark, n: int):
    """(url, text) corpus whose geo: points cluster on the probe stores'
    hotspots (same centers scaling_region_spec uses) with a wide-noise
    tail, repartitioned across cores like bench.load_pages."""
    rng = np.random.default_rng(SEED)
    hot = np.array([(48.2, 11.4), (17.5, 17.5), (-20.0, 50.0)])
    which = rng.integers(0, len(hot), size=n)
    la = hot[which, 0] + rng.normal(0, 1.2, size=n)
    lo = hot[which, 1] + rng.normal(0, 1.2, size=n)
    wide = rng.random(n) < 0.1  # 10% scattered world-wide (miss the store)
    la[wide] = rng.uniform(-85, 85, size=int(wide.sum()))
    lo[wide] = rng.uniform(-179, 179, size=int(wide.sum()))
    pdf = pd.DataFrame(
        {
            "url": [f"probe://p/{i}" for i in range(n)],
            "text": [f"page body geo:{a:.6f},{b:.6f} tail" for a, b in zip(la, lo)],
        }
    )
    cores = spark.sparkContext.defaultParallelism
    return spark.createDataFrame(pdf).repartition(cores)


def bcast_payload_bytes(cand: dict) -> int:
    """Bytes of the numpy arrays in the kernel candidate tables
    (joins/mapjoin.build_cell_candidates) — the broadcast payload, pickle
    framing aside."""
    arrays = [a for tab in cand["levels"].values() for a in tab] + list(cand["edges"])
    arrays += [v for v in cand.values() if isinstance(v, np.ndarray)]
    return sum(a.nbytes for a in arrays)


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [64, 256, 1024, 4096, 8192]

    from libosmtools_spark.pipeline import SpatialEngine
    from libosmtools_spark.session import get_spark

    spark = get_spark(app="spatial-crossover-probe")
    pages = make_pages(spark, N_POINTS)
    pages.count()  # materialize the synthetic corpus outside the timers

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    print(f"{'regions':>8} {'build_s':>8} {'bcast_s':>8} {'bcast_MB':>9} "
          f"{'map_s':>7} {'shuffle_s':>9}", flush=True)
    for n in sizes:
        path = make_rings_parquet(n, "/tmp")
        rings = spark.read.parquet(path)
        t0 = time.monotonic()
        eng = SpatialEngine(spark, rings)
        eng.cell_index.count()
        t_build = time.monotonic() - t0
        t0 = time.monotonic()
        eng.candidates_bcast
        t_bcast = time.monotonic() - t0
        mb = bcast_payload_bytes(eng.candidates_bcast.value) / 1e6

        t_map = min(
            (lambda: (lambda s: (noop(eng.flagship_map(pages)), time.monotonic() - s)[1])(
                time.monotonic()
            ))()
            for _ in range(2)
        )
        t_shuffle = min(
            (lambda: (lambda s: (noop(eng.flagship(pages)), time.monotonic() - s)[1])(
                time.monotonic()
            ))()
            for _ in range(2)
        )
        print(f"{n:>8} {t_build:>8.2f} {t_bcast:>8.2f} {mb:>9.1f} "
              f"{t_map:>7.2f} {t_shuffle:>9.2f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
