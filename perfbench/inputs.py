"""Seeded benchmark inputs, written once as plain parquet outside every
timer and cached by workload, seed and size.

Pages use the fixture text template (``data.synth.pages_frame``) with the
geocode token ``geo:{lat:.6f},{lon:.6f}``.  Coordinates are whole
micro-degrees, so the text and the float coordinates the correctness
oracles use denote the same points exactly.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: rows per pages part file: the corpus is a directory of part files, as a
#: crawl or a Spark job would leave it, and the engine decides its own
#: splits from them
ROWS_PER_FILE = 32_768

#: the test tier the census runs at, and the size of that tier's
#: documents table
CENSUS_TIER = "0.01"
CENSUS_DOCS = 500


@dataclass
class Pages:
    dir: str  # holds pages.parquet/ and region_rings.parquet
    lat: np.ndarray
    lon: np.ndarray
    specs: list  # spec the fixture store was generated from (data.synth)
    want: tuple | None = None  # flagship.expected() over these pages

    @property
    def n(self) -> int:
        return len(self.lat)

    @property
    def pages_path(self) -> str:
        return os.path.join(self.dir, "pages.parquet")

    @property
    def rings_path(self) -> str:
        return os.path.join(self.dir, "region_rings.parquet")


def _micro(x: np.ndarray) -> np.ndarray:
    return np.rint(np.asarray(x, dtype=np.float64) * 1e6).astype(np.int64)


def _fmt6(m: np.ndarray) -> pa.Array:
    """Micro-degree ints → the exact strings f"{m / 1e6:.6f}" gives."""
    a = np.abs(m)
    return pc.binary_join_element_wise(
        pa.array(np.where(m < 0, "-", "")),
        pa.array(a // 1_000_000).cast(pa.string()),
        ".",
        pc.utf8_lpad(pa.array(a % 1_000_000).cast(pa.string()), 6, "0"),
        "",
    )


def clustered_points(n: int, seed: int):
    """``synth.gen_points``: 80% of pages in three hotspots, 20% uniform."""
    from libosmtools_spark.data import synth

    return synth.gen_points(n, np.random.default_rng(seed))


def boundary_points(n: int, seed: int, specs: list, sigma: float = 0.02):
    """Pages jittered by N(0, sigma) degrees around uniformly chosen vertices
    of the store's rings, so most of them fall in partial cells."""
    from libosmtools_spark.geom import kernels as K

    rng = np.random.default_rng(seed)
    verts = np.vstack([ring[:-1] for s in specs for _role, ring in s["rings"]])
    pick = rng.integers(0, len(verts), n)
    lat = verts[pick, 0] + rng.normal(0.0, sigma, n)
    lon = verts[pick, 1] + rng.normal(0.0, sigma, n)
    return K.snap(np.clip(lat, -89.999999, 89.999999)), K.snap(K.norm_lon(lon))


def urls(j: np.ndarray) -> list[str]:
    """The urls of pages ``j``, as ``_write_pages`` writes them."""
    return [f"https://site{i % 997}.example/p/{i}" for i in j.tolist()]


def _write_pages(path: str, lat_m: np.ndarray, lon_m: np.ndarray) -> None:
    os.makedirs(path)
    n = len(lat_m)
    j = pa.array(np.arange(n, dtype=np.int64)).cast(pa.string())
    j997 = pa.array(np.arange(n, dtype=np.int64) % 997).cast(pa.string())
    j17 = pa.array(np.arange(n, dtype=np.int64) % 17).cast(pa.string())
    url = pc.binary_join_element_wise("https://site", j997, ".example/p/", j, "")
    text = pc.binary_join_element_wise(
        "page ", j, " of crawl corpus. location geo:", _fmt6(lat_m), ",", _fmt6(lon_m),
        " end. filler tokens alpha beta gamma delta ", j17, ".", "",
    )
    table = pa.table({"url": url, "text": text})
    for i, s in enumerate(range(0, n, ROWS_PER_FILE)):
        pq.write_table(table.slice(s, ROWS_PER_FILE), os.path.join(path, f"part-{i:05d}.parquet"))


def flagship_pages(fixtures: str, work: str, workload: str, seed: int, n: int) -> Pages:
    """Generate (or reuse) one flagship workload's pages, next to a copy of
    its fixture store: ``region_rings.parquet`` (11 regions) for
    flagship_clustered, ``scaling_region_rings.parquet`` (45 regions of 800
    vertices) for flagship_boundary."""
    from libosmtools_spark.data import synth

    if workload == "flagship_clustered":
        specs, store = synth.region_spec(), "region_rings.parquet"
        lat, lon = clustered_points(n, seed)
    else:
        specs, store = synth.scaling_region_spec(), "scaling_region_rings.parquet"
        lat, lon = boundary_points(n, seed, specs)
    lat_m, lon_m = _micro(lat), _micro(lon)
    out = os.path.join(work, "inputs", f"{workload}-seed{seed}-n{n}")
    if not os.path.exists(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write_pages(os.path.join(tmp, "pages.parquet"), lat_m, lon_m)
        shutil.copyfile(os.path.join(fixtures, store), os.path.join(tmp, "region_rings.parquet"))
        os.rename(tmp, out)
    return Pages(out, lat_m / 1e6, lon_m / 1e6, specs)


def census_docs(work: str) -> str:
    """The census `documents` table: doc_id 0..CENSUS_DOCS-1.  The spatial
    queries derive each point from doc_id alone, so this is the point set of
    the CENSUS_TIER test tier.  The directory is named after the tier
    because the queries pick the matching repo fixture tier from that
    name."""
    out = os.path.join(work, "inputs", f"census-n{CENSUS_DOCS}", f"sf{CENSUS_TIER}")
    path = os.path.join(out, "documents.parquet")
    if not os.path.exists(path):
        os.makedirs(out, exist_ok=True)
        tmp = path + f".tmp{os.getpid()}"
        pq.write_table(pa.table({"doc_id": np.arange(CENSUS_DOCS, dtype=np.int64)}), tmp)
        os.rename(tmp, path)
    return out
