"""Property tests (hypothesis, no SparkSession) for the flagship resolve
kernel, ``joins.mapjoin.resolve_masks`` over ``build_cell_candidates``.

Two oracles, region by region:

- brute force: ``kernels.point_in_rings`` against every ring of the
  region, for points with lon in [-180, 180);
- the clipped ray cast: the point's coverage cell decides (full → in,
  partial → ``kernels.point_in_edges`` against the region's edges clipped
  to the cell, in the region's frame), written as plain loops.  This is
  the kernel's contract for every input, including query lons outside
  [-180, 180), whose cell key is normalized but whose ray cast is not.

Stores hold star and rectangle regions, with and without holes, some
wrapped across the antimeridian (continuous form and jump form), and up
to 130 regions (three mask words).  Points are 1e-6-snapped and include
ring vertices, points exactly on rectangle edges, points on cell bounds,
NaN coordinates and empty batches.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from libosmtools_spark.geom import kernels as K
from libosmtools_spark.joins.mapjoin import _keys_of, build_cell_candidates, resolve_masks

pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")

BASE_LEVEL, MAX_LEVEL = 6, 9


def _store(regions):
    """regions: {rid: (outers, inners)} as stored → (cell index frame,
    continuous-frame rings) — the driver-local build of the engine."""
    parts, rings = [], {}
    for rid, (outers, inners) in regions.items():
        keys, full = K.adaptive_covering_cells(outers, inners, BASE_LEVEL, MAX_LEVEL)
        parts.append(pd.DataFrame({"cell_key": keys, "region_id": np.int32(rid), "full": full}))
        rings[rid] = K.unwrap_rings(outers, inners)
    return pd.concat(parts, ignore_index=True), rings


def _bits(masks, n_regions):
    r = np.arange(n_regions)
    return ((masks[:, r // 63] >> (r % 63)) & 1).astype(bool)


def _clipped_cast(la, lo, pdf, rings, n_regions):
    """(n, n_regions) membership by the clipped ray cast, cell by cell."""
    out = np.zeros((len(la), n_regions), dtype=bool)
    valid = ~np.isnan(la) & ~np.isnan(lo)
    for rid, (outers, inners) in rings.items():
        edges = np.vstack([K.ring_edges(r) for r in list(outers) + list(inners)])
        xs = np.concatenate([edges[:, 1], edges[:, 3]])
        frame = (float(xs.min()), float(xs.max()))
        ylo = np.minimum(edges[:, 0], edges[:, 2])
        yhi = np.maximum(edges[:, 0], edges[:, 2])
        xhi = np.maximum(edges[:, 1], edges[:, 3])
        cells = pdf[pdf["region_id"] == rid]
        full_of = dict(zip(cells["cell_key"].tolist(), cells["full"].tolist()))
        levels = sorted({int(k) >> K._LEVEL_SHIFT for k in full_of})
        for i in np.flatnonzero(valid):
            for lv in levels:
                key = int(K.cell_key(la[i : i + 1], lo[i : i + 1], lv)[0])
                if key not in full_of:
                    continue
                if full_of[key]:
                    out[i, rid] = True
                    continue
                min_lat, max_lat, min_lon, max_lon = (float(v[0]) for v in K.cell_bounds([key]))
                c = (min_lon + max_lon) / 2.0
                west = min_lon + (float(K.wrap_lons_to_frame(c, *frame)) - c)
                keep = (yhi > min_lat) & (ylo <= max_lat) & (xhi >= west)
                out[i, rid] = K.point_in_edges(la[i : i + 1], lo[i : i + 1], edges[keep], frame)[0]
    return out


def _star(rng, clat, clon, r_lo, r_hi):
    """Star polygon around the centre: angle gaps < 2π/3, so every edge
    stays at least r_lo/2 from the centre (room for a nested hole)."""
    k = int(rng.integers(6, 13))
    ang = (np.arange(k) + rng.uniform(0.1, 0.9, k)) * (2 * np.pi / k)
    rad = rng.uniform(r_lo, r_hi, k)
    ring = np.stack([clat + rad * np.sin(ang), clon + rad * np.cos(ang)], axis=1)
    return K.snap(np.vstack([ring, ring[:1]]))


def _jump(ring):
    return np.stack([ring[:, 0], K.norm_lon(ring[:, 1])], axis=1)


def _rect(rng, clat, clon, r_lo, r_hi):
    h, w = rng.uniform(r_lo, r_hi, 2)
    return K.snap(K.rect_ring(clat - h, clon - w, clat + h, clon + w))


@st.composite
def stores(draw):
    n_regions = draw(st.sampled_from([1, 4, 12, 70, 130]))
    wrapped = draw(st.booleans())
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    base_lon = 180.0 if wrapped else 20.0
    regions = {}
    for rid in range(n_regions):
        clat = K.snap(rng.uniform(-4.0, 4.0))
        clon = K.snap(base_lon + rng.uniform(-4.0, 4.0))
        shape = _star if rng.random() < 0.6 else _rect
        outer = shape(rng, clat, clon, 0.4, 2.5)
        inners = []
        if rng.random() < 0.3:
            inners = [(_star if rng.random() < 0.6 else _rect)(rng, clat, clon, 0.03, 0.1)]
        if wrapped and rng.random() < 0.5:  # jump form: lons normalized
            outer, *inners = (_jump(r) for r in [outer, *inners])
        regions[rid] = ([outer], inners)
    return regions, rng


def _points(regions, rng, n=300):
    """In-range snapped probe points: uniform, ring vertices, points on
    rectangle edges, and points on cell bounds of several levels."""
    rings = [r for o, i in regions.values() for r in list(o) + list(i)]
    verts = np.vstack([r[:-1] for r in rings])
    lo_lat, hi_lat = verts[:, 0].min() - 0.5, verts[:, 0].max() + 0.5
    cont = K.unwrap_rings(rings, [])[0]
    cl = np.concatenate([r[:, 1] for r in cont])
    lat = rng.uniform(lo_lat, hi_lat, n)
    lon = rng.uniform(cl.min() - 0.5, cl.max() + 0.5, n)
    # on edges: edge midpoints (exactly on axis-aligned edges)
    e = np.vstack([K.ring_edges(r) for r in rings])
    pick = rng.integers(0, len(e), n // 3)
    mid_lat = (e[pick, 0] + e[pick, 2]) / 2.0
    mid_lon = (e[pick, 1] + e[pick, 3]) / 2.0
    vpick = rng.integers(0, len(verts), n // 3)
    lat = np.concatenate([lat, mid_lat, verts[vpick, 0]])
    lon = np.concatenate([lon, mid_lon, verts[vpick, 1]])
    lat, lon = K.snap(lat), K.snap(lon)
    # on cell bounds (levels <= 8 are 1e-6 grids; level 9 is exact but not)
    m = len(lat) // 4
    for lv in (6, 7, 8, 9):
        size = 180.0 / (1 << lv)
        j = rng.integers(0, len(lat), m)
        which = rng.integers(0, 3, m)
        blat = np.floor((lat[j] + 90.0) / size) * size - 90.0
        blon = np.floor((lon[j] + 180.0) / size) * size - 180.0
        lat = np.concatenate([lat, np.where(which != 1, blat, lat[j])])
        lon = np.concatenate([lon, np.where(which != 0, blon, lon[j])])
    lon = K.norm_lon(lon)
    nan = rng.integers(0, len(lat), 5)
    lat[nan[:3]] = np.nan
    lon[nan[2:]] = np.nan
    return lat, lon


def _resolve(la, lo, cand):
    return resolve_masks(la, lo, _keys_of(la, lo, BASE_LEVEL), cand)


class TestResolveKernelProperties:
    @given(store=stores())
    @settings(max_examples=25, deadline=None)
    def test_matches_brute_force_and_clipped_cast(self, store):
        regions, rng = store
        pdf, rings = _store(regions)
        cand = build_cell_candidates(pdf, rings)
        n_regions = len(regions)
        assert cand["n_words"] == max(1, (n_regions + 62) // 63)
        la, lo = _points(regions, rng)
        masks = _resolve(la, lo, cand)
        with pytest.MonkeyPatch.context() as mp:  # many tiny cast runs
            mp.setattr(K, "_PIP_CHUNK_ELEMS", 7)
            np.testing.assert_array_equal(_resolve(la, lo, cand), masks)
        got = _bits(masks, n_regions)
        valid = ~np.isnan(la) & ~np.isnan(lo)
        assert not got[~valid].any()
        for rid, (outers, inners) in rings.items():
            want = K.point_in_rings(la[valid], lo[valid], outers, inners)
            np.testing.assert_array_equal(got[valid, rid], want, err_msg=f"region {rid}")
        # lons outside [-180, 180): the key normalizes, the ray cast does
        # not — the kernel's contract is the clipped cast, pair by pair
        sel = rng.integers(0, len(la), 60)
        la2 = la[sel]
        lo2 = lo[sel] + rng.choice([-360.0, 360.0], len(sel))
        lo2[:3] = 180.0
        got2 = _bits(_resolve(la2, lo2, cand), n_regions)
        np.testing.assert_array_equal(got2, _clipped_cast(la2, lo2, pdf, rings, n_regions))

    @given(store=stores())
    @settings(max_examples=5, deadline=None)
    def test_empty_and_all_missing_batches(self, store):
        regions, _ = store
        pdf, rings = _store(regions)
        cand = build_cell_candidates(pdf, rings)
        empty = np.empty(0, dtype=np.float64)
        assert _resolve(empty, empty, cand).shape == (0, cand["n_words"])
        nan = np.full(4, np.nan)
        masks = resolve_masks(nan, nan, np.full(4, -1, dtype=np.int64), cand)
        assert masks.shape == (4, cand["n_words"]) and not masks.any()


class TestEastEdgeSplit:
    def test_wrapped_edge_ending_at_180(self):
        """A wrapped region whose slanted west wall ends at lon 180.0 (the
        TestPointInEdgesFrame corner): the probe at (1.9, -179.8), just
        east of the line, keeps that wall and the top edge as near edges
        and counts the east wall at 186 by parity, in both storage
        forms."""
        cont = np.array(
            [[0.0, 174.0], [2.0, 180.0], [2.0, 186.0], [-2.0, 186.0], [-2.0, 174.0], [0.0, 174.0]]
        )
        la = np.array([1.9, 1.0, 1.0, 1.0, 1.0])
        lo = np.array([-179.8, 179.5, 176.0, -173.0, 180.0])
        for ring in (cont, _jump(cont)):
            pdf, rings = _store({0: ([ring], [])})
            cand = build_cell_candidates(pdf, rings)
            got = _bits(_resolve(la, lo, cand), 1)[:, 0]
            want = K.point_in_rings(la, lo, *rings[0])
            assert list(want) == [True, True, False, False, True]
            np.testing.assert_array_equal(got, want)
            key = K.cell_key(la[:1], lo[:1], MAX_LEVEL)[0]
            lkeys, _, ent_ptr = cand["levels"][MAX_LEVEL]
            e = ent_ptr[np.searchsorted(lkeys, key)]
            ey1, _, ex1, _, _ = cand["edges"]
            near = cand["edge_id"][cand["edge_ptr"][e] : cand["near_end"][e]]
            east = cand["edge_id"][cand["near_end"][e] : cand["edge_ptr"][e + 1]]
            assert [(ey1[i], ex1[i] % 360.0) for i in near] == [(0.0, 174.0), (2.0, 180.0)]
            assert [(ey1[i], ex1[i] % 360.0) for i in east] == [(2.0, 186.0)]
            x = K.wrap_lons_to_frame(lo[:1], *K.lon_frame(rings[0][0]))[0]
            assert x <= cand["ent_east"][e] - 1e-3  # decided by the parity
