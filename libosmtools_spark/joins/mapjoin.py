"""The flagship kernel: the broadcast-store map-side spatial join.

The reference's query path is a per-point lookup against an in-memory
GridRegionTree (/root/reference/include/osmtools/OsmGridRegionTree.h:109-151)
— no data movement at all.  When the polygon store + cell index broadcast
(the normal case: the store is a dimension table), the Spark-faithful
translation of the fact pass is a single ``mapInArrow``:

    pages → one text-in Arrow-batched map (RE2 geocode + cell keys +
    region resolution all inside the batch) → (url, cell_key, region_ids)

Region resolution (``resolve_masks``) reads one flat, object-free table
(``build_cell_candidates``), in the manner of *Raster Intervals* (SIGMOD
2023): a per-level ``searchsorted`` probe ORs in the regions that fully
cover the point's cell, and the regions that only partly cover it are
decided by a vectorized ray-cast over the batch's (point, region, near
edge) triples, plus a parity lookup for the edges lying wholly east of the
cell.  There is no Python loop over cells or regions.

The pass itself moves no rows between tasks.  Its task count comes from
the input's bytes (``coalesce_by_bytes``), not from the scan's split
count: each Python task pays a fixed boundary cost, so a corpus that fits
a few splits runs as few tasks.  ``SpatialEngine.flagship_map`` materializes this pass
once and derives the cells dictionary from its distinct ``cell_key``s
(pipeline.py).  The join-based path (joins/spatial.py) remains for stores
too large to broadcast; the lat/lon variant ``map_spatial_join`` serves
callers whose coordinates already exist as columns (streaming joins, cell
centers).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libosmtools_spark.geom import kernels as K

#: a point counts the edges wholly east of its cell by endpoint parity only
#: when it lies at least this many degrees west of the cell's east bound
#: (in the region's frame); closer points ray-cast those edges too.  See
#: build_cell_candidates for why the parity then equals the ray cast.
_EAST_MARGIN = 1e-10
#: east edges need |y2 - y1| at least this (or exactly 0), so that the
#: ray-cast products stay normal floats; shorter edges stay near
_EAST_MIN_DY = 1e-290


def _cat(parts: list, dtype) -> np.ndarray:
    return np.concatenate(parts).astype(dtype, copy=False) if parts else np.empty(0, dtype)


def _expand(starts: np.ndarray, counts: np.ndarray):
    """Ragged CSR expansion: ``(owner, pos)`` listing, for every i,
    ``pos = starts[i] .. starts[i] + counts[i] - 1`` with ``owner = i``."""
    owner = np.repeat(np.arange(len(counts)), counts)
    skip = np.cumsum(counts) - counts
    pos = np.repeat(starts - skip, counts) + np.arange(len(owner))
    return owner, pos


def build_cell_candidates(cell_index_pdf: pd.DataFrame, rings: dict) -> dict:
    """Broadcast-ready flat tables (numpy arrays only) from the collected
    cell-coverage index (mixed-level keys — the adaptive default) and
    ``rings`` (region_id → continuous-frame (outers, inners)):

    - ``levels[lv] = (keys, full_masks, ent_ptr)``: sorted cell keys, the
      OR of the bits of the regions FULLY covering each cell, and the CSR
      of each cell's *entries* (one per region only partly covering it);
    - per entry: ``ent_rid`` and ``ent_east``, the cell's east bound in
      the region's frame (the centre shift of the clip); per region:
      ``frame_mid`` / ``frame_wrap`` as ``kernels.wrap_lons_to_frame`` uses
      them;
    - the clipped edges of entry e: slots ``edge_ptr[e]:edge_ptr[e+1]``,
      NEAR edges first (to ``near_end[e]``), then the edges wholly EAST of
      the cell; ``edge_id[slot]`` indexes ``edges = (y1, y2, x1, |d|,
      dxs)``, with ``d = y2 - y1`` and ``dxs = (x2 - x1)·sign(d)`` computed
      by the floating-point operations of ``kernels._point_in_ring_block``;
    - the east endpoints: sorted distinct latitudes ``bp_vals`` and sorted
      keys ``bp_keys = e·(len(bp_vals) + 1) + rank``, entry e's from
      ``bp_ptr[e]``.

    The clip drops edges whose latitude range misses the cell's band or
    that lie wholly west of it (the ray runs east).  Parity over outer +
    inner edges is the even-odd rule (nested holes).

    An edge with ``min(x1, x2) >= E`` crosses the eastward ray from (x, y),
    x < E, exactly when it straddles y, ``(y1 <= y) != (y2 <= y)``; so its
    parity is that of ``#(endpoints <= y)``.  This matches the ray-cast
    formula ``fl(x - x1)·|d| < fl(y - y1)·dxs`` bit for bit once ``E - x >=
    _EAST_MARGIN``: with t = (y - y1)/(y2 - y1) ∈ [0, 1], the two sides are
    ``-(x1 - x)·|y2 - y1|·(1 + θ1)`` and ``t·(x2 - x1)·|y2 - y1|·(1 + θ2)``,
    |θ| <= γ3 = 3u/(1 - 3u), u = 2^-53.  If x2 >= x1 the left side is < 0
    <= the right side.  If x2 < x1, x1 - x >= t·(x1 - x2) + _EAST_MARGIN,
    which keeps the left side below the right side while ``_EAST_MARGIN >
    2.1·γ3·(x1 - x2)`` (2.6e-13 for edges under 360°).  1e-6-grid points
    sit at least 1e-6/2^10 from every cell bound up to level 12.  Edges with
    ``0 < |d| < _EAST_MIN_DY`` (products could underflow) stay near.  Pairs
    within the margin of E — e.g. query lons outside [-180, 180), whose key
    is normalized but whose ray cast is not — cast all clipped edges."""
    ck = cell_index_pdf["cell_key"].to_numpy(dtype=np.int64)
    rid = cell_index_pdf["region_id"].to_numpy(dtype=np.int64)
    full = cell_index_pdf["full"].to_numpy(dtype=bool)
    n_regions = int(rid.max()) + 1 if len(rid) else 0
    n_words = max(1, (n_regions + 62) // 63)

    levels: dict[int, tuple] = {}
    ent_keys: list = []
    ent_rids: list = []
    n_ent = 0
    lv_of = ck >> K._LEVEL_SHIFT
    for lv in np.unique(lv_of):
        m = lv_of == lv
        order = np.argsort(ck[m], kind="stable")
        skeys, srid, sfull = ck[m][order], rid[m][order], full[m][order]
        uniq, grp_idx = np.unique(skeys, return_inverse=True)  # row → cell row
        full_masks = np.zeros((len(uniq), n_words), dtype=np.int64)
        fr = srid[sfull]
        np.bitwise_or.at(full_masks, (grp_idx[sfull], fr // 63), np.int64(1) << (fr % 63))
        prows = np.flatnonzero(~sfull)  # key-sorted: a cell's entries are contiguous
        ent_ptr = np.full(len(uniq) + 1, n_ent, dtype=np.int64)
        ent_ptr[1:] += np.cumsum(np.bincount(grp_idx[prows], minlength=len(uniq)))
        levels[int(lv)] = (uniq, full_masks, ent_ptr)
        ent_keys.append(skeys[prows])
        ent_rids.append(srid[prows])
        n_ent += len(prows)
    ent_key = _cat(ent_keys, np.int64)
    ent_rid = _cat(ent_rids, np.int64)

    # clip REGION-AT-A-TIME: one vectorized bounds + frame pass over the
    # region's entries and a chunked 2-D (entries × edges) keep mask whose
    # np.nonzero IS the CSR content — no per-cell Python
    ent_east = np.zeros(n_ent, dtype=np.float64)
    frame_mid = np.zeros(n_regions, dtype=np.float64)
    frame_wrap = np.zeros(n_regions, dtype=bool)
    tables: list = []
    slot_ent: list = []
    slot_edge: list = []
    slot_east: list = []
    n_edges = 0
    for r in np.unique(ent_rid):
        outers, inners = rings[int(r)]
        y1, x1, y2, x2 = np.vstack([K.ring_edges(rr) for rr in list(outers) + list(inners)]).T
        d = y2 - y1
        s = np.sign(d)
        ad = d * s
        ylo, yhi = np.minimum(y1, y2), np.maximum(y1, y2)
        xlo, xhi = np.minimum(x1, x2), np.maximum(x1, x2)
        elo, ehi = float(xlo.min()), float(xhi.max())
        frame_mid[r] = (elo + ehi) / 2.0
        frame_wrap[r] = not (elo >= -180.0 and ehi <= 180.0)
        east_ok = (ad == 0.0) | (ad >= _EAST_MIN_DY)
        rows = np.flatnonzero(ent_rid == r)
        min_lat, max_lat, min_lon, max_lon = K.cell_bounds(ent_key[rows])
        c = (min_lon + max_lon) / 2.0
        shift = np.asarray(K.wrap_lons_to_frame(c, elo, ehi), dtype=np.float64) - c
        west = min_lon + shift
        ent_east[rows] = max_lon + shift
        step = max(1, 4_000_000 // len(y1))
        for s0 in range(0, len(rows), step):
            ch = slice(s0, s0 + step)
            keep = (
                (yhi[None, :] > min_lat[ch, None])
                & (ylo[None, :] <= max_lat[ch, None])
                & (xhi[None, :] >= west[ch, None])
            )
            i, j = np.nonzero(keep)
            slot_ent.append(rows[ch][i])
            slot_edge.append(j + n_edges)
            slot_east.append(east_ok[j] & (xlo[j] >= ent_east[rows[ch][i]]))
        tables.append((y1, y2, x1, ad, (x2 - x1) * s))
        n_edges += len(y1)
    se = _cat(slot_ent, np.int64)
    sk = _cat(slot_east, bool)
    order = np.argsort(se * 2 + sk, kind="stable")  # entry-major, near first
    se, sk, sid = se[order], sk[order], _cat(slot_edge, np.int32)[order]
    edge_ptr = np.zeros(n_ent + 1, dtype=np.int64)
    np.cumsum(np.bincount(se, minlength=n_ent), out=edge_ptr[1:])
    near_end = edge_ptr[:-1] + np.bincount(se[~sk], minlength=n_ent)
    edges = tuple(_cat([t[k] for t in tables], np.float64) for k in range(5))

    e_ent, e_id = se[sk], sid[sk]
    bp_vals, rank = np.unique(
        np.concatenate([edges[0][e_id], edges[1][e_id]]), return_inverse=True
    )
    bp_keys = np.sort(np.tile(e_ent, 2) * (len(bp_vals) + 1) + rank)
    bp_ptr = 2 * (np.cumsum(edge_ptr[1:] - near_end) - (edge_ptr[1:] - near_end))
    return {
        "n_regions": n_regions,
        "n_words": n_words,
        "levels": levels,
        "ent_rid": ent_rid.astype(np.int32),
        "ent_east": ent_east,
        "frame_mid": frame_mid,
        "frame_wrap": frame_wrap,
        "edge_ptr": edge_ptr,
        "near_end": near_end,
        "edge_id": sid,
        "edges": edges,
        "bp_vals": bp_vals,
        "bp_keys": bp_keys,
        "bp_ptr": bp_ptr,
    }


def _masks_to_region_lists(masks: np.ndarray):
    """(n, n_words) int64 bitmasks → (offsets, values) int32 arrays for a
    ``pa.ListArray`` of ascending region ids per row.

    Vectorized via unique-mask dictionary decode: points in the same cell
    share the same mask, so distinct masks ≈ distinct occupied cells — the
    per-row work is a gather, and only the (small) unique set is decoded
    bit by bit.  This replaces the former JVM decode expression
    (filter/flatten/transform over sequence(0,62)), a NESTED higher-order
    function that Catalyst evaluates interpreted, outside whole-stage
    codegen — measured as a significant slice of the flagship wall at the
    scaling tier (63 CASE evaluations per row per mask word)."""
    n, n_words = masks.shape
    if n == 0:
        return np.zeros(1, dtype=np.int32), np.empty(0, dtype=np.int32)
    if n_words == 1:
        u, inv = np.unique(masks[:, 0], return_inverse=True)
        u = u[:, None]
    else:
        u, inv = np.unique(masks, axis=0, return_inverse=True)
    inv = inv.ravel()
    dec = []
    for row in u:
        ids = []
        for w in range(n_words):
            m = int(row[w])
            while m:
                low = m & -m
                ids.append(w * 63 + low.bit_length() - 1)
                m ^= low
        dec.append(np.asarray(ids, dtype=np.int32))
    ulen = np.fromiter((len(d) for d in dec), dtype=np.int64, count=len(dec))
    uoff = np.concatenate(([0], np.cumsum(ulen)))[:-1]
    flat = np.concatenate(dec)
    lens = ulen[inv]
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    total = int(offs[-1])
    if total == 0:
        return offs.astype(np.int32), np.empty(0, dtype=np.int32)
    idx = np.repeat(uoff[inv], lens) + (
        np.arange(total, dtype=np.int64) - np.repeat(offs[:-1], lens)
    )
    return offs.astype(np.int32), flat[idx]


def resolve_masks(la, lo, keys, cand: dict) -> np.ndarray:
    """The kernel core: (lat, lon, cell_key[-1 sentinel]) arrays and the
    ``build_cell_candidates`` tables → (n, n_words) int64 region bitmasks.

    Per level, one searchsorted probe ORs in the full-cover masks and
    yields the (point, entry) pairs of the partly covering regions.  All
    pairs of all levels are then decided at once: the near edges (for a
    pair too close to the cell's east bound, every clipped edge) are
    ray-cast element-wise over the expanded (pair, edge) triples and
    counted with ``np.bincount``; the east edges add their
    endpoint parity (two searchsorted calls); odd totals OR their region
    bit into the point's mask.  The parity of each pair equals that of a
    ray cast against all of the entry's clipped edges.  A region's
    coverage cells partition its area across levels, so each (point,
    region) pair comes from at most one level."""
    n_words = cand["n_words"]
    masks = np.zeros((len(keys), n_words), dtype=np.int64)
    vidx = np.flatnonzero(keys >= 0)
    levels = cand["levels"]
    if not len(vidx) or not levels:
        return masks
    # all probe-level keys from ONE float pass (bit-identical to per-level
    # cell_key; shifts derive the coarser levels)
    pkeys_by_level = K.cell_keys_multi(la[vidx], lo[vidx], list(levels))
    pts, ents = [], []
    for lv, (lkeys, full_masks, ent_ptr) in levels.items():  # every level has keys
        pkeys = pkeys_by_level[lv]
        pos = np.searchsorted(lkeys, pkeys)
        pos[pos >= len(lkeys)] = len(lkeys) - 1
        hit = lkeys[pos] == pkeys
        hidx = vidx[hit]  # batch row of each matched point
        hpos = pos[hit]  # cell row it matched
        for w in range(n_words):
            masks[hidx, w] |= full_masks[hpos, w]
        owner, ent = _expand(ent_ptr[hpos], ent_ptr[hpos + 1] - ent_ptr[hpos])
        pts.append(hidx[owner])
        ents.append(ent)
    pt = np.concatenate(pts)
    ent = np.concatenate(ents)
    if not len(pt):
        return masks
    rid = cand["ent_rid"][ent].astype(np.int64)
    y = la[pt]
    x = lo[pt]
    # probe lons into the region's continuous frame (wrap_lons_to_frame's
    # arithmetic; wrapped regions only — identity elsewhere)
    wrap = cand["frame_wrap"][rid]
    if wrap.any():
        xw = x[wrap]
        x[wrap] = xw + 360.0 * np.round((cand["frame_mid"][rid[wrap]] - xw) / 360.0)
    good = x <= cand["ent_east"][ent] - _EAST_MARGIN
    # east edges: #(endpoints <= y) per entry, via (entry, value-rank) keys
    q = np.searchsorted(cand["bp_vals"], la, side="right")[pt]
    at = np.searchsorted(cand["bp_keys"], ent * (len(cand["bp_vals"]) + 1) + q)
    crossings = np.where(good, at - cand["bp_ptr"][ent], 0)
    # near edges: one element-wise ray cast over every (pair, edge) triple,
    # in runs of whole pairs of about K._PIP_CHUNK_ELEMS triples so the
    # temporaries stay in a core's private cache
    edge_ptr = cand["edge_ptr"]
    s_lo = edge_ptr[ent]
    n_el = np.where(good, cand["near_end"][ent], edge_ptr[ent + 1]) - s_lo
    cut = np.searchsorted(
        np.cumsum(n_el), np.arange(K._PIP_CHUNK_ELEMS, n_el.sum(), K._PIP_CHUNK_ELEMS)
    )
    ey1, ey2, ex1, ead, edxs = cand["edges"]
    for a, b in zip(np.r_[0, cut], np.r_[cut, len(pt)]):
        owner, slot = _expand(s_lo[a:b], n_el[a:b])
        eid = cand["edge_id"][slot]
        yy = y[a:b][owner]
        y1 = ey1[eid]
        cross = ((y1 <= yy) != (ey2[eid] <= yy)) & (
            (x[a:b][owner] - ex1[eid]) * ead[eid] < (yy - y1) * edxs[eid]
        )
        crossings[a:b] += np.bincount(owner[cross], minlength=b - a)
    inside = (crossings & 1).astype(bool)
    r = rid[inside]
    np.bitwise_or.at(masks, (pt[inside], r // 63), np.int64(1) << (r % 63))
    return masks


#: named-group form of geom.columns.GEO_REGEX for pyarrow's extract_regex
#: (RE2 requires named captures; names change nothing about what matches)
_GEO_REGEX_NAMED = r"geo:(?P<glat>-?\d+\.\d{6}),(?P<glon>-?\d+\.\d{6})"


def _geocode_batch(text_col):
    """Arrow string column → (lat, lon) float64 numpy arrays (NaN = no
    geocode), computed with RE2 (pyarrow.compute.extract_regex) + Arrow's
    correctly-rounded string→double cast.

    Exactly geom.columns.geocode_cols: the pattern is the same byte
    pattern (\\d is ASCII [0-9] in both Java regex and RE2, search
    semantics both first-match), and both Double.parseDouble and Arrow's
    cast are correctly-rounded IEEE-754 conversions of the same digit
    strings — parity is asserted against the JVM path in
    tests/test_spatial_join.py and by the flagship goldens/oracles."""
    import pyarrow as pa
    import pyarrow.compute as pc

    m = pc.extract_regex(text_col, _GEO_REGEX_NAMED)
    la = pc.cast(pc.struct_field(m, "glat"), pa.float64()).to_numpy(zero_copy_only=False)
    lo = pc.cast(pc.struct_field(m, "glon"), pa.float64()).to_numpy(zero_copy_only=False)
    return la, lo


def _keys_of(la: np.ndarray, lo: np.ndarray, level: int) -> np.ndarray:
    """cell keys with -1 where coordinates are NaN (the kernel sentinel) —
    same bit layout as geom.columns.cell_key_col (parity-tested)."""
    keys = np.full(len(la), -1, dtype=np.int64)
    valid = ~np.isnan(la) & ~np.isnan(lo)
    if valid.any():
        keys[valid] = K.cell_key(la[valid], lo[valid], level)
    return keys


def coalesce_by_bytes(df: DataFrame) -> DataFrame:
    """``df`` coalesced (no shuffle) to ``max(defaultParallelism,
    ceil(plan sizeInBytes / spark.sql.files.maxPartitionBytes))``
    partitions when it has more than that — the task count of a Python
    Arrow stage over it.

    The scan's own split count is sized for JVM work (the session's scan
    floor asks for several splits per core), but every ``mapInArrow`` task
    pays a fixed Python-boundary cost: on a 4-core VM an identity Arrow
    pass over 200k pages took 2.19 s as 32 tasks and 0.90 s as 4.
    Coalescing merges whole splits without moving rows between them.
    Inputs whose plan ends in a shuffle (adaptive plans) are returned as
    they are: AQE already sizes those partitions, and counting them here
    would run the shuffle."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return df
    spark = df.sparkSession
    size = int(str(qe.optimizedPlan().stats().sizeInBytes()))
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    target = max(spark.sparkContext.defaultParallelism, -(-size // split))
    if plan.execute().getNumPartitions() > target:
        return df.coalesce(target)
    return df


def map_spatial_join_text(
    pages: DataFrame,
    candidates_bcast,
    rings_bcast,
    id_col: str = "url",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """pages(id, text) → (id, cell_key, region_ids): the flagship's fact
    pass, with geocode + cell-key derivation INSIDE the Arrow batch (RE2 +
    numpy) instead of JVM expressions upstream, over
    ``coalesce_by_bytes(pages)``.

    Same results as ``with_cell_key(geocode_pages(pages))`` →
    ``map_spatial_join`` (see _geocode_batch for the parity argument); the
    win is the Python boundary: only (id, text) crosses into the worker —
    not (id, lat, lon, cell_key) — and the JVM regex pass disappears.
    Measured at the 25.6M-page scaling tier (local[4]): the JVM
    geocode+key stage alone was ~4.7 s and the identity Arrow round trip
    ~10.6 s; fusing them removes a whole JVM pass and 24 bytes/row of
    boundary traffic (guide §4.1: control how many columns cross).

    ``rings_bcast`` is not read: the candidate tables carry every edge the
    kernel casts against, so tasks never deserialize the ring store."""
    id_type = dict(pages.dtypes)[id_col]
    schema = f"{id_col} {id_type}, cell_key long, region_ids array<int>"

    def run(batches):
        import pyarrow as pa

        cand = candidates_bcast.value
        for batch in batches:
            la, lo = _geocode_batch(batch.column(text_col))
            keys = _keys_of(la, lo, level)
            masks = resolve_masks(la, lo, keys, cand)
            offs, vals = _masks_to_region_lists(masks)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col),
                    pa.array(keys, type=pa.int64()),
                    pa.ListArray.from_arrays(
                        pa.array(offs, type=pa.int32()), pa.array(vals, type=pa.int32())
                    ),
                ],
                [id_col, "cell_key", "region_ids"],
            )

    out = coalesce_by_bytes(pages.select(id_col, text_col)).mapInArrow(run, schema)
    restore_key = F.when(F.col("cell_key") >= 0, F.col("cell_key"))
    return out.select(id_col, restore_key.alias("cell_key"), "region_ids")


def page_cell_keys_text(
    pages: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """pages(…, text) → distinct-ish (cell_key) rows (NULL for pages with
    no geocode), one text-only Arrow pass emitting each batch's UNIQUE
    keys.  Callers still .distinct() the result: the batch-level np.unique
    bounds the rows per batch, not the rows overall (batches × occupied
    cells).

    The flagship no longer calls this: ``SpatialEngine.flagship_map``
    takes its dictionary keys from the materialized fact pass instead of
    geocoding the corpus a second time.  It stays as the key-only probe of
    the geocode + cell-key layers."""
    schema = "cell_key long"

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            la, lo = _geocode_batch(batch.column(text_col))
            keys = np.unique(_keys_of(la, lo, level))
            yield pa.RecordBatch.from_arrays([pa.array(keys, type=pa.int64())], ["cell_key"])

    out = coalesce_by_bytes(pages.select(text_col)).mapInArrow(run, schema)
    return out.select(F.when(F.col("cell_key") >= 0, F.col("cell_key")).alias("cell_key"))


def map_spatial_join(
    points: DataFrame,
    candidates_bcast,
    rings_bcast,
    id_col: str = "url",
    lat: str = "lat",
    lon: str = "lon",
    n_regions: int | None = None,
    carry_cols: tuple = (),
) -> DataFrame:
    """points(id, lat, lon, cell_key) → (id, cell_key, region_ids array).

    Per Arrow batch, ``resolve_masks`` assigns definite regions without a
    geometry test, ray-casts the candidates, and ORs each hit into a
    per-point int64 BITMASK (multi-word for stores >62 regions) — pure
    integer vector ops, no Python-object strings in the hot path (string
    assembly doubled CPU time at high thread counts from memory stalls).
    Masks are decoded to Arrow lists of ascending region ids in the batch.
    ``rings_bcast`` is not read (see map_spatial_join_text)."""
    built = candidates_bcast.value["n_regions"]
    if n_regions is None:
        n_regions = built
    elif n_regions != built:
        # the mask geometry (n_words) is baked into the prebuilt full_masks
        # arrays: a larger override would read past them, a smaller one
        # would silently truncate high region ids
        raise ValueError(
            f"n_regions={n_regions} does not match the broadcast index build ({built})"
        )
    dtypes = dict(points.dtypes)
    id_type = dtypes[id_col]
    # region_ids emitted DIRECTLY as an Arrow ListArray (offsets + int32
    # values buffers, fully vectorized via _masks_to_region_lists) — no
    # per-row Python list objects, and no JVM decode expression afterwards
    carry_schema = "".join(f", {c} {dtypes[c]}" for c in carry_cols)
    schema = f"{id_col} {id_type}, cell_key long{carry_schema}, region_ids array<int>"


    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        cand = candidates_bcast.value
        nan = pa.scalar(float("nan"), type=pa.float64())
        for batch in batches:
            # Arrow-native I/O (mapInArrow): the id column passes through as
            # an Arrow buffer — a pandas round-trip would materialize
            # millions of Python string objects per task, which dominated
            # allocator time at high thread counts.
            la = pc.fill_null(batch.column(lat).cast(pa.float64()), nan).to_numpy(
                zero_copy_only=False
            )
            lo = pc.fill_null(batch.column(lon).cast(pa.float64()), nan).to_numpy(
                zero_copy_only=False
            )
            # cell_key is NULL-free by construction (NULL → -1 sentinel
            # JVM-side below), so the int64 Arrow buffer converts straight
            # to int64 numpy; any float detour would silently round level-6
            # keys (~2.2e17 — past float64's 53-bit exact-integer range) and
            # corrupt the whole batch — the asarray int64 check raises
            # loudly if that ever regresses.
            keys = np.asarray(batch.column("cell_key").to_numpy(), dtype=np.int64)
            masks = resolve_masks(la, lo, keys, cand)
            arrays = [batch.column(id_col), batch.column("cell_key")]
            names = [id_col, "cell_key"]
            for c in carry_cols:  # passthrough Arrow buffers (e.g. event time
                arrays.append(batch.column(c))  # for streaming windows)
                names.append(c)
            offs, vals = _masks_to_region_lists(masks)
            arrays.append(
                pa.ListArray.from_arrays(pa.array(offs, type=pa.int32()), pa.array(vals, type=pa.int32()))
            )
            names.append("region_ids")
            yield pa.RecordBatch.from_arrays(arrays, names)

    # NULL cell_key (geocode miss) → -1 sentinel so the Arrow column stays
    # int64 end-to-end (see the dtype note inside run); restored below.
    pts = points.select(
        id_col, lat, lon,
        F.coalesce(F.col("cell_key"), F.lit(-1).cast("long")).alias("cell_key"),
        *carry_cols,
    )
    out = pts.mapInArrow(run, schema)
    restore_key = F.when(F.col("cell_key") >= 0, F.col("cell_key"))
    return out.select(
        id_col, restore_key.alias("cell_key"), *carry_cols, "region_ids"
    )
