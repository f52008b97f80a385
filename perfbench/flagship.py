"""The two flagship workloads: ``SpatialEngine.flagship_map`` over seeded
pages, timed closed loop, with every op's output checked.

An op is one ``flagship_map`` over all pages, fully materialized as the
(row count, exact sum of per-row xxhash64) pair, so no column can be
pruned.  The first op of a run is checked in depth against the brute-force
oracles in ``data.synth``; every later op must reproduce its pair.
"""

from __future__ import annotations

import os
import pickle
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from harness import CheckFailed, noop_write, timed
from inputs import Pages, urls

#: engine builds per run; setup_s takes their median
ENGINE_BUILDS = 3
#: ops after the engine build that are not timed (the first is the
#: in-depth check); op walls still fall over the first two or three ops
WARMUP_OPS = 3
#: timed ops per run, at least, however long they take
MIN_OPS = 3
#: pages checked against the brute-force point-in-polygon oracle, besides
#: one page per distinct cell
SAMPLE_PAGES = 10_000
#: repeats of each layer probe in a traced run
LAYER_REPS = 3


def _digest(out) -> tuple[int, int]:
    row = out.select(
        F.count("*").alias("n"),
        F.sum(
            F.xxhash64("url", "cell_key", "cell_id", F.concat_ws(",", "region_ids")).cast(
                "decimal(38,0)"
            )
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def drop_engine(eng) -> None:
    eng.cell_index.unpersist()
    eng.rings_bcast.destroy()
    eng.candidates_bcast.destroy()


def expected(pages: Pages, seed: int, cache: str | None = None):
    """Brute-force expectations: region sets of a seeded page sample plus one
    page per distinct cell, and the cells dictionary over those cells, from
    ``synth.golden_frames``.  Kept in ``cache`` when given: they depend only
    on the generated inputs."""
    from libosmtools_spark.data import synth
    from libosmtools_spark.geom import kernels as K

    if cache and os.path.exists(cache):
        with open(cache, "rb") as f:
            return pickle.load(f)

    keys = K.cell_key(pages.lat, pages.lon, synth.FIXTURE_LEVEL)
    _, reps = np.unique(keys, return_index=True)
    rng = np.random.default_rng(seed + 1)
    sample = rng.choice(pages.n, min(SAMPLE_PAGES, pages.n), replace=False)
    idx = np.union1d(sample, reps)
    frame = pd.DataFrame(
        {
            "url": urls(idx),
            "text": [f"geo:{a:.6f},{o:.6f}" for a, o in zip(pages.lat[idx], pages.lon[idx])],
        }
    )
    gold = synth.golden_frames(frame, pages.specs)
    regions = dict(zip(gold["golden_page_regions"]["url"], gold["golden_page_regions"]["region_ids"]))
    cells = gold["golden_cells"]
    want = regions, set(zip(cells["cell_key"].tolist(), cells["cell_id"].tolist()))
    if cache:
        with open(cache + ".tmp", "wb") as f:
            pickle.dump(want, f)
        os.rename(cache + ".tmp", cache)
    return want


def check_in_depth(spark, eng, pages_df, pages: Pages) -> dict:
    """Run one op on a cached output and check it against ``pages.want``,
    the oracles' output.  Returns the op's digest and the count of pages
    with a region."""
    want_regions, want_cells = pages.want
    out = eng.flagship_map(pages_df).cache()
    try:
        n, h = _digest(out)
        if n != pages.n:
            raise CheckFailed(f"{n} rows for {pages.n} pages")
        sample = spark.createDataFrame(pd.DataFrame({"url": list(want_regions)}))
        got = out.join(F.broadcast(sample), "url").select("url", "region_ids").collect()
        if len(got) != len(want_regions):
            raise CheckFailed(f"{len(got)} sampled rows for {len(want_regions)} urls")
        bad = [r["url"] for r in got if list(r["region_ids"]) != list(want_regions[r["url"]])]
        if bad:
            raise CheckFailed(f"{len(bad)} sampled pages have wrong region_ids, e.g. {bad[0]}")
        got_cells = {
            (int(r["cell_key"]), int(r["cell_id"]))
            for r in out.select("cell_key", "cell_id").distinct().collect()
        }
        if got_cells != want_cells:
            raise CheckFailed(
                f"cells dictionary differs from golden interning on "
                f"{len(got_cells ^ want_cells)} (cell_key, cell_id) pairs"
            )
        with_region = out.filter(F.size("region_ids") > 0).count()
    finally:
        out.unpersist()
    return {"digest": (n, h), "region_sets": with_region}


def setup(ctx, pages: Pages) -> dict:
    """Engine builds, input load and warm-up ops; returns the state the
    timed loop needs and the set-up timings."""
    from libosmtools_spark.pipeline import SpatialEngine

    spark, tr = ctx.spark, ctx.tracer
    builds, eng = [], None
    for b in range(ENGINE_BUILDS):
        if eng is not None:
            drop_engine(eng)
        with tr.span("index.build", f"build{b}"), timed({}) as t:
            eng = SpatialEngine(spark, spark.read.parquet(pages.rings_path))
            eng.cell_index.count()
        index_s = t["wall_s"]
        with tr.span("mapjoin.candidates", f"build{b}"), timed({}) as c:
            eng.candidates_bcast
        builds.append({"index_s": index_s, "candidates_s": c["wall_s"]})
    with tr.span("input.load", "setup"), timed({}) as load:
        pages_df = spark.read.parquet(pages.pages_path)
    with tr.span("warmup", "setup"), timed({}) as warm:
        checked = check_in_depth(spark, eng, pages_df, pages)
        for _ in range(WARMUP_OPS - 1):
            if _digest(eng.flagship_map(pages_df)) != checked["digest"]:
                raise CheckFailed("warm-up op digest differs from the checked op")
    engine_s = statistics.median(b["index_s"] + b["candidates_s"] for b in builds)
    return {
        "eng": eng,
        "pages_df": pages_df,
        "checked": checked,
        "builds": builds,
        "setup_parts": {
            "engine_s": engine_s,
            "load_s": load["wall_s"],
            "warmup_s": warm["wall_s"],
        },
    }


def timed_ops(ctx, st: dict) -> dict:
    """Closed loop: one client, the next op starts when the last ends."""
    walls, cpus, attempted, failed, errors = [], [], 0, 0, []
    t_end = time.monotonic() + ctx.seconds
    while attempted < MIN_OPS or time.monotonic() < t_end:
        attempted += 1
        try:
            with ctx.tracer.span("pipeline.flagship", f"op{attempted}"), timed({}) as t:
                got = _digest(st["eng"].flagship_map(st["pages_df"]))
            if got != st["checked"]["digest"]:
                raise CheckFailed(f"op digest {got} != checked {st['checked']['digest']}")
            walls.append(t["wall_s"])
            cpus.append(t["cpu_s"])
        except Exception as e:  # noqa: BLE001 - every failed op is counted and reported
            failed += 1
            errors.append(f"op{attempted}: {type(e).__name__}: {str(e)[:300]}")
    return {"walls": walls, "cpus": cpus, "attempted": attempted, "failed": failed, "errors": errors}


def layer_probes(ctx, st: dict) -> dict:
    """Each layer of the flagship materialized on its own into a noop sink,
    round-robin ``LAYER_REPS`` times; medians per layer."""
    from libosmtools_spark.cells.assign import build_cells_table_map
    from libosmtools_spark.joins.mapjoin import map_spatial_join_text, page_cell_keys_text

    tr, groups = ctx.tracer, ctx.groups
    eng, pages_df = st["eng"], st["pages_df"]

    def identity(batches):
        yield from batches

    probes = {
        "mapjoin.identity": lambda: noop_write(
            pages_df.select("url", "text").mapInArrow(identity, "url string, text string")
        ),
        "mapjoin.keys_pass": lambda: noop_write(page_cell_keys_text(pages_df, level=eng.level)),
        "mapjoin.fact_pass": lambda: noop_write(
            map_spatial_join_text(pages_df, eng.candidates_bcast, eng.rings_bcast, level=eng.level)
        ),
        "cells.dict": lambda: build_cells_table_map(
            page_cell_keys_text(pages_df, level=eng.level),
            eng.candidates_bcast,
            eng.rings_bcast,
            input_batch_unique=True,
        ).collect(),
        "pipeline.flagship": lambda: _digest(eng.flagship_map(pages_df)),
    }
    walls = {k: [] for k in probes}
    tasks, results = {}, {}
    for rep in range(LAYER_REPS):
        for name, fn in probes.items():
            with groups.group(name) as gid, tr.span(name, f"layer{rep}"), timed({}) as t:
                results[name] = fn()
            walls[name].append(t["wall_s"])
            tasks[name] = groups.counts(gid)
    if results["pipeline.flagship"] != st["checked"]["digest"]:
        raise CheckFailed("traced flagship op digest differs from the checked op")
    med = {k: statistics.median(v) for k, v in walls.items()}
    index = eng.cell_index
    return {
        "index.build_s": statistics.median(b["index_s"] for b in st["builds"]),
        "index.cells": index.count(),
        "index.partial_cells": index.filter(~F.col("full")).count(),
        "mapjoin.candidates_s": statistics.median(b["candidates_s"] for b in st["builds"]),
        "mapjoin.candidates_bytes": len(
            pickle.dumps(eng.candidates_bcast.value, protocol=pickle.HIGHEST_PROTOCOL)
        ),
        "mapjoin.identity_s": med["mapjoin.identity"],
        "mapjoin.keys_pass_s": med["mapjoin.keys_pass"],
        "mapjoin.fact_pass_s": med["mapjoin.fact_pass"],
        "mapjoin.fact_tasks": tasks["mapjoin.fact_pass"][0],
        "mapjoin.resolve_s": med["mapjoin.fact_pass"] - med["mapjoin.keys_pass"],
        "cells.dict_s": med["cells.dict"],
        "cells.dict_rows": len(results["cells.dict"]),
        "pipeline.flagship_s": med["pipeline.flagship"],
        "pipeline.tasks": tasks["pipeline.flagship"][0],
        "pipeline.stages": tasks["pipeline.flagship"][1],
        "pipeline.region_sets": st["checked"]["region_sets"],
    }
