"""Benchmark of the libosmtools_spark flagship spatial join.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each exists):

- ``flagship_clustered``: ``SpatialEngine.flagship_map`` over seeded pages,
  80% of them in three hotspots, against the 11-region fixture store;
- ``flagship_boundary``: the same call over pages jittered around the
  vertices of the 45-region, 800-vertex scaling store;
- ``spatial_census``: the registered spatial queries plus the staged
  flagship, in seed-permuted rounds.

Spark runs as ``local[k]`` with k the cores this process may use, from the
engine's own ``session.get_spark`` with only the console progress bar
turned off; ``SPARK_GRAFT_*`` overrides are removed from the environment.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a separate traced run.  The
line before it is a report with the workload's own metric names, sample
counts and set-up parts.  The exit code is 0 only when every op succeeded
and every output matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("flagship_clustered", "flagship_boundary", "spatial_census")
#: pages per flagship workload at --scale 1
PAGES = {"flagship_clustered": 250_000, "flagship_boundary": 125_000}


@dataclass
class Ctx:
    spark: object
    tracer: object
    groups: object
    seed: int
    seconds: float
    work: str


def _prepare_env(work: str) -> list[str]:
    """Keep every file the run writes inside the checkout, and drop engine
    overrides so the engine's own defaults are what gets measured."""
    removed = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in removed:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    return removed


def _fixture_pages(fixtures: str):
    """A fixture tier's pages as a flagship input (used by traced census
    runs, whose staged ops read the same files)."""
    import pandas as pd

    from inputs import Pages
    from libosmtools_spark.data import synth

    text = pd.read_parquet(os.path.join(fixtures, "pages.parquet"), columns=["text"])["text"]
    lat, lon = synth.extract_geo(text)
    return Pages(fixtures, lat, lon, synth.region_spec())


def _metric(value: float, unit: str, n: int | None = None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def run_flagship(ctx: Ctx, pages, session_s: float) -> dict:
    import flagship
    from harness import summary

    st = flagship.setup(ctx, pages)
    loop = flagship.timed_ops(ctx, st)
    parts = {"session_s": session_s, **st["setup_parts"]}
    out = {"attempted": loop["attempted"] + flagship.WARMUP_OPS, "failed": loop["failed"],
           "errors": loop["errors"], "setup_parts": parts, "setup_s": sum(parts.values())}
    if loop["walls"]:
        wall, cpu = summary(loop["walls"]), summary(loop["cpus"])
        mpages = pages.n / 1e6
        out["op_s"], out["op_cpu_s"] = wall["median"], cpu["median"]
        out["report"] = {
            "pages_per_s": _metric(pages.n / wall["median"], "1/s", wall["n"]),
            "cpu_s_per_mpage": _metric(cpu["median"] / mpages, "s", cpu["n"]),
            "op_wall_s": {**wall, "values": loop["walls"], "unit": "s"},
        }
    return out


def run_census(ctx: Ctx, cen, session_s: float) -> dict:
    import census
    from harness import timed

    with ctx.tracer.span("census.setup", "setup"), timed({}) as t:
        cen.setup()
    res = cen.rounds(seconds=ctx.seconds)
    parts = {"session_s": session_s, "engine_s": t["wall_s"]}
    out = {"attempted": res["attempted"], "failed": res["failed"], "errors": res["errors"],
           "setup_parts": parts, "setup_s": sum(parts.values())}
    if all(res["per"].values()):
        wall, cpu = census.totals(res["per"])
        out["op_s"], out["op_cpu_s"] = wall, cpu
        out["report"] = {
            "census_s": _metric(wall, "s", res["rounds"]),
            "census_cpu_s": _metric(cpu, "s", res["rounds"]),
            **{
                f"{q}_wall_s": {"values": [r["wall_s"] for r in recs], "unit": "s"}
                for q, recs in res["per"].items()
            },
        }
    return out


def run_traced(ctx: Ctx, pages, cen, session_s: float) -> dict:
    """Every layer probe, the same on every workload: the flagship layers
    over the workload's pages (the census tier's fixture pages for the
    census), then one census round."""
    import census
    import flagship

    st = flagship.setup(ctx, pages)
    layers = {"session.start_s": session_s, **flagship.layer_probes(ctx, st)}
    flagship.drop_engine(st["eng"])
    with ctx.tracer.span("census.setup", "setup"):
        cen.setup()
    res = cen.rounds()
    layers.update(census.layer_metrics(ctx, res["per"]))
    attempted = flagship.WARMUP_OPS + flagship.LAYER_REPS * 5 + res["attempted"]
    return {"attempted": attempted, "failed": res["failed"], "errors": res["errors"], "layers": layers}


def _layer_unit(name: str) -> str:
    return "s" if name.endswith("_s") else "bytes" if name.endswith("bytes") else "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="page-count multiplier (self-test only)")
    args = ap.parse_args(argv)

    fixtures = os.path.join(ROOT, "fixtures", "sf0.1")
    needed = [os.path.join(ROOT, "libosmtools_spark", "__init__.py"),
              os.path.join(ROOT, "__spark_entry__.py"),
              os.path.join(fixtures, "pages.parquet")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        print(f"perfbench: the engine is not in this checkout (missing {missing})", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_build", "perfbench")
    removed_env = _prepare_env(work)
    sys.path[:0] = [ROOT, HERE]

    import census
    import flagship
    import inputs
    from harness import JobGroups, RssMonitor, Tracer, cpus, start_spark, stop_spark

    # inputs and reference outputs, before any timer starts
    t_gen = time.perf_counter()
    census_fixtures = os.path.join(ROOT, "fixtures", f"sf{inputs.CENSUS_TIER}")
    sf_dir = inputs.census_docs(work)
    refs = census.references(work, sf_dir, census_fixtures)
    pages = None
    if args.workload in PAGES:
        n = max(1, int(PAGES[args.workload] * args.scale))
        pages = inputs.flagship_pages(fixtures, work, args.workload, args.seed, n)
        pages.want = flagship.expected(pages, args.seed, os.path.join(pages.dir, "expected.pkl"))
    elif args.trace:
        pages = _fixture_pages(census_fixtures)
        pages.want = flagship.expected(pages, args.seed)
    inputs_s = time.perf_counter() - t_gen

    tracer = Tracer(bool(args.trace))
    res: dict = {}
    with RssMonitor() as rss:
        t0 = time.perf_counter()
        with tracer.span("session.start", "setup"):
            spark = start_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, tracer, JobGroups(spark), args.seed, args.seconds, work)
        cen = census.Census(ctx, sf_dir, census_fixtures, refs)
        try:
            if args.trace:
                res = run_traced(ctx, pages, cen, session_s)
            elif pages is not None:
                res = run_flagship(ctx, pages, session_s)
            else:
                res = run_census(ctx, cen, session_s)
        except Exception:  # noqa: BLE001 - a failed set-up is a failed run, reported below
            res = {"attempted": max(1, res.get("attempted", 0)), "failed": max(1, res.get("failed", 0)),
                   "errors": [traceback.format_exc()[-2000:]]}
        finally:
            stop_spark(spark)
    tracer.write(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))

    attempted, failed = res["attempted"], res["failed"]
    peak_mb = rss.peak / 2**20
    metrics: dict = {}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "master": f"local[{cpus()}]",
        "pages": pages.n if pages is not None else None,
        "inputs_s": inputs_s,
        "removed_env": removed_env,
        "fail_ratio": failed / attempted,
        "errors": res.get("errors", []),
    }
    key = f"{args.workload}-seed{args.seed}-n{report['pages']}"
    last_untraced = os.path.join(work, "results", key + ".json")
    if args.trace and "layers" in res:
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in res["layers"].items()}
        if os.path.exists(last_untraced) and args.workload in PAGES:
            with open(last_untraced) as f:
                report["trace_overhead_s"] = res["layers"]["pipeline.flagship_s"] - json.load(f)["op_s"]
    elif "op_s" in res:
        metrics = {
            "op_s": _metric(res["op_s"], "s"),
            "op_cpu_s": _metric(res["op_cpu_s"], "s"),
            "setup_s": _metric(res["setup_s"], "s"),
        }
        report["metrics"] = {
            **res["report"],
            "setup_s": _metric(res["setup_s"], "s"),
            "peak_rss_mb": _metric(peak_mb, "MB"),
            "fail_ratio": _metric(failed / attempted, "ratio", attempted),
        }
        report["setup_parts"] = res["setup_parts"]
        os.makedirs(os.path.dirname(last_untraced), exist_ok=True)
        with open(last_untraced, "w") as f:
            json.dump({"op_s": res["op_s"]}, f)
    correct = failed == 0 and bool(metrics)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
