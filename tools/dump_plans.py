"""Dump physical plans for the headline queries into PLANS.md and verify
the plan-shape invariants the engine is designed around:

- the cell-index join is a BroadcastHashJoin (no shuffle on the fact side);
- parquet scans show pushed filters / pruned schemas where expected;
- relational stages sit inside WholeStageCodegen spans;
- the flagship's fact pass has no Exchange; flagship_map reads it back
  as one materialized scan (ExistingRDD), so every shuffle of its plan
  sits under the broadcast (dimension) side: the cells dictionary.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def operators(plan):
    """Pre-order walk of a physical plan's operators (py4j SparkPlan)."""
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from operators(kids.apply(i))


def op_name(node) -> str:
    return node.getClass().getSimpleName()


def flagship_map_sides(df) -> tuple[list[str], int, int]:
    """(fact-side operator names, shuffles on the broadcast side, shuffles
    in the whole plan) of a flagship_map frame, from its executed plan."""
    plan = df._jdf.queryExecution().executedPlan()
    join = next(n for n in operators(plan) if op_name(n) == "BroadcastHashJoinExec")
    kids = [join.children().apply(i) for i in range(join.children().size())]

    def count(node, name):
        return sum(op_name(n) == name for n in operators(node))

    dim = next(k for k in kids if count(k, "BroadcastExchangeExec"))
    fact = next(k for k in kids if k is not dim)
    shuffle = "ShuffleExchangeExec"
    return [op_name(n) for n in operators(fact)], count(dim, shuffle), count(plan, shuffle)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entry
    from libosmtools_spark.data.synth import ensure_fixtures
    from libosmtools_spark.pipeline import SpatialEngine
    from libosmtools_spark.session import get_spark

    # AQE off for the DUMP only: a non-final AdaptiveSparkPlan hides the
    # whole-stage-codegen annotations explain() would otherwise show (the
    # engine itself runs with AQE on; this tool just reports plan shape)
    spark = get_spark(
        app="plans", cpus=8, shuffle_partitions=8,
        extra={"spark.sql.adaptive.enabled": "false"},
    )
    fx = ensure_fixtures("0.001")
    eng = SpatialEngine.from_fixtures(spark, fx)
    pages = spark.read.parquet(os.path.join(fx, "pages.parquet"))

    sections: list[tuple[str, str, list[str]]] = []

    fm_df = eng.flagship_map(pages)
    p = plan_of(fm_df)
    sections.append((
        "flagship_map (one materialized fact pass + broadcast cells dictionary)",
        p,
        ["Scan ExistingRDD", "MapInArrow", "BroadcastHashJoin"],
    ))

    p = plan_of(eng.flagship(pages))
    sections.append((
        "flagship (shuffle fallback plan)",
        p,
        ["BroadcastHashJoin"],
    ))

    qs = entry.queries()
    for name in ("pip_region_rows", "pip_antimeridian", "cell_assign", "knn",
                 "knn_wrap", "tile_counts", "dedup_exact", "token_count",
                 "events_window"):
        p = plan_of(qs[name](spark, sf_dir))
        sections.append((f"query: {name}", p, []))

    checks = []
    fm = sections[0][1]
    # the PAGES (fact) pass must be shuffle-free before it is materialized
    from libosmtools_spark.joins.mapjoin import map_spatial_join_text

    raw_plan = plan_of(
        map_spatial_join_text(pages, eng.candidates_bcast, eng.rings_bcast, level=eng.level)
    )
    fact_shuffles = raw_plan.count("Exchange") - raw_plan.count("BroadcastExchange")
    checks.append(f"- fact-side shuffles in the text-in map join: {fact_shuffles} "
                  f"{'✓' if fact_shuffles == 0 else '✗ UNEXPECTED'}")
    checks.append(f"- flagship_map dimension join is BroadcastHashJoin: "
                  f"{'✓' if 'BroadcastHashJoin' in fm else '✗'}")
    fact_ops, dim_shuffles, all_shuffles = flagship_map_sides(fm_df)
    confined = (
        fact_ops[-1] == "RDDScanExec"
        and not any("Exchange" in o for o in fact_ops)
        and dim_shuffles == all_shuffles
    )
    checks.append(f"- flagship_map fact side is a materialized scan ({' <- '.join(fact_ops)}) "
                  f"and its {all_shuffles} shuffles all sit in the dimension-side cells "
                  f"dictionary subtree: {'✓' if confined else '✗'}")
    scan_q = plan_of(spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
                     .select("doc_id").filter("doc_id > 100"))
    checks.append(f"- parquet pushdown visible (PushedFilters): "
                  f"{'✓' if 'PushedFilters' in scan_q and 'GreaterThan(doc_id,100)' in scan_q else '✗'}")
    wsc = sum(1 for _, p, _ in sections if "codegen id" in p)
    checks.append(f"- sections with whole-stage-codegen spans (codegen id): {wsc}/{len(sections)}")

    out = ["# PLANS — physical plans of the headline queries\n",
           "Verification of the plan-shape invariants (see tools/dump_plans.py):\n"]
    out.extend(checks)
    out.append("")
    for title, plan, musts in sections:
        missing = [m for m in musts if m not in plan]
        flag = "" if not missing else f"  (MISSING: {missing})"
        out.append(f"\n## {title}{flag}\n")
        out.append("```")
        out.append(plan.strip())
        out.append("```")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("\n".join(checks))
    spark.stop()


if __name__ == "__main__":
    main()
