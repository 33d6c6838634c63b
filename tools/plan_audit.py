"""Plan auditor: the 100 TB checklist run against every bench headline
query's PHYSICAL plan.

For each query it reports:
* exchanges      — hash/range/single-partition shuffle counts (the cost
                   that scales with data volume);
* python stages  — MapInPandas/ArrowEvalPython crossings (each is an
                   Arrow serialisation boundary; expression-only
                   operators must show 0);
* scans + pushdown — FileSourceScan count and whether PushedFilters is
                   non-empty when the query filters at source;
* red flags      — BroadcastNestedLoopJoin / CartesianProduct /
                   single-partition Exchange anywhere in the plan.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Writes PLAN_AUDIT.md at the repo root when run with no query filter.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from coronavirus_dashboard_pipeline_etl_spark.plans import crawl  # noqa: E402
from coronavirus_dashboard_pipeline_etl_spark.plans.gate_queries import (  # noqa: E402
    QUERIES,
)
from coronavirus_dashboard_pipeline_etl_spark.session import get_spark  # noqa: E402


def audit_plan(plan: str) -> dict[str, object]:
    """Extract the checklist counters from an executedPlan string."""
    return {
        "hash_exchanges": len(re.findall(r"Exchange hashpartitioning", plan)),
        "range_exchanges": len(re.findall(r"Exchange rangepartitioning", plan)),
        "single_part_exchanges": len(
            re.findall(r"Exchange SinglePartition", plan)
        ),
        "python_stages": len(
            re.findall(r"MapInPandas|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas", plan)
        ),
        "scans": len(re.findall(r"FileScan|BatchScan", plan)),
        "pushed_filters": len(
            re.findall(r"PushedFilters: \[[^\]]+\]", plan)
        ),
        "nested_loop_joins": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or HEADLINE
    spark = get_spark(app_name="plan_audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in names:
        # arm the stage hook afresh for each query: gates that eagerly
        # checkpoint intermediate stages (pipe22/pipe23/d14c/pipe24)
        # record each stage's pre-checkpoint physical plan, which the
        # final returned frame's plan no longer shows, so every stage
        # recorded during this run is this query's. Counters below are
        # summed across final + stages.
        crawl.PLAN_STAGES = stages = []
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            a = audit_plan(plan)
        finally:
            crawl.PLAN_STAGES = None
        for _, splan in stages:
            sa = audit_plan(splan)
            for k in a:
                a[k] += sa[k]
        a["stage_plans"] = len(stages)
        rows.append((name, a))

    cols = [
        "hash_exchanges", "single_part_exchanges", "python_stages",
        "scans", "pushed_filters", "nested_loop_joins", "cartesian",
        "stage_plans",
    ]
    lines = [
        "# PLAN AUDIT — physical-plan checklist for the bench headline set",
        "",
        f"Source: `tools/plan_audit.py` at `{sf_dir}`, initial physical",
        "plans (pre-AQE; plan shape is scale-independent — AQE only",
        "coalesces/skew-splits partitions at runtime).",
        "",
        "Reading the flags: in this engine every `single_part_exchanges`",
        "and `nested_loop_joins` occurrence is the 1-ROW SCALAR pattern —",
        "a grand aggregate (scaffold date bounds, corpus stats, with_scalar)",
        "whose partial-agg rows (one per task, not data) converge to one",
        "partition and broadcast back. Verified by reading the plans: the",
        "SinglePartition exchange input is always a partial HashAggregate",
        "with no grouping keys, and the BNLJ build side is that 1-row",
        "frame. A flag on a DATA-sized path would be a real regression.",
        "",
        "| query | " + " | ".join(cols) + " |",
        "|---|" + "---|" * len(cols),
    ]
    for name, a in rows:
        lines.append(
            f"| {name} | " + " | ".join(str(a[c]) for c in cols) + " |"
        )
        print(name, a)

    flags = [
        (n, a) for n, a in rows
        if a["nested_loop_joins"] or a["cartesian"] or a["single_part_exchanges"]
    ]
    lines.append("")
    if flags:
        lines.append("## Flagged")
        lines.append("")
        for n, a in flags:
            reasons = []
            # the 1-row broadcast scalar pattern (with_scalar / stats
            # broadcast) legitimately plans a BroadcastNestedLoopJoin
            # over a single-row build side — call it out, don't hide it
            if a["nested_loop_joins"]:
                reasons.append(
                    f"{a['nested_loop_joins']} BroadcastNestedLoopJoin "
                    "(verify each is a 1-row scalar broadcast, never a "
                    "data-sized side)"
                )
            if a["cartesian"]:
                reasons.append(f"{a['cartesian']} CartesianProduct")
            if a["single_part_exchanges"]:
                reasons.append(
                    f"{a['single_part_exchanges']} single-partition exchange"
                )
            lines.append(f"- `{n}`: " + "; ".join(reasons))
    else:
        lines.append("No red flags.")

    if not sys.argv[2:]:
        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "PLAN_AUDIT.md",
        )
        with open(out, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        print(f"\nwrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
