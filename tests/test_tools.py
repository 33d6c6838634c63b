"""The gate-measurement tool (``tools/audit.py``): its status-store walker
sees every SQL execution a gate runs, its plan counters agree with the
physical plan, and its runtime reading sees the shuffle."""

import ast
import os

import pytest

from coronavirus_dashboard_pipeline_etl_spark.plans.gate_queries import QUERIES
from tests.test_plans import SF
from tools.audit import audit_plan, gate_loop, measure, noop, plan_counters, walk

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "coronavirus_dashboard_pipeline_etl_spark",
)
needs_sf = pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 test tables absent")


def _store_executions(spark) -> dict[int, str]:
    """Execution id -> description of everything in the status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = store.executionsList().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        out[e.executionId()] = e.description()
    return out


@needs_sf
def test_walk_yields_every_execution_of_a_composed_gate(spark):
    """d14c pins its probe and its merge-on-read stats, writes, collects
    and counts: the walker returns every one of those executions, in id
    order, checkpoints included, ending with the sink write."""
    before = _store_executions(spark)
    _, execs = walk(
        spark, lambda: noop(QUERIES["d14c_tombstone_upsert"](spark, SF))
    )
    new = {i: d for i, d in _store_executions(spark).items() if i not in before}
    assert [e.description for e in execs] == [new[i] for i in sorted(new)]
    checkpoints = [e for e in execs if e.description.startswith("localCheckpoint")]
    assert len(checkpoints) >= 2
    assert all(e.nodes and e.plan for e in checkpoints)
    assert execs[-1].description.startswith("save")


@needs_sf
def test_plan_counters_match_the_executed_plan(spark):
    """For a one-execution query the counters read from the status
    store's plan graph equal the checklist over ``executedPlan()``."""
    df = QUERIES["q3_top_revenue_orders"](spark, SF)
    _, execs = walk(spark, lambda: noop(df))
    assert len(execs) == 1
    counters = plan_counters(execs)
    expected = audit_plan(df._jdf.queryExecution().executedPlan().toString())
    assert {k: counters[k] for k in expected} == expected
    assert expected["hash_exchanges"] and expected["scans"]


@needs_sf
def test_measure_reads_the_shuffle(spark):
    [(name, sec, execs)] = list(gate_loop(spark, SF, ["q3_top_revenue_orders"]))
    assert name == "q3_top_revenue_orders" and isinstance(sec, float)
    m = measure(execs)
    assert m["shuffle_records"] > 0 and m["shuffle_bytes"] > 0
    assert m["scan_rows"] > 0


def test_no_plan_audit_hook_in_the_package():
    """The tools read plans from the status store; the package keeps no
    plan-recording hook of its own."""
    found = []
    for root, _, files in os.walk(PACKAGE):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                name = getattr(node, "id", None) or getattr(node, "attr", None)
                name = name or getattr(node, "name", None)
                if name in ("PLAN_STAGES", "_audit_stage"):
                    found.append(f"{path}:{node.lineno}")
    assert not found
