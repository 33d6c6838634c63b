"""The benchmark's own tests: seeded inputs are reproducible, and a wrong
answer from the library is counted as a failed attempt.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import inputs

DOCS = [(i, f"doc {i} " + " ".join(f"w{(i * 7 + j) % 50}" for j in range(30))) for i in range(400)]


def _release_bytes(seed: int, d: str) -> dict[str, bytes]:
    inputs.release_files(seed, 1, d, history_days=12)
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_gives_identical_inputs(tmp_path):
    a = _release_bytes(1, str(tmp_path / "a"))
    b = _release_bytes(1, str(tmp_path / "b"))
    assert a == b and len(a) == len(inputs.AREA_TYPES)
    rows = inputs.long_rows(1, 5, 10, n_areas=6)
    assert rows == inputs.long_rows(1, 5, 10, n_areas=6)
    assert inputs.backfill_rows(1, "x", rows, 20) == inputs.backfill_rows(1, "x", rows, 20)
    assert inputs.population_rows(1) == inputs.population_rows(1)
    assert inputs.read_back_queries(1) == inputs.read_back_queries(1)
    plan = inputs.crawl_plan(1, DOCS, 100, 3, 40)
    assert inputs.digest(plan) == inputs.digest(inputs.crawl_plan(1, DOCS, 100, 3, 40))


def test_different_seed_gives_different_inputs(tmp_path):
    assert _release_bytes(1, str(tmp_path / "a")) != _release_bytes(2, str(tmp_path / "b"))
    assert inputs.long_rows(1, 5, 10, n_areas=6) != inputs.long_rows(2, 5, 10, n_areas=6)
    assert inputs.population_rows(1) != inputs.population_rows(2)
    assert inputs.digest(inputs.crawl_plan(1, DOCS, 100, 3, 40)) != inputs.digest(
        inputs.crawl_plan(2, DOCS, 100, 3, 40)
    )


def test_seed_moves_values_not_sizes():
    a, b = inputs.crawl_plan(1, DOCS, 100, 3, 40), inputs.crawl_plan(2, DOCS, 100, 3, 40)
    assert [len(w) for w in a.waves] == [len(w) for w in b.waves]
    assert len(inputs.long_rows(1, 5, 10, 6)) > 0
    assert [q.family for q in inputs.read_back_queries(1)] == list(inputs.QUERY_FAMILIES)


def test_crawl_waves_plant_copies_and_recrawls():
    plan = inputs.crawl_plan(3, DOCS, 100, 2, 40)
    seed = dict(plan.seed_docs)
    for wave in plan.waves:
        copies = [(i, t) for i, t in wave if i >= 100_000_000]
        recrawls = [(i, t) for i, t in wave if i in seed]
        assert len(copies) == len(recrawls) == 4
        assert all(t in seed.values() for _, t in copies)
        assert all(t != seed[i] for i, t in recrawls)


@pytest.fixture(scope="module")
def spark():
    from coronavirus_dashboard_pipeline_etl_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    yield s


def test_planted_wrong_answer_counts_as_failed(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.plans import main_pipeline, serving
    from perfbench import checks, workloads
    from perfbench.trace import Tracer

    rows = inputs.long_rows(1, 5, 10, n_areas=6)
    src = str(tmp_path / "rows.parquet")
    inputs.write_parquet(rows, inputs.LONG_SCHEMA, src)
    st = {"store": str(tmp_path / "store"), "latest_release": 1}
    main_pipeline.write_store(spark.read.parquet(src), st["store"])
    run = workloads.Run(spark, Tracer(spark, False), str(tmp_path / "run"), 1, 1)
    q = inputs.Query("latest_metrics", (("cumAdmissions", "newAdmissions"),))

    def read_back():
        got = workloads.serving_query(spark, st, q).collect()
        return checks.serving(run, st, q, got)

    assert run.attempt("honest", read_back)
    assert (run.attempted, run.failed) == (1, 0)

    honest = serving.latest_metrics
    monkeypatch.setattr(
        serving, "latest_metrics",
        lambda *a, **k: honest(*a, **k).withColumn("value", F.col("value") + 1),
    )
    assert not run.attempt("planted", read_back)
    assert (run.attempted, run.failed) == (2, 1)  # failed / attempted rose to 0.5


def test_benchmark_json_lists_what_the_run_prints():
    import json

    from perfbench import run

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, os.pardir, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (n, run.unit_of(n)) for n in run.per_layer_names()
    ]
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
