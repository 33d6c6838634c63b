"""Serving-layer tests on an F10-shaped star fixture: two consecutive
releases, >=4 dates per area, three dose metrics."""

import json

import pytest
from pyspark.sql import functions as F

from coronavirus_dashboard_pipeline_etl_spark.plans import serving

DOSES = (
    "cumVaccinationFirstDoseUptakeByPublishDatePercentage",
    "cumVaccinationSecondDoseUptakeByPublishDatePercentage",
    "cumVaccinationThirdInjectionUptakeByPublishDatePercentage",
)


@pytest.fixture(scope="module")
def star(spark):
    areas = spark.createDataFrame(
        [(1, "nation", "E92000001", "England"), (2, "utla", "E06000001", "Hartlepool")],
        "area_id int, area_type string, area_code string, area_name string",
    )
    metrics = spark.createDataFrame(
        [(10, "newCasesBySpecimenDate"), (11, DOSES[0]), (12, DOSES[1]), (13, DOSES[2])],
        "metric_id int, metric string",
    )
    releases = spark.createDataFrame(
        [(100, "2021-05-01"), (101, "2021-05-02")], "id int, timestamp string"
    )
    rows = []
    for area_id in (1, 2):
        for i, d in enumerate(["2021-04-28", "2021-04-29", "2021-04-30", "2021-05-01"]):
            # cases metric across 4 dates, release 101
            rows.append((f"h{area_id}c{i}", 101, area_id, 10, d, json.dumps({"value": 100 + i})))
        # dose metrics at the latest date only (dose3 missing for area 2)
        rows.append((f"h{area_id}d1", 101, area_id, 11, "2021-05-01", json.dumps({"value": 88.5})))
        rows.append((f"h{area_id}d2", 101, area_id, 12, "2021-05-01", json.dumps({"value": 77.0})))
        if area_id == 1:
            rows.append((f"h{area_id}d3", 101, area_id, 13, "2021-05-01", json.dumps({"value": 55.1})))
    # release 100 (previous day's snapshot) for the delta query
    rows.append(("p1", 100, 1, 11, "2021-05-01", json.dumps({"value": 88.0})))
    rows.append(("p2", 100, 2, 11, "2021-05-01", json.dumps({"value": 89.0})))  # decrease -> clamp
    ts = spark.createDataFrame(
        rows,
        "hash string, release_id int, area_id int, metric_id int, date string, payload string",
    )
    return {"ts": ts, "areas": areas, "metrics": metrics, "releases": releases}


def test_latest_metrics(star):
    out = serving.latest_metrics(star["ts"], star["areas"], star["metrics"],
                                 metric_names=["newCasesBySpecimenDate"])
    got = {r["area_code"]: r for r in out.collect()}
    assert got["E92000001"]["date"] == "2021-05-01"
    assert got["E92000001"]["value"] == 103.0


def test_latest_n_dates(star):
    out = serving.latest_n_dates(star["ts"], star["areas"], star["metrics"], n=3,
                                 metric_names=["newCasesBySpecimenDate"])
    dates = {r["date"] for r in out.filter(F.col("area_code") == "E92000001").collect()}
    assert dates == {"2021-04-29", "2021-04-30", "2021-05-01"}


def test_dose_alignment_full_outer(star):
    out = serving.dose_alignment(
        star["ts"], star["areas"], star["metrics"], release_id=101
    )
    got = {r["area_code"]: r for r in out.collect()}
    assert got["E92000001"]["third_dose"] == 55.1
    assert got["E06000001"]["third_dose"] is None  # missing dose-3 -> null, row kept
    assert got["E06000001"]["first_dose"] == 88.5


def test_release_over_release_delta(star):
    out = serving.release_over_release_delta(
        star["ts"], star["metrics"], DOSES[0]
    )
    got = {r["area_id"]: r["delta"] for r in out.collect()}
    assert got[1] == pytest.approx(0.5)  # 88.5 - 88.0
    assert got[2] == 0.0  # 88.5 - 89.0 clamped


def test_area_percentiles(star):
    out = serving.area_percentiles(
        star["ts"], star["areas"], star["metrics"], "newCasesBySpecimenDate"
    )
    got = {r["area_type"]: r for r in out.collect()}
    assert got["nation"]["p50"] == 103.0
    assert got["nation"]["min"] == 103.0


def test_landing_cache_rows(star):
    out = serving.landing_cache_rows(
        star["ts"], star["areas"], star["metrics"], ["newCasesBySpecimenDate"]
    )
    got = {r["cache_key"]: r for r in out.collect()}
    key = "nation|E92000001|newCasesBySpecimenDate"
    recs = json.loads(got[key]["cache_value"])
    assert recs[0] == {"date": "2021-05-01", "value": 103.0}
    assert len(recs) == 4


def test_age_band_values_reference_golden(spark):
    """Parity with the reference waffle-chart test
    (db_etl_homepage_graphs/tests/test_waffle_chart.py:32-37): the 75+
    band of its captured payload fixture must yield vaccination_date
    4178999 and percentage 48."""
    import hashlib
    import importlib.util

    from coronavirus_dashboard_pipeline_etl_spark.plans.serving import age_band_values

    path = "/root/reference/db_etl_homepage_graphs/tests/test_data/db_data.py"
    # same untrusted-content pin as test_reference_function_oracle's
    # _REF_SHA256: never exec un-reviewed reference code
    digest = hashlib.sha256(open(path, "rb").read()).hexdigest()
    assert digest == (
        "7dd188a5327b8677b58a3a88f01d4efb968f28deb7abc7ee1240f302b163a2a8"
    ), f"{path} changed since pinned ({digest}); re-review before exec"
    spec = importlib.util.spec_from_file_location("db_data", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    payload = [
        {
            "age": o.get("age"),
            "cumPeopleVaccinatedSpring23ByVaccinationDate": o.get(
                "cumPeopleVaccinatedSpring23ByVaccinationDate"
            ),
            "cumVaccinationSpring23UptakeByVaccinationDatePercentage": o.get(
                "cumVaccinationSpring23UptakeByVaccinationDatePercentage"
            ),
        }
        for o in mod.VACCINATIONS_QUERY_PLUS
    ]
    df = spark.createDataFrame(
        [("nation", "E92000001", "2022-11-17", payload)],
        "area_type string, area_code string, date string, payload array<struct<"
        "age string, cumPeopleVaccinatedSpring23ByVaccinationDate double, "
        "cumVaccinationSpring23UptakeByVaccinationDatePercentage double>>",
    )
    row = age_band_values(df).collect()[0]
    assert row["vaccination_date"] == 4178999
    assert row["vaccination_date_percentage_dose"] == 48


def test_colour_scale_binning_reference_golden(spark):
    """Parity with the reference's map-binning test
    (despatch_ops_workers/landing_page_map/tests/test_generate.py:77-87):
    its fixture must reduce the bin list to [0, 10, 50, 100]."""
    import pandas as pd

    from coronavirus_dashboard_pipeline_etl_spark.plans.serving import (
        colour_scale_binning,
    )

    pdf = pd.read_csv(
        "/root/reference/despatch_ops_workers/landing_page_map/tests/test_data.csv"
    )
    sdf = spark.createDataFrame(
        pdf[["areaType", "areaCode", "newCasesBySpecimenDateRollingRate"]]
    )
    assert colour_scale_binning(sdf) == [0, 10, 50, 100]


def test_map_layer_features_no_fact_shuffle(spark, star):
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.plans.serving import (
        map_layer_features,
    )

    ts, areas, metrics = star["ts"], star["areas"], star["metrics"]
    geo = spark.range(1, 3).select(
        F.col("id").alias("area_id"),
        F.lit("Point").alias("geometry_type"),
        F.array(F.lit(1).cast("long"), F.lit(2).cast("long")).alias("coordinates"),
    )
    out = map_layer_features(
        ts, areas, metrics, geo,
        metric="newCasesBySpecimenDate", area_type="nation",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every join is broadcast; the fact table is never exchanged by hash
    assert "Exchange hashpartitioning" not in plan
    rows = out.collect()
    assert rows and all(r.geometry.startswith('{"type":"Point"') for r in rows)


def test_area_percentiles_approx_tracks_exact(star):
    exact = serving.area_percentiles(
        star["ts"], star["areas"], star["metrics"], "newCasesBySpecimenDate"
    ).collect()
    approx = serving.area_percentiles(
        star["ts"], star["areas"], star["metrics"], "newCasesBySpecimenDate",
        approx=True,
    ).collect()
    ex = {(r.area_type, r.date): r for r in exact}
    for r in approx:
        e = ex[(r.area_type, r.date)]
        # at fixture scale the sketch holds every value: quantiles land
        # on real data points within one rank of the exact answer
        for q in ("p25", "p50", "p75"):
            assert abs(getattr(r, q) - getattr(e, q)) <= 1.0, (q, r, e)
        assert (r.min, r.max) == (e.min, e.max)


def test_landing_cache_multi_release_latest_wins(spark, star):
    """Regression: on a multi-release store the cache JSON must carry
    ONE record per (area, metric, date) — the latest release's value —
    not duplicates from every release (the DOSES[0] metric exists at
    2021-05-01 in BOTH releases of the fixture)."""
    import json as _json

    from coronavirus_dashboard_pipeline_etl_spark.plans import serving

    out = serving.landing_cache_rows(
        star["ts"], star["areas"], star["metrics"],
        metric_names=[DOSES[0]], value_cast="double",
    ).collect()
    assert out
    for r in out:
        recs = _json.loads(r.cache_value)
        dates = [x["date"] for x in recs]
        assert len(dates) == len(set(dates)), r.cache_key
    # and the surviving value is the LATEST release's (88.5, not 88.0)
    a1 = next(r for r in out if r.area_code == "E92000001")
    assert _json.loads(a1.cache_value)[0]["value"] == 88.5


def test_integral_value_casts_read_long_store_payloads(spark, tmp_path):
    """A store written by ``to_long_store`` renders a double metric as
    ``{"value":416.0}``. ``map_layer_features``' default bigint cast and
    ``landing_cache_rows(value_cast="bigint")`` must read it (a direct
    string-to-bigint cast raises CAST_INVALID_INPUT under ANSI mode)."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        to_long_store,
        write_store,
    )

    dates = [f"2021-05-{d:02d}" for d in range(1, 9)]
    panel = spark.createDataFrame(
        [("nation", "E92000001", d, float(410 + i)) for i, d in enumerate(dates)],
        "areaType string, areaCode string, date string, newCases double",
    )
    path = str(tmp_path / "store")
    write_store(to_long_store(panel, release_id=1), path)
    ts = spark.read.parquet(path).select(
        F.lit(1).alias("area_id"), F.lit(10).alias("metric_id"), "date", "payload"
    )
    assert ts.first().payload.endswith('.0}')
    areas = spark.createDataFrame(
        [(1, "nation", "E92000001")], "area_id int, area_type string, area_code string"
    )
    metrics = spark.createDataFrame([(10, "newCases")], "metric_id int, metric string")
    geo = spark.createDataFrame(
        [(1, "Point", [1, 2])], "area_id int, geometry_type string, coordinates array<bigint>"
    )
    feats = serving.map_layer_features(
        ts, areas, metrics, geo, metric="newCases", area_type="nation"
    ).collect()
    # trim_sides keeps the interior rows 2021-05-03 .. 2021-05-06
    assert sorted(json.loads(r.properties)["value"] for r in feats) == [412, 413, 414, 415]
    (cache,) = serving.landing_cache_rows(
        ts, areas, metrics, ["newCases"], value_cast="bigint"
    ).collect()
    assert [r["value"] for r in json.loads(cache.cache_value)] == [415, 414, 413, 412]
