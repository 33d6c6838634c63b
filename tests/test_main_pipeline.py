"""End-to-end EP1 test on an F1-shaped nested-JSON fixture (FIXTURES.md):
date gaps, a negative value, cumulative series with holes, short series —
asserting the reference pipeline semantics survive the full composition.
"""

import json
import math

import pytest
from pyspark.sql import functions as F

from coronavirus_dashboard_pipeline_etl_spark.config import MetricConfig
from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
    build_panel,
    process_panel,
    to_long_store,
)

CONFIG = MetricConfig(
    sum_change_direction=frozenset({"newCasesBySpecimenDate"}),
    rolling_rate=frozenset({"newCasesBySpecimenDate"}),
    incidence_rate=frozenset({"cumCasesBySpecimenDate"}),
    negative_to_zero=frozenset({"newCasesBySpecimenDate"}),
    fill_with_zeros=frozenset({"newCasesBySpecimenDate"}),
    start_with_zero=frozenset({"cumCasesBySpecimenDate"}),
    trim_end=frozenset({"newCasesBySpecimenDate"}),
)


def fixture_json():
    days = [f"2021-01-{d:02d}" for d in range(1, 21)]
    new_cases = [
        {"date": d, "value": v}
        for d, v in zip(days, [5, -3, 4, 0, 2, 6, 1, 3, 2, 4, 5, 1, 0, 2, 3, 4, 1, 2, 3, 4])
        if d != "2021-01-05"  # gap -> homogenise + zero-fill must repair
    ]
    cum_cases = [
        {"date": d, "value": v}
        for d, v in zip(days, range(100, 120))
        if d not in ("2021-01-03", "2021-01-04")  # hole -> ffill
    ]
    return {
        "nations": {
            "E92000001": {
                "name": {"value": "England"},
                "newCasesBySpecimenDate": new_cases,
                "cumCasesBySpecimenDate": cum_cases,
            }
        },
        "utlas": {
            "E06000001": {
                "name": {"value": "Hartlepool"},
                "newCasesBySpecimenDate": [
                    {"date": d, "value": 2} for d in days[:4]  # short series
                ],
            }
        },
    }


@pytest.fixture(scope="module")
def processed(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("release") / "release.json"
    p.write_text(json.dumps(fixture_json()))
    panel = build_panel(spark, str(p))
    population = spark.createDataFrame(
        [("E92000001", 56_000_000.0), ("E06000001", 93_000.0)],
        "areaCode string, population double",
    )
    out = process_panel(panel, population, CONFIG, release_timestamp="2021-01-21T00:00:005Z")
    return {r["areaCode"] + "|" + r["date"]: r.asDict() for r in out.collect()}


def test_panel_densified_and_zero_filled(processed):
    # the missing 2021-01-05 row exists and the new-cases gap is zero-filled
    row = processed["E92000001|2021-01-05"]
    assert row["newCasesBySpecimenDate"] == 0.0


def test_negative_clipped(processed):
    assert processed["E92000001|2021-01-02"]["newCasesBySpecimenDate"] == 0.0


def test_cumulative_ffilled(processed):
    assert processed["E92000001|2021-01-03"]["cumCasesBySpecimenDate"] == 101.0
    assert processed["E92000001|2021-01-04"]["cumCasesBySpecimenDate"] == 101.0


def test_area_name_propagated(processed):
    assert processed["E92000001|2021-01-05"]["areaName"] == "England"
    assert processed["E06000001|2021-01-02"]["areaNameLower"] == "hartlepool"


def test_rolling_sum_min_periods(processed):
    # leading sub-7 windows PUBLISH 0 (the reference's groupby().sum()
    # min_count=0 coercion, generic_rate.py:88-96); day 7 = 5 +
    # 0(clipped) + 4 + 0 + 0(zero-filled gap) + 6 + 1 = 16
    assert processed["E92000001|2021-01-06"]["newCasesBySpecimenDateRollingSum"] == 0.0
    assert processed["E92000001|2021-01-07"]["newCasesBySpecimenDateRollingSum"] == 16.0


def test_rolling_rate_per_100k(processed):
    v = processed["E92000001|2021-01-07"]["newCasesBySpecimenDateRollingRate"]
    assert v == round(16 / 56_000_000 * 100_000, 1)


def test_incidence_rate(processed):
    v = processed["E92000001|2021-01-01"]["cumCasesBySpecimenDateRate"]
    assert v == round(100 / 56_000_000 * 100_000, 1)


def test_trim_end_masks_last_5_days(processed):
    # global max date 2021-01-20; dates after the 15th are masked
    assert processed["E92000001|2021-01-16"]["newCasesBySpecimenDate"] is None
    assert processed["E92000001|2021-01-15"]["newCasesBySpecimenDate"] is not None


@pytest.mark.parametrize("frame_keys", [("k",), None])
def test_trim_end_masks_against_the_frame_max_date(spark, frame_keys):
    """Area a reports through day 20 and area b stops at day 12: with
    ``frame_keys`` each area is masked after its own max date - 5, and
    without them both are masked after the whole frame's."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.trim import trim_end

    rows = [("a", d) for d in range(1, 21)] + [("b", d) for d in range(1, 13)]
    df = spark.createDataFrame(
        [(k, f"2021-01-{d:02d}", float(d), float(d)) for k, d in rows],
        ["k", "date", "v", "untouched"],
    )
    out = trim_end(df, ["v", "absent"], days_to_trim=5, frame_keys=frame_keys)
    assert out.columns == df.columns
    cutoff = {"a": 15, "b": 7} if frame_keys else {"a": 15, "b": 15}
    got = {(r.k, int(r.date[-2:])): (r.v, r.untouched) for r in out.collect()}
    assert got == {
        (k, d): (float(d) if d <= cutoff[k] else None, float(d)) for k, d in rows
    }


def test_short_series_all_null_rolling(processed):
    for d in range(1, 5):
        v = processed[f"E06000001|2021-01-{d:02d}"]["newCasesBySpecimenDateRollingSum"]
        assert v is None


def test_long_store_rows(spark, processed, tmp_path_factory):
    p = tmp_path_factory.mktemp("release2") / "release.json"
    p.write_text(json.dumps(fixture_json()))
    population = spark.createDataFrame(
        [("E92000001", 56_000_000.0), ("E06000001", 93_000.0)],
        "areaCode string, population double",
    )
    panel = process_panel(build_panel(spark, str(p)), population, CONFIG)
    long = to_long_store(panel, release_id=7, hash_key=b"testkey")
    rows = long.collect()
    assert rows, "long store must not be empty"
    one = rows[0]
    assert set(long.columns) >= {
        "area_type", "area_code", "date", "metric", "payload", "hash",
        "partition_id", "release_id",
    }
    assert one["payload"].startswith('{"value":')
    assert len(one["hash"]) == 24  # 12-byte keyed blake2s hex
    groups = {r["partition_id"] for r in rows}
    assert groups <= {"other", "utla", "ltla", "nhstrust", "msoa"}


def test_trim_sides_reference_golden_fixture(spark):
    """Parity with the reference's own unit test: trim_sides on its
    captured fixture must keep exactly 14 rows x 9 columns
    (/root/reference/db_etl_upload/tests/test_uploader.py:21-27, fixture
    test_data-trim_sides.csv). The variants metric's nested payloads take
    the non-numeric fallback path; its tail is preserved."""
    import pandas as pd

    from coronavirus_dashboard_pipeline_etl_spark.operators import trim_sides

    fixture = "/root/reference/db_etl_upload/tests/test_data-trim_sides.csv"
    pdf = pd.read_csv(fixture, dtype=str)
    sdf = spark.createDataFrame(pdf.where(pd.notnull(pdf), None))
    out = trim_sides(sdf)
    assert len(out.columns) == 9
    assert out.count() == 14


def test_trim_sides_keeps_preexisting_null_payloads(spark):
    """The reference NaNs whole masked rows then dropna(how='all')
    (uploader.py:74-90): a payload that was already null keeps its key
    columns and survives into the store. Only strip-masked rows vanish."""
    from pyspark.sql import Row

    from coronavirus_dashboard_pipeline_etl_spark.operators import trim_sides

    rows = [
        Row(
            area_type="nation",
            area_code="E1",
            metric="m",
            date=f"2024-01-{d:02d}",
            payload=p,
        )
        for d, p in [
            (1, "0"),
            (2, "1"),   # first nonzero -> lead strip covers rows 1..3
            (3, "2"),
            (4, "3"),
            (5, None),  # pre-existing null INSIDE the kept region
            (6, "4"),
            (7, "5"),
            (8, "6"),   # trail strip: last valid (8) and predecessor (7)
        ]
    ]
    out = trim_sides(spark.createDataFrame(rows))
    got = {(r["date"], r["payload"]) for r in out.collect()}
    assert got == {
        ("2024-01-04", "3"),
        ("2024-01-05", None),
        ("2024-01-06", "4"),
    }


def test_trim_sides_degenerate_series_pass_through(spark):
    """All-null series and series whose leading strip nulls everything
    are left untouched (reference continues before write-back,
    uploader.py:63-78)."""
    from pyspark.sql import Row

    from coronavirus_dashboard_pipeline_etl_spark.operators import trim_sides

    def series(metric, payloads):
        return [
            Row(
                area_type="nation",
                area_code="E1",
                metric=metric,
                date=f"2024-01-{d:02d}",
                payload=p,
            )
            for d, p in enumerate(payloads, start=1)
        ]

    rows = series("allnull", [None, None, None]) + series("tiny", ["0", "1"])
    out = trim_sides(spark.createDataFrame(rows))
    got = {(r["metric"], r["date"]) for r in out.collect()}
    # allnull: no payload at all -> untouched; tiny: lead strip covers
    # both rows, no survivor -> untouched
    assert got == {
        ("allnull", "2024-01-01"),
        ("allnull", "2024-01-02"),
        ("allnull", "2024-01-03"),
        ("tiny", "2024-01-01"),
        ("tiny", "2024-01-02"),
    }


def test_drop_weekly_metric_nulls_name_driven(spark):
    """format_weekly_metrics parity (uploader.py:444-475): weekly-named
    metrics and the known extras lose their null-payload rows; daily
    metrics keep theirs."""
    from pyspark.sql import Row

    from coronavirus_dashboard_pipeline_etl_spark.operators import (
        drop_weekly_metric_nulls,
    )

    rows = [
        Row(metric="weeklyAdmissions", payload=None),
        Row(metric="weeklyAdmissions", payload="3"),
        Row(metric="WeeklyCamelCase", payload=None),   # case-insensitive
        Row(metric="alertLevel", payload=None),        # extras list
        Row(metric="newCasesBySpecimenDate", payload=None),  # daily: kept
    ]
    out = drop_weekly_metric_nulls(spark.createDataFrame(rows))
    got = {(r["metric"], r["payload"]) for r in out.collect()}
    assert got == {
        ("weeklyAdmissions", "3"),
        ("newCasesBySpecimenDate", None),
    }


def test_compact_store_merges_files_idempotently(spark, tmp_path):
    """compact_store must shrink a fragmented partition to its target
    file count without changing a single row, leave other partitions'
    data intact, and be re-runnable."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        compact_store,
    )

    path = str(tmp_path / "store")
    frag = (
        spark.range(0, 3000)
        .selectExpr(
            "concat('h', id) AS hash",
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS partition_id",
            "concat('{\"value\":', id, '}') AS payload",
        )
        .repartition(24)  # 24 files per partition
    )
    frag.write.mode("overwrite").partitionBy("partition_id").parquet(path)
    before = {r["hash"]: r["payload"] for r in spark.read.parquet(path).collect()}
    n_before = len(list((tmp_path / "store" / "partition_id=a").glob("*.parquet")))
    assert n_before > 1

    b_files = sorted((tmp_path / "store" / "partition_id=b").glob("*.parquet"))
    rep = compact_store(spark, path, partitions=["a"])
    assert rep["buckets_rewritten"] == 1 and rep["files_before"] == 48
    n_after = len(list((tmp_path / "store" / "partition_id=a").glob("*.parquet")))
    assert n_after == 1
    after = {r["hash"]: r["payload"] for r in spark.read.parquet(path).collect()}
    assert after == before  # rows identical, partition b untouched
    assert sorted((tmp_path / "store" / "partition_id=b").glob("*.parquet")) == b_files

    # idempotent re-run: the compacted partition is clean and skipped
    rep = compact_store(spark, path, partitions=["a"])
    assert rep["buckets_rewritten"] == 0 and rep["files_after"] == 25
    again = {r["hash"]: r["payload"] for r in spark.read.parquet(path).collect()}
    assert again == before


def test_row_hash_blake2b_private_report_slug(spark):
    # blake2b digest_size=20 parity with the reference's private-report
    # record ids (private_report/process.py:124-127: blake2b over
    # %Y%m%d with key=RECORD_KEY)
    from hashlib import blake2b, blake2s

    from coronavirus_dashboard_pipeline_etl_spark.operators.hashing import (
        row_hash_blake2,
    )

    df = spark.createDataFrame(
        [("20240501",), ("20240502",)], "record_date string"
    )
    key = b"test-record-key"
    out = {
        r["record_date"]: r["slug"]
        for r in row_hash_blake2(
            df, ["record_date"], out="slug", digest_size=20, key=key,
            algo="blake2b",
        ).collect()
    }
    for d in ("20240501", "20240502"):
        assert out[d] == blake2b(
            d.encode(), digest_size=20, key=key
        ).hexdigest()
        assert len(out[d]) == 40

    # default algo unchanged: keyed blake2s
    s = row_hash_blake2(df, ["record_date"], key=key).collect()[0]
    assert s["hash"] == blake2s(
        s["record_date"].encode(), digest_size=12, key=key
    ).hexdigest()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        row_hash_blake2(df, ["record_date"], algo="md5")


def test_bucketed_store_aggregates_without_exchange(spark, tmp_path):
    """The bucketed writer's whole point: a groupBy on the bucket keys
    plans with NO shuffle (the 100 TB serving win bench measures as
    serve_bucketed_latest). Asserted on the physical plan here so a
    regression (bucket spec lost, wrong keys) fails fast, not slow."""
    import uuid

    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        write_store_bucketed,
    )

    table = f"bucketed_probe_{uuid.uuid4().hex[:8]}"
    df = spark.createDataFrame(
        [(f"A{i % 5}", "m", f"2024-01-0{1 + i % 9}", float(i)) for i in range(40)],
        "area_code string, metric string, date string, value double",
    ).withColumn("payload", F.col("value").cast("string")).withColumn(
        "partition_id", F.lit("test")
    )
    try:
        write_store_bucketed(df, table, buckets=4)
        agg = (
            spark.table(table)
            .groupBy("area_code", "metric")
            .agg(F.max("date").alias("latest"))
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert agg.count() == 5
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_trim_sides_trailing_nulls_drop(spark):
    """Trailing strip parity: the reference's
    ``dm.loc[last_valid - 1:, :] = NaN`` (uploader.py:86) is an
    UNBOUNDED label slice, so rows after the last valid payload
    (pre-existing trailing nulls) are swept into the mask and dropped
    by ``dropna(how='all')`` — verified by running the reference
    pandas function on this exact series. Here the lead strip covers
    rows 1-4 and the trail strip rows 5-8: nothing survives."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.trim import trim_sides

    rows = [
        ("ltla", "E1", "cases", f"2021-01-0{i+1}", v)
        for i, v in enumerate([0.0, 0.0, 5.0, 3.0, 2.0, 1.0, None, None])
    ]
    df = spark.createDataFrame(
        rows, "area_type string, area_code string, metric string, date string, payload double"
    )
    assert trim_sides(df).count() == 0

    # a longer plateau: [0,1,2,3,4,5,null,null] — lead strip rows 1-3,
    # trail strip rows 5-8 (last valid row 6, predecessor, and the two
    # trailing nulls). Only row 4 survives — matches the reference
    # pandas run byte-for-byte.
    rows1b = [
        ("ltla", "E3", "cases", f"2021-01-0{i+1}", v)
        for i, v in enumerate([0.0, 1.0, 2.0, 3.0, 4.0, 5.0, None, None])
    ]
    df1b = spark.createDataFrame(
        rows1b, "area_type string, area_code string, metric string, date string, payload double"
    )
    got1b = [(r.date, r.payload) for r in trim_sides(df1b).collect()]
    assert got1b == [("2021-01-04", 3.0)]

    # interior nulls OUTSIDE the strips also survive: they are never
    # masked (null at row 4 — past the lead cut of rows 1-3, before the
    # trailing pair rows 6-7)
    rows2 = [
        ("ltla", "E2", "cases", f"2021-01-0{i+1}", v)
        for i, v in enumerate([0.0, 1.0, 3.0, None, 5.0, 6.0, 7.0])
    ]
    df2 = spark.createDataFrame(
        rows2, "area_type string, area_code string, metric string, date string, payload double"
    )
    got2 = sorted((r.date, r.payload) for r in trim_sides(df2).collect())
    assert got2 == [("2021-01-04", None), ("2021-01-05", 5.0)]


def test_merge_upsert_store_semantics(spark, tmp_path):
    """merge_upsert_store (main_pipeline.py): the first batch starts the
    store; a later batch updates conflicting hashes, inserts new ones,
    leaves untouched partitions' files alone, and dedups in-batch
    identities by max payload string (one merged row per key through
    read_store); the affected-partition guard raises loudly."""
    import os

    import pytest

    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        merge_upsert_store,
        read_store,
    )

    path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [
            ("h1", "p0", "old1", 1),
            ("h2", "p0", "old2", 1),
            ("h3", "p1", "old3", 1),
        ],
        "hash string, partition_id string, payload string, release_id long",
    )
    merge_upsert_store(base, path)  # no store yet -> plain write
    p1_files = sorted(os.listdir(f"{path}/partition_id=p1"))

    batch = spark.createDataFrame(
        [
            ("h1", "p0", "newA", 2),  # conflict -> replaces old1
            ("h1", "p0", "newB", 2),  # in-batch dup -> max wins (newB)
            ("h9", "p0", "ins9", 2),  # insert
        ],
        "hash string, partition_id string, payload string, release_id long",
    )
    merge_upsert_store(batch, path)
    merged = read_store(spark, path).collect()
    got = {(r.hash, r.partition_id): (r.payload, r.release_id) for r in merged}
    assert len(merged) == len(got)
    assert got == {
        ("h1", "p0"): ("newB", 2),
        ("h2", "p0"): ("old2", 1),
        ("h9", "p0"): ("ins9", 2),
        ("h3", "p1"): ("old3", 1),
    }
    # untouched partition: same files, not rewritten
    assert sorted(os.listdir(f"{path}/partition_id=p1")) == p1_files

    with pytest.raises(ValueError, match="partitions"):
        merge_upsert_store(batch, path, max_affected_partitions=0)


def _per_family_long(panel, id_vars):
    """Test-side reference for ``to_long_store``'s melt: each type family
    melted on its own -> trim_sides -> weekly dropna -> JSON wrap, then
    the two families unioned."""
    from coronavirus_dashboard_pipeline_etl_spark.operators import (
        drop_weekly_metric_nulls,
        trim_sides,
    )
    from coronavirus_dashboard_pipeline_etl_spark.operators.nesting import (
        wrap_payload,
    )

    skip = set(id_vars) | {"areaNameLower"}
    num = [
        c
        for c, t in panel.dtypes
        if c not in skip and (t in ("double", "bigint") or t.startswith("decimal"))
    ]
    strs = [c for c in panel.columns if c not in skip and c not in num]
    parts = []
    for family in (num, strs):
        part = panel.melt(
            ids=id_vars, values=family,
            variableColumnName="metric", valueColumnName="payload",
        )
        part = part.withColumnRenamed("areaType", "area_type").withColumnRenamed(
            "areaCode", "area_code"
        )
        part = drop_weekly_metric_nulls(trim_sides(part))
        parts.append(part.withColumn("payload", wrap_payload(F.col("payload"))))
    return parts[0].unionByName(parts[1])


@pytest.mark.parametrize(
    "drop, weekly_type, cum_payload",
    [
        ((), "double", '{"value":405.0}'),
        (("newCases",), "bigint", '{"value":405.00}'),
    ],
    ids=["double_widens_numeric", "decimal_widens_numeric"],
)
def test_one_melt_matches_per_family_melt(spark, drop, weekly_type, cum_payload):
    """``to_long_store`` melts both type families in one pass; its rows
    must equal the per-family reference, including each family's widened
    payload rendering (bigint next to double renders 405.0, next to a
    decimal 405.00)."""
    n = 10
    nan = float("nan")

    def series(area, i):
        leading = area == "E2" and i < 3  # E2's cumulative starts late
        return (
            "nation" if area == "E1" else "utla",
            area,
            f"name {area}",
            f"2021-02-{i + 1:02d}",
            "2021-02-11T00:00:00Z",
            f"name {area}".lower(),
            # double with zero lead-in and a NaN
            0.0 if i < 2 else (nan if i == 5 else float(i)),
            # bigint cumulative
            None if leading else 400 + i,
            # decimal rate
            None if i == 9 else f"{i}.25",
            # Direction string, with a numeric-looking cell
            None if i == 0 else ("1.5" if i == 4 else ("UP" if i % 2 else "DOWN")),
            None,  # all-null string series
            # weekly metric: interior and trailing nulls
            float(i) if i % 3 == 0 and i < 7 else None,
            # exempt variants: leading zero/null and a trailing null
            None if i in (1, 9) else ("0" if i == 0 else f"v{i}"),
        )

    schema = (
        "areaType string, areaCode string, areaName string, date string, "
        "releaseTimestamp string, areaNameLower string, newCases double, "
        "cumCases bigint, rate string, newCasesDirection string, "
        "emptyDirection string, newCasesWeekly double, variants string"
    )
    panel = (
        spark.createDataFrame(
            [series(a, i) for a in ("E1", "E2") for i in range(n)], schema
        )
        .withColumn("rate", F.col("rate").cast("decimal(10,2)"))
        .withColumn("newCasesWeekly", F.col("newCasesWeekly").cast(weekly_type))
        .drop(*drop)
    )
    id_vars = ["areaType", "areaCode", "areaName", "date", "releaseTimestamp"]
    want = _per_family_long(panel, id_vars)
    got = to_long_store(panel, release_id=3)
    assert got.columns[: len(want.columns)] == want.columns
    got_rows = sorted(map(tuple, got.select(*want.columns).collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows
    cum = {r[-1] for r in want_rows if r[1] == "E1" and r[5] == "cumCases"}
    assert cum_payload in cum, cum
    # "1.5" is numeric to trim_sides: the Direction series' leading
    # strip runs through the row after it
    direction = {r[3] for r in want_rows if r[5] == "newCasesDirection"}
    assert min(direction) == "2021-02-07", direction


def _publish_chain(spark, path):
    population = spark.createDataFrame(
        [("E92000001", 56_000_000.0), ("E06000001", 93_000.0)],
        "areaCode string, population double",
    )
    return to_long_store(
        process_panel(build_panel(spark, path), population, CONFIG), release_id=7
    )


def test_publish_plan_runs_the_chain_once(spark, tmp_path):
    """One publish melts once over both type families, sorts nothing
    globally and reads the parsed release instead of re-scanning its
    text."""
    import re

    p = tmp_path / "release.json"
    p.write_text(json.dumps(fixture_json()))
    plan = (
        _publish_chain(spark, str(p))._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"\bExpand \[", plan)) == 1, plan
    assert "rangepartitioning" not in plan
    assert "FileScan text" not in plan


def test_consecutive_publishes_hold_one_rolling_pin(spark, tmp_path):
    """Two publishes in a row leave pinned at most the last publish's
    rolling checkpoints (the parsed release and the homogenise stats):
    nothing on the publish path pins blocks for the rest of the
    session."""
    from coronavirus_dashboard_pipeline_etl_spark import store
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        write_store,
    )

    p = tmp_path / "release.json"
    p.write_text(json.dumps(fixture_json()))
    sc = spark.sparkContext
    before = store._persistent_rdd_ids(sc)
    for _ in range(2):
        write_store(_publish_chain(spark, str(p)), str(tmp_path / "store"))
    pinned = store._persistent_rdd_ids(sc) - before
    rolling = set().union(
        *(
            ids
            for (owner, sc_id), (_, ids) in store._ROLLING.items()
            if owner in ("build_panel", "homogenise_dates") and sc_id == id(sc)
        )
    )
    assert pinned <= rolling, pinned
