"""Parity tests for the rolling family against a pandas oracle that
re-implements the reference semantics (db_etl/processors/rolling.py)
independently: rolling(7).sum min_periods, diff(7), direction,
calculate_percentage_change edge cases, replace_all_zero, min-sum
suppression.
"""

import math

import numpy as np
import pandas as pd
import pytest

from coronavirus_dashboard_pipeline_etl_spark.operators import change_by_sum


def oracle_change_by_sum(pdf, metric, min_sum_allowed=None, min_sum_sub=None):
    """pandas oracle implementing reference rolling.py semantics."""
    out = pdf.sort_values(["areaType", "areaCode", "date"]).copy()
    g = out.groupby(["areaType", "areaCode"], group_keys=False)
    rsum = g[metric].rolling(7, min_periods=7).sum().reset_index(level=[0, 1], drop=True)
    if min_sum_allowed is not None:
        rsum = rsum.where(~(rsum < min_sum_allowed), min_sum_sub)
    out["rsum"] = rsum
    # replace_all_zero per group
    def zero_grp(s):
        return s.mask(pd.Series(True, index=s.index)) if s.sum() == 0 else s
    out["rsum"] = out.groupby(["areaType", "areaCode"], group_keys=False)["rsum"].apply(zero_grp)
    out["chg"] = out.groupby(["areaType", "areaCode"], group_keys=False)["rsum"].diff(7)
    out["dirn"] = np.sign(out["chg"]).map({-1.0: "DOWN", 0.0: "SAME", 1.0: "UP"})

    def pct_change(win):
        cur, prev = win.iloc[7], win.iloc[0]
        if cur == 0 and prev > 0:
            return -100
        frac = (cur / (prev or 1)) - 1
        if frac == -1:
            return 0
        return frac * 100

    pct = (
        out.groupby(["areaType", "areaCode"], group_keys=False)["rsum"]
        .rolling(8, min_periods=8)
        .apply(pct_change)
        .round(1)
        .reset_index(level=[0, 1], drop=True)
    )
    out["pct"] = pct
    raw_null = out[metric].isna()
    out.loc[raw_null, ["rsum", "chg", "dirn", "pct"]] = np.nan
    if min_sum_allowed is not None:
        mask = out["rsum"] == min_sum_sub
        out.loc[mask, ["chg", "dirn", "pct", metric, "rsum"]] = np.nan
    return out


def panel_fixture():
    rng = np.random.RandomState(7)
    rows = []
    for at, ac in [("nation", "E92000001"), ("ltla", "E06000001"), ("ltla", "E06000002")]:
        dates = pd.date_range("2021-01-01", periods=40).strftime("%Y-%m-%d")
        vals = rng.randint(0, 50, size=40).astype(float)
        vals[5:9] = np.nan          # null run inside the series
        if ac == "E06000002":
            vals[:] = 0.0           # all-zero group -> replace_all_zero
        rows += [
            {"areaType": at, "areaCode": ac, "date": d, "m": v}
            for d, v in zip(dates, vals)
        ]
    # short series (< 7 rows) -> min_periods NaNs throughout
    rows += [
        {"areaType": "ltla", "areaCode": "E06000003", "date": d, "m": 3.0}
        for d in pd.date_range("2021-01-01", periods=4).strftime("%Y-%m-%d")
    ]
    # decreasing-to-zero series to hit the -100 and frac==-1 pct edges
    vals = [10, 10, 10, 10, 10, 10, 10] + [0] * 14
    rows += [
        {"areaType": "ltla", "areaCode": "E06000004", "date": d, "m": float(v)}
        for d, v in zip(pd.date_range("2021-01-01", periods=21).strftime("%Y-%m-%d"), vals)
    ]
    return pd.DataFrame(rows)


def _cmp(spark_df, oracle_pdf, metric):
    got = (
        spark_df.toPandas()
        .sort_values(["areaType", "areaCode", "date"])
        .reset_index(drop=True)
    )
    exp = oracle_pdf.sort_values(["areaType", "areaCode", "date"]).reset_index(drop=True)
    pairs = [
        (f"{metric}RollingSum", "rsum"),
        (f"{metric}Change", "chg"),
        (f"{metric}Direction", "dirn"),
        (f"{metric}ChangePercentage", "pct"),
        (metric, metric),
    ]
    for g_col, e_col in pairs:
        g = got[g_col]
        e = exp[e_col]
        for i in range(len(exp)):
            gv, ev = g.iloc[i], e.iloc[i]
            if isinstance(ev, float) and math.isnan(ev):
                assert gv is None or (isinstance(gv, float) and math.isnan(gv)), (
                    f"{g_col}[{i}] ({exp.areaCode[i]} {exp.date[i]}): got {gv}, want NaN"
                )
            elif ev is None or (not isinstance(ev, str) and pd.isna(ev)):
                assert gv is None or pd.isna(gv), f"{g_col}[{i}]: got {gv}, want null"
            elif isinstance(ev, str):
                assert gv == ev, f"{g_col}[{i}]: got {gv}, want {ev}"
            else:
                assert gv == pytest.approx(ev, abs=1e-9), (
                    f"{g_col}[{i}] ({exp.areaCode[i]} {exp.date[i]}): got {gv}, want {ev}"
                )


def test_change_by_sum_matches_pandas_oracle(spark):
    pdf = panel_fixture()
    sdf = change_by_sum(spark.createDataFrame(pdf), ["m"])
    _cmp(sdf, oracle_change_by_sum(pdf, "m"), "m")


def test_change_by_sum_with_suppression(spark):
    pdf = panel_fixture()
    sdf = change_by_sum(spark.createDataFrame(pdf), ["m"], min_sum_allowed=3, min_sum_sub=2)
    _cmp(sdf, oracle_change_by_sum(pdf, "m", min_sum_allowed=3, min_sum_sub=2), "m")


def test_rates_tail_mask_uses_global_last_date(spark):
    """generic_rate.py:113-117: non-event metrics are masked after the
    metric's GLOBAL last valid date. An area that stops reporting early
    keeps its trailing rolling values (they'd be nulled under a per-area
    rule)."""
    from pyspark.sql import Row

    from coronavirus_dashboard_pipeline_etl_spark.operators import calculate_rates

    rows = []
    for d in range(1, 15):
        # area A reports all 14 days; area B stops after day 10
        rows.append(
            Row(areaType="n", areaCode="A", date=f"2024-01-{d:02d}", cases=1.0)
        )
        rows.append(
            Row(
                areaType="n",
                areaCode="B",
                date=f"2024-01-{d:02d}",
                cases=1.0 if d <= 10 else None,
            )
        )
    pop = spark.createDataFrame(
        [Row(areaCode="A", population=1000), Row(areaCode="B", population=1000)]
    )
    out = calculate_rates(
        spark.createDataFrame(rows), pop, rolling_rate=["cases"], precision=None
    )
    got = {
        (r["areaCode"], r["date"]): r["casesRollingSum"] for r in out.collect()
    }
    # B's day-10 window (days 4-10, all non-null) survives: global last
    # valid date is 2024-01-14 (area A), so B is NOT masked at day 10
    assert got[("B", "2024-01-10")] == 7.0
    # B's days 11-14 windows contain nulls -> guarded sum null -> the
    # reference's min_count=0 coercion publishes 0, not null
    assert got[("B", "2024-01-12")] == 0.0
    # nothing is masked anywhere (global last date == global max date)
    assert all(v is not None for v in got.values())


@pytest.mark.parametrize("frame_keys", [("areaType", "areaCode"), None])
def test_rates_tail_rules_follow_the_frame(spark, frame_keys):
    """The event cutoff (frame max date - 5) and the non-event last
    valid date are taken per area with ``frame_keys`` and over the
    whole frame without them (generic_rate.py:107-117). Area A reports
    days 1-14; area B has rows for days 1-12 but its last valid value
    is day 10 (it stops reporting early)."""
    from pyspark.sql import Row

    from coronavirus_dashboard_pipeline_etl_spark.operators import calculate_rates

    rows = []
    for code, last_row, last_valid in (("A", 14, 14), ("B", 12, 10)):
        for d in range(1, last_row + 1):
            v = 1.0 if d <= last_valid else None
            rows.append(Row(
                areaType="n", areaCode=code, date=f"2024-01-{d:02d}",
                cases=v, newCasesBySpecimenDate=v,
            ))
    pop = spark.createDataFrame(
        [Row(areaCode="A", population=1000), Row(areaCode="B", population=1000)]
    )
    out = calculate_rates(
        spark.createDataFrame(rows), pop, rolling_rate=["cases", "newCasesBySpecimenDate"],
        precision=None, frame_keys=frame_keys,
    )
    assert "__max_date" not in out.columns and "__last_cases" not in out.columns
    got = {(r.areaCode, int(r.date[-2:])): r for r in out.collect()}

    def rolling(code, d):
        # 7-row windows of 1.0; a short or null-holding window publishes 0
        last_valid = 14 if code == "A" else 10
        return 7.0 if 7 <= d <= last_valid else 0.0

    if frame_keys:
        event_cutoff = {"A": 14 - 5, "B": 12 - 5}
        last_valid = {"A": 14, "B": 10}
    else:
        event_cutoff = {"A": 9, "B": 9}
        last_valid = {"A": 14, "B": 14}
    for (code, d), r in got.items():
        event = rolling(code, d) if d <= event_cutoff[code] else None
        plain = rolling(code, d) if d <= last_valid[code] else None
        assert r.newCasesBySpecimenDateRollingSum == event, (code, d)
        assert r.casesRollingSum == plain, (code, d)
        assert (r.newCasesBySpecimenDateRollingRate is None) == (event is None)
        assert (r.casesRollingRate is None) == (plain is None)
    assert len(got) == 14 + 12


def test_rolling_percentile_median_and_min_periods(spark):
    from coronavirus_dashboard_pipeline_etl_spark.operators.rolling import (
        rolling_percentile,
    )

    rows = [("A", f"2024-01-{d:02d}", float(v)) for d, v in
            zip(range(1, 9), [1, 100, 3, 4, 5, 6, 7, 8])]
    df = spark.createDataFrame(rows, "areaType string, date string, v double")
    out = rolling_percentile(
        df, "v", "med", group_keys=("areaType",), window=3, min_periods=3
    ).orderBy("date").collect()
    # first two rows lack min_periods -> null
    assert out[0].med is None and out[1].med is None
    # day 3 window [1, 100, 3] -> median 3 (outlier-robust, unlike mean)
    assert out[2].med == 3.0
    assert out[3].med == 4.0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="q must be"):
        rolling_percentile(df, "v", "med", q=1.5)


def test_age_standardised_rate_partial_coverage(spark):
    from coronavirus_dashboard_pipeline_etl_spark.operators.rates import (
        age_standardised_rate,
    )

    rows = [
        ("A", "2024-01-01", "young", 10.0),
        ("A", "2024-01-01", "old", 30.0),
        ("B", "2024-01-01", "young", 20.0),          # old band missing
        ("C", "2024-01-01", "unknown_band", 50.0),   # unmapped -> excluded
    ]
    df = spark.createDataFrame(rows, "areaCode string, date string, age string, rate double")
    out = {
        r.areaCode: r
        for r in age_standardised_rate(
            df, "rate", {"young": 0.6, "old": 0.4}, group_keys=("areaCode", "date")
        ).collect()
    }
    assert out["A"].asr == (0.6 * 10 + 0.4 * 30) / 1.0 and out["A"].n_bands == 2
    # partial coverage: denominator is only the present band's weight
    assert out["B"].asr == (0.6 * 20) / 0.6 and out["B"].n_bands == 1
    assert out["C"].asr is None and out["C"].n_bands == 0


def test_ewma_halving_matches_reference(spark):
    from coronavirus_dashboard_pipeline_etl_spark.operators.rolling import (
        ewma_halving,
    )

    rows = [("a", f"2024-01-{d:02d}", float(v)) for d, v in
            enumerate([10, 20, 40, 40, 0, 80], start=1)]
    df = spark.createDataFrame(rows, "g string, date string, v double")
    out = {
        r.date: r.ewma
        for r in ewma_halving(df, ["g"], "date", "v", lags=3).collect()
    }

    def expect(vals):
        # newest first weights 4, 2, 1 truncated to available
        w = [4, 2, 1][: len(vals)]
        vs = list(reversed(vals))[: len(w)]
        return sum(x * y for x, y in zip(vs, w)) / sum(w)

    series = [10, 20, 40, 40, 0, 80]
    for i, d in enumerate(sorted(out)):
        assert abs(out[d] - expect(series[: i + 1])) < 1e-9, (d, out[d])


def test_ewma_halving_groups_independent_and_validation(spark):
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.operators.rolling import (
        ewma_halving,
    )

    df = spark.createDataFrame(
        [("a", "d1", 10.0), ("b", "d1", 1000.0), ("a", "d2", 20.0)],
        "g string, date string, v double",
    )
    out = {(r.g, r.date): r.ewma
           for r in ewma_halving(df, ["g"], "date", "v", lags=4).collect()}
    assert out[("a", "d1")] == 10.0
    assert out[("b", "d1")] == 1000.0
    # a/d2: (20*8 + 10*4) / 12
    assert abs(out[("a", "d2")] - (20 * 8 + 10 * 4) / 12) < 1e-12
    with _pytest.raises(ValueError):
        ewma_halving(df, ["g"], "date", "v", lags=0)
