"""Third-leg parity tests: pure-pandas replays of the REFERENCE's own
semantics, run on small adversarial fixtures and compared against the
Spark operators.

Why a third leg (r8 verdict item 4): the DuckDB gate oracles are
hand-written from the same reading of the reference as the Spark
implementation, so a misreading can pass the gate while diverging from
the reference (exactly what happened to trim_sides' trailing strip in
r8 — the oracle encoded the same bounded-mask bug). These tests derive
the expected output from the reference's actual engine — pandas — by
re-implementing each cited pandas chain step for step, independent of
both the Spark code and the SQL oracles.

Covered (the rewritten-semantics family the r8 verdict listed):
  A1-A4/A9  change_by_sum        db_etl/processors/rolling.py:84-233
  A8        pair summation       db_etl/processors/derived_metrics.py:103-137
  W1/W2/W3  normalise_records    db_etl/processors/normalisation.py:26-89
  sup1      suppression          msoa_etl_db/processor.py:211-227
  H1        keyed row hash       db_etl_upload/uploader.py:143-179
  J9        release delta        chunk_etl_postprocessing/vaccinations/queries.py:22-91
  J4        homogenise dates     db_etl/processors/homogenisation.py:29-79
  W5        tail trim            db_etl/processors/trimmer.py:40-50
  W6        centered mean        db_etl_homepage_graphs/utils.py:105
  W8        weekly thinning      msoa_etl_db/processor.py:68-78
  (W4 trim_sides already has its third leg: the reference's own golden
  fixture in test_main_pipeline.py plus the r9 empirical pandas runs.)
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest


def _nan_eq(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) < 1e-9
    return a == b


def _assert_frames_match(got: dict, exp: dict, label: str) -> None:
    assert set(got) == set(exp), (
        f"{label}: key sets differ: only-spark={set(got) - set(exp)} "
        f"only-pandas={set(exp) - set(got)}"
    )
    bad = [
        (k, got[k], exp[k])
        for k in sorted(got)
        if not all(_nan_eq(g, e) for g, e in zip(got[k], exp[k]))
    ]
    assert not bad, f"{label}: first mismatches: {bad[:5]}"


# ---------------------------------------------------------------- A1-A4/A9


def _ref_change_by_sum(
    pdf: pd.DataFrame,
    metric: str,
    min_sum_allowed: float | None = None,
    min_sum_sub: float | None = None,
) -> pd.DataFrame:
    """Reference ``change_by_sum`` replayed in pandas
    (db_etl/processors/rolling.py:84-233), per (areaType, areaCode):

    * rolling(7).sum() — pandas default min_periods = window, so the
      first 6 rows of every series are NaN (rolling.py:131-145);
    * min-sum substitution BEFORE everything else (rolling.py:165-166);
    * replace_all_zero: a group whose substituted rolling sums total 0
      goes all-NaN (rolling.py:58-62, applied at 176-180);
    * change = groupby diff(7); direction = sign of change mapped to
      DOWN/SAME/UP (rolling.py:51-55, 186-201);
    * pct = rolling(8) apply of calculate_percentage_change
      (rolling.py:65-77, 203-209) — min_periods 8, so any NaN inside
      the 8-row window nulls the result;
    * raw-null rows drop all four derived columns (rolling.py:220-223);
    * rows whose rolling sum equals min_sum_sub drop the four derived
      columns AND the raw metric (rolling.py:227-231).
    """
    d = pdf.sort_values(["areaType", "areaCode", "date"]).reset_index(drop=True)
    keys = ["areaType", "areaCode"]
    grp = d.groupby(keys, group_keys=False, sort=False)

    rsum = grp[metric].apply(lambda s: s.astype(float).rolling(7).sum())
    rsum = rsum.reset_index(drop=True)
    if min_sum_allowed is not None:
        rsum = rsum.where(~(rsum < min_sum_allowed), float(min_sum_sub))
    d["rsum"] = rsum

    def all_zero(s: pd.Series) -> pd.Series:
        return s.mask(pd.Series([s.sum() == 0] * len(s), index=s.index))

    d["rsum"] = grp["rsum"].apply(all_zero).reset_index(drop=True)

    d["chg"] = grp["rsum"].diff(7)
    d["dirn"] = d["chg"].map(
        lambda v: None if pd.isna(v) else ("DOWN" if v < 0 else "UP" if v > 0 else "SAME")
    )

    def pct_fn(w: pd.Series) -> float:
        cur, prev = w.iloc[7], w.iloc[0]
        if cur == 0 and prev > 0:
            return -100.0
        fraction = cur / (prev or 1) - 1
        if fraction == -1:
            return 0.0
        return fraction * 100

    d["pct"] = (
        grp["rsum"]
        .apply(lambda s: s.rolling(8).apply(pct_fn).round(1))
        .reset_index(drop=True)
    )

    raw_null = d[metric].isna()
    d.loc[raw_null, ["rsum", "chg", "dirn", "pct"]] = np.nan
    if min_sum_allowed is not None:
        sub_rows = d["rsum"] == float(min_sum_sub)
        d.loc[sub_rows, ["rsum", "chg", "dirn", "pct", metric]] = np.nan
    return d


def _change_fixture() -> pd.DataFrame:
    rows = []
    dates = [f"2021-03-{i:02d}" for i in range(1, 17)]
    # group A: ordinary series with a null at index 9 and a dip to zero
    vals_a = [3, 1, 4, 1, 5, 9, 2, 6, 5, None, 5, 8, 0, 7, 9, 3]
    # group B: all zeros -> replace_all_zero nulls the rolling sums
    vals_b = [0] * 16
    # group C: small counts so min_sum_allowed suppression triggers
    vals_c = [1, 0, 0, 1, 0, 0, 0, 1, 0, 0, 0, 0, 1, 9, 9, 9]
    for code, vals in (("A1", vals_a), ("B2", vals_b), ("C3", vals_c)):
        for dt, v in zip(dates, vals):
            rows.append(
                {"areaType": "ltla", "areaCode": code, "date": dt, "cases": v}
            )
    return pd.DataFrame(rows)


def _collect_change(sdf) -> dict:
    return {
        (r["areaCode"], r["date"]): (
            r["cases"],
            r["casesRollingSum"],
            r["casesChange"],
            r["casesDirection"],
            r["casesChangePercentage"],
        )
        for r in sdf.collect()
    }


def _expected_change(pdf: pd.DataFrame, metric: str) -> dict:
    def clean(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return v

    return {
        (r["areaCode"], r["date"]): (
            clean(r[metric]),
            clean(r["rsum"]),
            clean(r["chg"]),
            clean(r["dirn"]),
            clean(r["pct"]),
        )
        for _, r in pdf.iterrows()
    }


def test_change_by_sum_matches_pandas_reference(spark):
    from coronavirus_dashboard_pipeline_etl_spark.operators.rolling import (
        change_by_sum,
    )

    pdf = _change_fixture()
    sdf = spark.createDataFrame(
        pdf.astype({"cases": "float64"}),
        "areaType string, areaCode string, date string, cases double",
    )

    got = _collect_change(change_by_sum(sdf, ["cases"]))
    exp = _expected_change(_ref_change_by_sum(pdf.copy(), "cases"), "cases")
    _assert_frames_match(got, exp, "change_by_sum plain")

    got_s = _collect_change(
        change_by_sum(sdf, ["cases"], min_sum_allowed=3, min_sum_sub=-1)
    )
    exp_s = _expected_change(
        _ref_change_by_sum(pdf.copy(), "cases", min_sum_allowed=3, min_sum_sub=-1),
        "cases",
    )
    _assert_frames_match(got_s, exp_s, "change_by_sum suppressed")


# --------------------------------------------------------------------- A8


def test_pair_summation_matches_pandas_min_count(spark):
    """Reference pair summation is ``sum(axis=1, min_count=2)``
    (derived_metrics.py:128-134): the pair sum exists only when BOTH
    sides are present."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.derived import (
        calculate_pair_summations,
    )

    pdf = pd.DataFrame(
        {
            "id": range(6),
            "first": [1.0, None, 3.0, None, 0.0, -2.5],
            "second": [2.0, 5.0, None, None, 0.0, 2.5],
        }
    )
    expected = pdf[["first", "second"]].sum(axis=1, min_count=2)

    sdf = spark.createDataFrame(pdf)
    out = calculate_pair_summations(sdf, [("first", "second", "both")])
    got = {r["id"]: r["both"] for r in out.collect()}
    for i in range(6):
        e = expected.iloc[i]
        assert _nan_eq(got[i], None if pd.isna(e) else float(e)), (
            i,
            got[i],
            e,
        )


# ---------------------------------------------------------------- W1/W2/W3


def _ref_normalise(
    pdf: pd.DataFrame, zero_filled: list[str], cumulative: list[str]
) -> pd.DataFrame:
    """Reference ``normalise_records`` replayed
    (db_etl/processors/normalisation.py:26-89): per areaCode and per
    column, rows with date >= first non-null date and date < LAST
    non-null date (strict upper bound!) are zero-filled / forward
    filled; areaName is propagated from the group's non-null values."""
    d = pdf.sort_values(["areaType", "areaCode", "date"]).reset_index(drop=True)
    for col in zero_filled + cumulative:
        for code in d["areaCode"].unique():
            g = d["areaCode"] == code
            valid = d.loc[g & d[col].notna(), "date"]
            if valid.empty:
                continue
            window = g & (d["date"] >= valid.min()) & (d["date"] < valid.max())
            if col in zero_filled:
                d.loc[window, col] = d.loc[window, col].fillna(0)
            else:
                d.loc[window, col] = d.loc[g, col].ffill()[window]
    if "areaName" in d.columns:
        for code in d["areaCode"].unique():
            g = d["areaCode"] == code
            names = d.loc[g, "areaName"].dropna().unique()
            if len(names):
                d.loc[g, "areaName"] = names[0]
        d["areaNameLower"] = d["areaName"].str.lower()
    return d


def test_normalise_records_matches_pandas_reference(spark):
    from coronavirus_dashboard_pipeline_etl_spark.operators.normalise import (
        normalise_records,
    )

    dates = [f"2021-05-{i:02d}" for i in range(1, 11)]
    pdf = pd.DataFrame(
        {
            "areaType": ["ltla"] * 20,
            "areaCode": ["X1"] * 10 + ["Y2"] * 10,
            "areaName": (
                [None, None, "Xton", None, None, None, "Xton", None, None, None]
                + [None, "Yham", None, None, None, None, None, None, None, None]
            ),
            "date": dates * 2,
            # leading nulls, interior null, trailing nulls: the bounds
            # matter (zero-fill/ffill stop BEFORE the last valid date)
            "newCases": [None, None, 5, None, 7, None, None, 2, None, None]
            + [None, 1, None, None, None, None, 3, None, None, None],
            "cumCases": [None, None, 5, None, 12, None, None, 14, None, None]
            + [None, 1, None, None, None, None, 4, None, None, None],
        }
    )
    expected = _ref_normalise(pdf.copy(), ["newCases"], ["cumCases"])

    sdf = spark.createDataFrame(
        pdf,
        "areaType string, areaCode string, areaName string, date string, "
        "newCases double, cumCases double",
    )
    out = normalise_records(
        sdf, zero_filled=["newCases"], cumulative=["cumCases"]
    )
    got = {
        (r["areaCode"], r["date"]): (
            r["newCases"],
            r["cumCases"],
            r["areaName"],
            r["areaNameLower"],
        )
        for r in out.collect()
    }
    exp = {
        (r.areaCode, r.date): (
            None if pd.isna(r.newCases) else r.newCases,
            None if pd.isna(r.cumCases) else r.cumCases,
            r.areaName,
            r.areaNameLower,
        )
        for r in expected.itertuples()
    }
    _assert_frames_match(got, exp, "normalise_records")


# -------------------------------------------------------------------- sup1


def test_suppression_matches_pandas_reference(spark):
    """Reference suppression is ``.where(df[rsum] > 2, None)``
    (msoa_etl_db/processor.py:211-227): values survive only where the
    rolling sum is strictly greater than 2 — NaN rolling sums fail the
    comparison and are suppressed too."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.suppress import (
        suppress_by_rolling_sum,
    )

    pdf = pd.DataFrame(
        {
            "id": range(6),
            "rollingSum": [0.0, 2.0, 2.5, 3.0, None, 10.0],
            "rollingRate": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            "change": [9.0, 8.0, 7.0, 6.0, 5.0, 4.0],
        }
    )
    stats = ["rollingSum", "rollingRate", "change"]
    expected = pdf.copy()
    expected[stats] = expected[stats].where(expected["rollingSum"] > 2, None)

    sdf = spark.createDataFrame(
        pdf, "id long, rollingSum double, rollingRate double, change double"
    )
    out = suppress_by_rolling_sum(sdf, "rollingSum", stats, threshold=2)
    got = {r["id"]: tuple(r[c] for c in stats) for r in out.collect()}
    exp = {
        r.id: tuple(
            None if pd.isna(getattr(r, c)) else getattr(r, c) for c in stats
        )
        for r in expected.itertuples()
    }
    _assert_frames_match(got, exp, "suppress_by_rolling_sum")


# ---------------------------------------------------------------------- H1


def test_row_hash_matches_reference_blake2s(spark):
    """Reference row id: keyed blake2s(digest_size=12) over the
    column-wise stringified concatenation — ``astype(str).sum(axis=1)``
    then ``blake2s(x, key=RECORD_KEY, digest_size=12)``
    (db_etl_upload/uploader.py:156-179). Null cells stringify to
    'None' (pandas object-dtype astype(str)); the null-collapse fix of
    r8 (coalesce per COLUMN, not over the whole concat) is exactly
    what this pins."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.hashing import (
        row_hash_blake2,
    )

    key = b"third-leg-test-key"
    pdf = pd.DataFrame(
        {
            "date": ["2021-01-01", "2021-01-02", None],
            "area_type": ["ltla", None, "utla"],
            "area_code": ["E1", "E2", "E3"],
            "metric_id": [7, 8, None],
            "release_id": [3, 3, 3],
        }
    )
    cols = ["date", "area_type", "area_code", "metric_id", "release_id"]
    # pandas astype(str) renders missing values as 'None' only for
    # object dtype; build the concatenation cell-by-cell the way the
    # reference's object-dtype frame does (its id columns are ints from
    # the DB, so render whole-number floats the int way — the float
    # dtype here is only the fixture's None-upcast artifact)
    def cell(v) -> str:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "None"
        if isinstance(v, float) and v.is_integer():
            return str(int(v))
        return str(v)

    concat = pdf[cols].astype(object).apply(
        lambda row: "".join(cell(v) for v in row), axis=1
    )
    expected = concat.map(
        lambda s: hashlib.blake2s(
            s.encode(), key=key, digest_size=12
        ).hexdigest()
    )

    sdf = spark.createDataFrame(
        pdf.astype(object).where(pdf.notna(), None),
        "date string, area_type string, area_code string, "
        "metric_id long, release_id long",
    )
    out = row_hash_blake2(sdf, cols, key=key)
    got = {r["area_code"]: r["hash"] for r in out.collect()}
    for i, r in enumerate(pdf.itertuples()):
        assert got[r.area_code] == expected.iloc[i], (
            r.area_code,
            got[r.area_code],
            expected.iloc[i],
        )


# ---------------------------------------------------------------------- J9


def test_release_delta_matches_pandas_reference(spark):
    """Reference publish-delta (vaccinations/queries.py:22-91): today's
    per-group value LEFT JOINed to the previous release's, delta =
    GREATEST(today - prev, 0) with a missing previous release treated
    as 0 (a brand-new series publishes its full value)."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.asof import (
        latest_two_releases_delta,
    )

    pdf = pd.DataFrame(
        [
            # ordinary growth
            ("E1", "dose1", 1, 100.0),
            ("E1", "dose1", 2, 130.0),
            ("E1", "dose1", 3, 150.0),
            # revision downward -> clamped to 0
            ("E2", "dose1", 2, 90.0),
            ("E2", "dose1", 3, 80.0),
            # brand-new series at release 3 -> full value
            ("E3", "dose1", 3, 42.0),
        ],
        columns=["area_code", "metric", "release_id", "value"],
    )

    def ref_delta(g: pd.DataFrame) -> float:
        g = g.sort_values("release_id")
        today = g["value"].iloc[-1]
        prev = g["value"].iloc[-2] if len(g) > 1 else 0.0
        return max(today - prev, 0.0)

    expected = {
        k: ref_delta(g) for k, g in pdf.groupby(["area_code", "metric"])
    }

    sdf = spark.createDataFrame(pdf)
    out = latest_two_releases_delta(
        sdf, ["area_code", "metric"], "release_id", "value"
    )
    got = {(r["area_code"], r["metric"]): r["delta"] for r in out.collect()}
    assert got == expected


# ---------------------------------------------------------------------- J4


def test_homogenise_dates_matches_pandas_reference(spark):
    """Reference densify (db_etl/processors/homogenisation.py:29-79):
    the scaffold is every (areaType, areaCode) pair crossed with the
    GLOBAL min..max date range — a code whose series starts late still
    gets rows back to the global start."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.homogenise import (
        homogenise_dates,
    )

    pdf = pd.DataFrame(
        [
            ("ltla", "E1", "2021-01-02", 5.0),
            ("ltla", "E1", "2021-01-05", 7.0),
            ("utla", "U9", "2021-01-04", 1.0),
        ],
        columns=["areaType", "areaCode", "date", "cases"],
    )
    # pandas replay: global date span x every (type, code) pair
    span = pd.date_range("2021-01-02", "2021-01-05").strftime("%Y-%m-%d")
    pairs = pdf[["areaType", "areaCode"]].drop_duplicates()
    scaffold = pairs.merge(pd.DataFrame({"date": span}), how="cross")
    expected = scaffold.merge(
        pdf, how="left", on=["areaType", "areaCode", "date"]
    )

    sdf = spark.createDataFrame(
        pdf, "areaType string, areaCode string, date string, cases double"
    )
    out = homogenise_dates(sdf).withColumn(
        "date", F.date_format("date", "yyyy-MM-dd")
    )
    got = {
        (r["areaType"], r["areaCode"], r["date"]): r["cases"]
        for r in out.collect()
    }
    exp = {
        (r.areaType, r.areaCode, r.date): (
            None if pd.isna(r.cases) else r.cases
        )
        for r in expected.itertuples()
    }
    _assert_frames_match(
        {k: (v,) for k, v in got.items()},
        {k: (v,) for k, v in exp.items()},
        "homogenise_dates",
    )



@pytest.mark.parametrize("frequency", ["D", "W"])
@pytest.mark.parametrize("span", ["global", "group_min"])
def test_homogenise_release_wide_nesting_values_match_pandas(spark, span, frequency):
    """The release-wide spans: every area carries the release's whole
    nesting-value set, a null member included when any area reported
    one; ``global`` spans the release's dates and ``group_min`` runs
    from the area's own first date to the release's last."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.homogenise import (
        homogenise_dates,
    )

    rows = [
        ("ltla", "E1", "2021-01-06", "a", 5.0),
        ("ltla", "E1", "2021-01-20", "b", 7.0),
        ("utla", "U9", "2021-01-12", None, 1.0),
    ]
    pdf = pd.DataFrame(rows, columns=["areaType", "areaCode", "date", "band", "cases"])
    hi = pdf["date"].max()
    parts = []
    for (t, c), g in pdf.groupby(["areaType", "areaCode"]):
        lo = pdf["date"].min() if span == "global" else g["date"].min()
        dates = pd.date_range(lo, hi, freq=frequency).strftime("%Y-%m-%d")
        parts.append(
            pd.DataFrame({"areaType": t, "areaCode": c, "date": dates}).merge(
                pd.DataFrame({"band": ["a", "b", None]}), how="cross"
            )
        )
    keys = ["areaType", "areaCode", "band", "date"]
    exp = {
        tuple(k): None
        for k in pd.concat(parts)[keys].itertuples(index=False)
    }
    for r in pdf.itertuples():  # the outer merge keeps off-scaffold rows
        exp[(r.areaType, r.areaCode, r.band, r.date)] = r.cases

    sdf = spark.createDataFrame(
        rows, "areaType string, areaCode string, date string, band string, cases double"
    )
    out = homogenise_dates(
        sdf, frequency=frequency, extra_keys=("band",), span=span
    )
    got = {(r.areaType, r.areaCode, r.band, r.date): r.cases for r in out.collect()}
    assert got == exp


# ---------------------------------------------------------------------- W5


def test_trim_end_matches_pandas_reference(spark):
    """Reference tail trim (db_etl/processors/trimmer.py:40-50):
    metrics masked with ``where(date <= max_date - days)`` — a pure
    string-date comparison against the frame's global max."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.trim import trim_end

    dates = [f"2021-02-{i:02d}" for i in range(1, 11)]
    pdf = pd.DataFrame(
        {
            "date": dates * 2,
            "areaCode": ["A"] * 10 + ["B"] * 10,
            "cases": [float(i) for i in range(20)],
            "deaths": [float(i * 2) for i in range(20)],
            "untouched": [float(i * 3) for i in range(20)],
        }
    )
    import datetime as _dt

    cutoff = (
        _dt.datetime.strptime(max(dates), "%Y-%m-%d")
        - _dt.timedelta(days=5)
    ).strftime("%Y-%m-%d")
    expected = pdf.copy()
    expected[["cases", "deaths"]] = expected[["cases", "deaths"]].where(
        expected["date"] <= cutoff, None
    )

    sdf = spark.createDataFrame(pdf)
    out = trim_end(sdf, ["cases", "deaths", "missing_col"], days_to_trim=5)
    got = {
        (r["areaCode"], r["date"]): (r["cases"], r["deaths"], r["untouched"])
        for r in out.collect()
    }
    exp = {
        (r.areaCode, r.date): (
            None if pd.isna(r.cases) else r.cases,
            None if pd.isna(r.deaths) else r.deaths,
            r.untouched,
        )
        for r in expected.itertuples()
    }
    _assert_frames_match(got, exp, "trim_end")


# ---------------------------------------------------------------------- W6


def test_centered_rolling_mean_matches_pandas_reference(spark):
    """Reference viz smoothing (db_etl_homepage_graphs/utils.py:105):
    ``rolling(7, center=True).mean()`` — window rows [-3, +3],
    min_periods defaults to the window so edges and any null-bearing
    window yield NaN."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.rolling import (
        rolling_mean_centered,
    )

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, None, 2.0, 6.0, 5.0, 3.0, 5.0, 8.0]
    dates = [f"2021-03-{i:02d}" for i in range(1, len(vals) + 1)]
    pdf = pd.DataFrame(
        {
            "areaType": "nation",
            "areaCode": "E92",
            "date": dates,
            "cases": vals,
        }
    )
    expected = pd.Series(vals, dtype="float64").rolling(7, center=True).mean()

    sdf = spark.createDataFrame(
        pdf, "areaType string, areaCode string, date string, cases double"
    )
    out = rolling_mean_centered(sdf, "cases", "smoothed")
    got = {r["date"]: r["smoothed"] for r in out.collect()}
    for i, dt in enumerate(dates):
        e = expected.iloc[i]
        assert _nan_eq(got[dt], None if pd.isna(e) else float(e)), (
            dt,
            got[dt],
            e,
        )


# ---------------------------------------------------------------------- W8


def test_weekly_thin_matches_pandas_reference(spark):
    """Reference weekly grid (msoa_etl_db/processor.py:68-78):
    ``date_range(end=release-5d, start=..., freq='-7D')`` — keep the
    dates that lie on the 7-day grid counting back from the anchor."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.suppress import (
        weekly_thin,
    )

    dates = pd.date_range("2021-04-01", "2021-04-24").strftime("%Y-%m-%d")
    pdf = pd.DataFrame({"date": list(dates), "v": range(len(dates))})
    # the reference's descending range: start = anchor (release - 5d),
    # stepping -7D down to the span's first date
    anchor = pd.Timestamp(max(dates)) - pd.Timedelta(days=5)
    grid = set(
        pd.date_range(start=anchor, end=min(dates), freq="-7D").strftime(
            "%Y-%m-%d"
        )
    )

    sdf = spark.createDataFrame(pdf, "date string, v long")
    got = {r["date"] for r in weekly_thin(sdf, anchor_offset_days=5).collect()}
    assert got == grid
