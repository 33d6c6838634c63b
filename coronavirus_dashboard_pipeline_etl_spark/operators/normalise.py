"""Record normalisation: bounded zero-fill, bounded forward-fill, and
areaName propagation.

Re-expresses ``db_etl/processors/normalisation.py:26-147`` — which loops
per areaCode in Python — as three window expressions over a single
``partitionBy(areaCode [, nesting]) orderBy(date)`` exchange. The
reference's per-area Python loop is O(areas × rows); this is one pass.

pandas-parity notes:

* Fill bounds are *strict* on the upper end: rows are filled only where
  ``min_valid_date <= date < max_valid_date`` (``normalisation.py:58-66``).
  The row at ``max_valid_date`` is non-null by construction so the strict
  bound is observable only for rows *after* the last valid date — they
  stay null.
* ``areaName`` is propagated from the first non-null name per areaCode in
  date order (``normalisation.py:70-73``).
* Groups are keyed by ``areaCode`` alone (not areaType) — matching
  ``d.areaCode == areaCode`` exactly.
* ``areaNameLower`` is appended when areaName exists
  (``normalisation.py:88-89``).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, Window, functions as F


def _valid_bounds(col: str, w_group):
    """min/max date over the rows where `col` is non-null, per group."""
    valid_date = F.when(F.col(col).isNotNull(), F.col("date"))
    return F.min(valid_date).over(w_group), F.max(valid_date).over(w_group)


def normalise_records(
    df: DataFrame,
    zero_filled: Iterable[str] = (),
    cumulative: Iterable[str] = (),
    group_keys: Sequence[str] = ("areaCode",),
    date_col: str = "date",
) -> DataFrame:
    """Bounded zero-fill + bounded ffill + areaName propagation.

    Mirrors ``normalise_records`` (normalisation.py:26-89).

    Every output column depends only on its own input column, so the
    whole normalisation is ONE projection (``withColumns``) regardless
    of metric count — a ~120-metric panel stays a 1-node plan addition
    instead of a 120-deep ``withColumn`` chain.
    """
    zero_filled = sorted(set(zero_filled) & set(df.columns))
    cumulative = sorted(set(cumulative) & set(df.columns))

    keys = list(group_keys)
    w_group = Window.partitionBy(*keys)
    w_ffill = (
        Window.partitionBy(*keys)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_first = (
        Window.partitionBy(*keys)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )

    out: dict[str, F.Column] = {}
    for col in zero_filled:
        lo, hi = _valid_bounds(col, w_group)
        # typed zero: lit(0.0) would coerce DECIMAL metric columns to
        # double and silently lose exact arithmetic downstream
        zero = F.lit(0).cast(df.schema[col].dataType)
        out[col] = F.when(
            F.col(col).isNull()
            & (F.col(date_col) >= lo)
            & (F.col(date_col) < hi),
            zero,
        ).otherwise(F.col(col))

    for col in cumulative:
        lo, hi = _valid_bounds(col, w_group)
        out[col] = F.when(
            F.col(col).isNull()
            & (F.col(date_col) >= lo)
            & (F.col(date_col) < hi),
            F.last(F.col(col), ignorenulls=True).over(w_ffill),
        ).otherwise(F.col(col))

    if "areaName" in df.columns:
        name = F.first("areaName", ignorenulls=True).over(w_first)
        out["areaName"] = name
        out["areaNameLower"] = F.lower(name)

    return df.withColumns(out)


def normalise_demographics_records(
    df: DataFrame,
    nesting_param: str,
    zero_filled: Iterable[str] = (),
    cumulative: Iterable[str] = (),
    date_col: str = "date",
) -> DataFrame:
    """Nested-path normalisation (``normalisation.py:97-147``).

    Differences from the flat path, per the reference:
    * zero-filled metrics are blanket zero-filled (no bounds);
    * cumulative metrics are zero-seeded at each AREA'S OWN min date so
      all bands share a starting point (the reference runs per-area
      chunks, so its ``d.date.min()`` is the area's first date — round
      10), then ffilled within the valid range per (areaCode, nesting
      value).
    """
    zero_filled = sorted(set(zero_filled) & set(df.columns))
    cumulative = sorted(set(cumulative) & set(df.columns))

    # stage 1 (one projection): blanket zero-fills, areaName propagation,
    # and the cumulative zero-seed at each area's own min date
    stage1: dict[str, F.Column] = {}
    for col in zero_filled:
        zero = F.lit(0).cast(df.schema[col].dataType)
        stage1[col] = F.coalesce(F.col(col), zero)

    if "areaName" in df.columns:
        w_area = (
            Window.partitionBy("areaCode")
            .orderBy(date_col)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        name = F.first("areaName", ignorenulls=True).over(w_area)
        stage1["areaName"] = name
        stage1["areaNameLower"] = F.lower(name)

    if cumulative:
        # zero-seed the first date across all bands
        # (normalisation.py:128-133). The reference runs per-AREA
        # chunks, so ``d.date.min()`` is that area's own first date —
        # a global scalar min would skip the seed for every area that
        # starts later than the earliest one (found by the composed
        # reference-exec parity test, round 10).
        w_amin = (
            Window.partitionBy("areaCode")
            .orderBy(date_col)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        df = df.withColumn("__area_min_date", F.min(date_col).over(w_amin))
        for col in cumulative:
            zero = F.lit(0).cast(df.schema[col].dataType)
            stage1[col] = F.when(
                (F.col(date_col) == F.col("__area_min_date"))
                & F.col(col).isNull(),
                zero,
            ).otherwise(F.col(col))
    df = df.withColumns(stage1).drop("__area_min_date")

    if cumulative:
        # stage 2 (one projection): bounded ffill over the seeded values —
        # a separate projection because the fill window must observe the
        # stage-1 seeds
        keys = ["areaCode", nesting_param]
        w_group = Window.partitionBy(*keys)
        w_ffill = (
            Window.partitionBy(*keys)
            .orderBy(date_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        stage2: dict[str, F.Column] = {}
        for col in cumulative:
            lo, hi = _valid_bounds(col, w_group)
            stage2[col] = F.when(
                F.col(col).isNull()
                & (F.col(date_col) >= lo)
                & (F.col(date_col) < hi),
                F.last(F.col(col), ignorenulls=True).over(w_ffill),
            ).otherwise(F.col(col))
        df = df.withColumns(stage2)

    return df
