"""Canonical-name relabel join (J5) and all-null row pruning (P6).

* ``relabel_area_names`` — drop the incoming areaType/areaName columns
  and left-join the canonical ones from the geog reference list
  (``db_etl/processors/match_area_names.py:53-68``). The reference frame
  is a few-thousand-row dimension: always broadcast.
* ``drop_empty_rows`` — ``dropna(how="all")`` over the metric columns
  (``db_etl_upload/uploader.py:90``); with ``weekly_metrics`` given, also
  drops null rows of those metrics regardless of the other columns
  (the weekly-cadence dropna, ``db_etl_upload/uploader.py:444-475``).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast


def relabel_area_names(
    df: DataFrame,
    geog: DataFrame,
    join_keys: Sequence[str] = ("areaCode",),
    relabel_cols: Sequence[str] = ("areaType", "areaName"),
) -> DataFrame:
    """Replace ``relabel_cols`` with the canonical values carried by the
    broadcast ``geog`` dimension (left join: rows with no canonical entry
    keep null labels, matching the reference's left merge)."""
    keep = [c for c in df.columns if c not in relabel_cols]
    dim = geog.select(*join_keys, *relabel_cols)
    return df.select(*keep).join(broadcast(dim), on=list(join_keys), how="left")


# reference format_weekly_metrics extras (uploader.py:444-452): metrics
# with weekly cadence whose names do not contain "weekly"
WEEKLY_EXTRA_METRICS = (
    "weeklyPeopleVaccinatedFirstDoseByVaccinationDate",
    "weeklyPeopleVaccinatedSecondDoseByVaccinationDate",
    "alertLevel",
    "transmissionRateMin",
    "transmissionRateMax",
    "transmissionRateGrowthRateMin",
    "transmissionRateGrowthRateMax",
)


def drop_weekly_metric_nulls(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Upload-side weekly dropna (``format_weekly_metrics``,
    ``uploader.py:444-475``): rows belonging to weekly-cadence metrics —
    ``metric`` contains "weekly" case-insensitively, or is one of
    ``WEEKLY_EXTRA_METRICS`` — are dropped when their payload is null
    (daily metrics keep their null rows for the store's dense series).
    Pure row filter, no shuffle."""
    is_weekly = F.lower(F.col("metric")).contains("weekly") | F.col(
        "metric"
    ).isin(*WEEKLY_EXTRA_METRICS)
    return df.filter(~(is_weekly & F.col(payload_col).isNull()))


def drop_empty_rows(
    df: DataFrame,
    value_cols: Iterable[str],
    weekly_metrics: Iterable[str] = (),
) -> DataFrame:
    """Drop rows where EVERY value column is null; then, for weekly-cadence
    metrics (long format: ``metric``/``payload`` columns), drop null
    payload rows entirely."""
    value_cols = [c for c in value_cols if c in df.columns]
    if value_cols:
        df = df.na.drop(how="all", subset=value_cols)
    weekly = sorted(set(weekly_metrics))
    if weekly and "metric" in df.columns and "payload" in df.columns:
        df = df.filter(
            ~(F.col("metric").isin(weekly) & F.col("payload").isNull())
        )
    return df
