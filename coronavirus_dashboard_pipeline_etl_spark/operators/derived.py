"""Derived-metric operators: clipping, pair sums, adjacent-column fill,
ratio->percentage.

Reference semantics:
* ``negative_to_zero`` — ``d.loc[d[col] < 0, col] = 0`` over the
  NEGATIVE_TO_ZERO set (``db_etl/etl.py:925-935``).
* ``calculate_pair_summations`` — ``sum(axis=1, min_count=2)``: the output
  is null unless BOTH inputs are present
  (``db_etl/processors/derived_metrics.py:104-136``).
* ``calculate_by_adjacent_column`` — where the target is null on the
  *global latest date*, fill it with the per-(areaType, areaCode) max of
  the source column (``derived_metrics.py:24-101``).
* ``ratio_to_percentage`` — ``*100`` then round 1 dp (``db_etl/etl.py:961-972``,
  RATIO2PERCENTAGE set at ``:461-463``).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from .util import with_scalars


def negative_to_zero(df: DataFrame, metrics: Iterable[str]) -> DataFrame:
    metrics = sorted(set(metrics) & set(df.columns))
    for m in metrics:
        # typed zero keeps DECIMAL metric columns exact (lit(0.0) would
        # promote the whole column to double)
        zero = F.lit(0).cast(df.schema[m].dataType)
        df = df.withColumn(m, F.when(F.col(m) < 0, zero).otherwise(F.col(m)))
    return df


def calculate_pair_summations(
    df: DataFrame, pairs: Iterable[tuple[str, str, str]]
) -> DataFrame:
    """pairs: (left, right, out). Null unless both sides present."""
    for left, right, out in pairs:
        if left not in df.columns or right not in df.columns:
            continue
        df = df.withColumn(
            out,
            F.when(
                F.col(left).isNotNull() & F.col(right).isNotNull(),
                F.col(left) + F.col(right),
            ),
        )
    return df


def calculate_by_adjacent_column(
    df: DataFrame,
    columns: Iterable[tuple[str, str]],
    group_keys: Sequence[str] = ("areaType", "areaCode"),
    date_col: str = "date",
) -> DataFrame:
    """columns: (target, source). Fill target's latest-date nulls with the
    per-group max of source."""
    columns = [(t, s) for t, s in columns if s in df.columns]
    if not columns:
        return df
    w_group = Window.partitionBy(*group_keys)
    df = with_scalars(df, {"__max_date": F.max(date_col)})
    for target, source in columns:
        if target not in df.columns:
            df = df.withColumn(target, F.lit(None).cast("double"))
        fill = F.max(F.col(source)).over(w_group)
        df = df.withColumn(
            target,
            F.when(
                F.col(target).isNull() & (F.col(date_col) == F.col("__max_date")),
                fill,
            ).otherwise(F.col(target)),
        )
    return df.drop("__max_date")


def ratio_to_percentage(
    df: DataFrame, metrics: Iterable[str], precision: int = 1
) -> DataFrame:
    metrics = sorted(set(metrics) & set(df.columns))
    for m in metrics:
        df = df.withColumn(m, F.round(F.col(m) * 100, precision))
    return df
