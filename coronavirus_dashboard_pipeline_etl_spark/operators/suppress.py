"""MSOA small-count disclosure control + weekly output thinning.

Reference: ``msoa_etl_db/processor.py``:
* pre-suppression happens inside change_by_sum via
  ``min_sum_allowed=3, min_sum_sub=2`` (processor.py:279-281 →
  operators.rolling.change_by_sum arguments);
* ``suppress_by_rolling_sum`` — where the rolling sum is <= 2 (or null),
  null ALL stat columns (processor.py:211-226);
* weekly thinning — keep only dates on the ``date_range(end=max_date,
  freq="-7D")`` grid anchored at (latest date - 0): every 7th day counting
  back from the newest retained date (processor.py:67-93).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, functions as F

from ..config import MSOA_SUPPRESS_AT_OR_BELOW
from .util import with_scalars


def suppress_by_rolling_sum(
    df: DataFrame,
    rolling_sum_col: str,
    stat_cols: Iterable[str],
    threshold: float = MSOA_SUPPRESS_AT_OR_BELOW,
) -> DataFrame:
    """Null all stats where the rolling sum is <= threshold or missing.

    One projection for every stat column (the condition reads the
    rolling-sum column's ORIGINAL value even when it is itself in
    ``stat_cols`` — a chained build would null it first and change what
    later columns observe only accidentally)."""
    stat_cols = [c for c in stat_cols if c in df.columns]
    suppressed = (
        F.col(rolling_sum_col).isNull() | (F.col(rolling_sum_col) <= threshold)
    )
    return df.withColumns(
        {c: F.when(~suppressed, F.col(c)) for c in stat_cols}
    )


def weekly_thin(
    df: DataFrame, date_col: str = "date", anchor_offset_days: int = 0
) -> DataFrame:
    """Keep rows whose date lies on the weekly grid counting back from
    (global max date - anchor_offset_days).

    The reference anchors at the release date - 5 days
    (msoa_etl_orchestrator/orchestrator.py:249-254 → processor.py:73-78);
    with file data the anchor is the newest date after tail handling.
    """
    df = with_scalars(df, {"__anchor": F.max(date_col)})
    anchor = F.date_sub(F.to_date("__anchor"), anchor_offset_days)
    on_grid = (
        F.datediff(anchor, F.to_date(date_col)) % 7 == 0
    ) & (F.to_date(date_col) <= anchor)
    return df.filter(on_grid).drop("__anchor")
