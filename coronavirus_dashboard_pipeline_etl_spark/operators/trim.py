"""Trims: tail masking by freshness rule, and long-format side trimming.

* ``trim_end`` — event-date metrics are masked for the trailing N days
  relative to the frame's max date (``db_etl/processors/trimmer.py:40-50``;
  N=5 per ``db_etl/etl.py:466-472``).
* ``trim_sides`` — on the melted long frame, per (area, metric) series:
  null out the leading rows through one row past the first non-zero
  payload, and everything from one row before the last valid payload
  through the series end, then drop all-null rows
  (``db_etl_upload/uploader.py:55-90``). The
  ``variants`` metric is exempt from BOTH strips (the reference only
  writes its masks back for non-variants metrics).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..config import TAIL_TRIM_DAYS
from .util import with_scalars


def trim_end(
    df: DataFrame,
    metrics: Iterable[str],
    days_to_trim: int = TAIL_TRIM_DAYS,
    date_col: str = "date",
    frame_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Mask `metrics` where date > (the frame's max date - days_to_trim).

    The frame is one group of ``frame_keys``, or the whole of ``df``
    without them (``with_scalars`` decides how the max is taken). The
    reference's ``d.date.max()`` (trimmer.py:43-45) is the max of the
    frame it is called on; its main chain runs on one (areaType,
    areaCode) chunk per call (retrieve.py:147-163), so ``process_panel``
    passes those chunk keys and an early-stopping area is masked
    relative to its own last date, not the release's (found by the
    per-area composed reference-exec parity test, round 10).
    """
    metrics = sorted(set(metrics) & set(df.columns))
    if not metrics:
        return df
    df = with_scalars(df, {"__max_date": F.max(date_col)}, frame_keys)
    keep = F.to_date(date_col) <= F.date_sub(F.to_date("__max_date"), days_to_trim)
    return df.withColumns({m: F.when(keep, F.col(m)) for m in metrics}).drop("__max_date")


def trim_sides(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Strip unstable leading/trailing points of each long series
    (``area_type``, ``area_code``, ``metric``), ordered by ``date``.

    Semantics (uploader.py:55-90), per series ordered by date:
      1. leading strip: rows up to and including (first row where the
         running sum of |payload| becomes > 0) + 1 further row. If the
         payload is non-numeric (nested cells), fall back to the first
         non-null row.
      2. trailing strip: from (last surviving non-null row - 1),
         recomputed AFTER the leading strip, through the series END —
         the reference's ``dm.loc[last_valid - 1:, :] = NaN`` is an
         unbounded label slice, so trailing null-payload rows are
         swept away with the last two valid points.
      3. the reference NaNs the WHOLE masked row and finishes with
         ``dropna(how="all")`` (uploader.py:74-90): only strip-masked
         rows vanish. A payload that was already null keeps its key
         columns, so INTERIOR pre-existing nulls (between the two
         strips) SURVIVE into the store; leading/trailing ones fall
         inside the masks and are dropped.
      4. the strips are atomic per series and skipped for degenerate
         ones: a series with no non-null payload at all, or whose
         leading strip would null every remaining payload, is passed
         through untouched (the reference ``continue``s before writing
         the masked copy back, uploader.py:63-78).

    The ``variants`` metric skips BOTH strips: the reference computes
    the masks on a per-metric COPY and only writes it back inside the
    ``metric != "variants"`` branch (uploader.py:82-88), so
    variants rows reach the store untouched — verified against the
    reference's own golden fixture
    (db_etl_upload/tests/test_uploader.py:21-27).

    Expressed as two passes over one window exchange; no Python loop over
    metrics (the reference iterates per metric in the driver).
    """
    keys = ("area_type", "area_code", "metric")
    w = Window.partitionBy(*keys).orderBy("date")
    w_all = Window.partitionBy(*keys)

    # try_cast: nested/string payloads (direction cells, variants arrays)
    # are not numeric — they take the first-valid-index fallback exactly
    # like the reference's TypeError branch (uploader.py:66-70). A plain
    # cast would THROW under ANSI mode (Spark 4 default).
    abs_payload = F.abs(F.col(payload_col).try_cast("double"))
    df = df.withColumn("__rn", F.row_number().over(w))
    df = df.withColumn("__cumabs", F.sum(abs_payload).over(w))
    # first row where running |sum| > 0; fall back to first non-null row
    first_nonzero = F.min(F.when(F.col("__cumabs") > 0, F.col("__rn"))).over(w_all)
    first_valid = F.min(
        F.when(F.col(payload_col).isNotNull(), F.col("__rn"))
    ).over(w_all)
    exempt = F.col("metric") == "variants"
    lead_cut = F.coalesce(first_nonzero, first_valid) + 1
    lead_masked = F.col("__rn") <= lead_cut

    # last surviving non-null row AFTER the leading strip (the reference
    # recomputes last_valid_index on the masked copy)
    last_valid = F.max(
        F.when(F.col(payload_col).isNotNull() & ~lead_masked, F.col("__rn"))
    ).over(w_all)
    # UNBOUNDED to the series end: the reference's
    # ``dm.loc[last_valid - 1:, :] = NaN`` (uploader.py:86) is a label
    # slice with no right bound, so the last valid row, its
    # predecessor, AND every row after it (pre-existing trailing
    # null-payload rows included) become all-NaN and are removed by
    # ``dropna(how="all")``. Verified empirically against the
    # reference pandas code: [0,1,2,3,4,5,null,null] keeps only the
    # payload-3 row. (A bounded two-row mask was tried in r8 and was
    # wrong — only INTERIOR pre-existing nulls survive, per point 3.)
    trail_masked = F.col("__rn") >= last_valid - 1

    # both guards must hold or the series passes through untouched:
    # some payload exists (uploader.py:63) AND the leading strip leaves
    # a survivor (uploader.py:77-78 — last_valid null means it did not)
    strips_active = (
        (~exempt) & first_valid.isNotNull() & last_valid.isNotNull()
    )
    masked = strips_active & (lead_masked | trail_masked)
    # window expressions are not allowed in a WHERE clause — project the
    # mask, then filter on the plain column
    df = df.withColumn("__masked", masked)
    return df.filter(~F.col("__masked")).drop("__rn", "__cumabs", "__masked")
