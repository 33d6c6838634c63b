"""Per-100k rate calculation against broadcast population dimensions.

Re-expresses ``db_etl/processors/generic_rate.py:30-135``
(``calculate_rates``) and ``:138-228`` (``calculate_age_rates``):

* RollingSum = pandas rolling(7).sum() parity (see operators.rolling),
* RollingRate = round(RollingSum / population * 100_000, 1),
* tail rule: metrics named *SpecimenDate*/*DeathDate* are masked where
  date > the frame's max date - 5d; all others where date > the metric's
  last valid raw date in the frame,
* incidence rate = round(value / population * 100_000, 1) — no window.

The population frame is a few-thousand-row dimension: always broadcast
(J2 in SURVEY.md §2.3). At 100 TB of panel rows this join never shuffles
the fact side.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast

from ..config import (
    RATE_PER,
    RATE_PRECISION,
    ROLLING_WINDOW,
    SUFFIX_ROLLING_RATE,
    SUFFIX_ROLLING_SUM,
    TAIL_TRIM_DAYS,
)
from .rolling import rolling_sum_col
from .util import with_scalars


def calculate_rates(
    df: DataFrame,
    population: DataFrame,
    rolling_rate: Iterable[str] = (),
    incidence_rate: Iterable[str] = (),
    group_keys: Sequence[str] = ("areaType", "areaCode"),
    join_keys: Sequence[str] = ("areaCode",),
    date_col: str = "date",
    rate_per_n: int = RATE_PER,
    precision: int | None = RATE_PRECISION,
    tail_rules: bool = True,
    frame_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Add {m}RollingSum/{m}RollingRate and {m}Rate columns.

    ``population`` must carry ``join_keys`` + a ``population`` column.
    For the age-demographics variant pass group_keys=("areaType",
    "areaCode","age"), join_keys=("areaCode","age")
    (generic_rate.py:180-199).

    ``precision=None`` skips the reference's round-to-1dp — used by the
    cross-engine gate (decimal-rounding of doubles differs per engine)
    and callers that round at the edge. Decimal-typed metrics keep exact
    decimal rolling sums (associative => partition-order independent);
    rates always compute in IEEE double with a fixed (sum / pop) * per_n
    operation order.

    Leading-edge parity: the reference re-aggregates the rolling sum
    through a one-row-per-key ``groupby().sum()`` whose default
    ``min_count=0`` coerces every NaN rolling sum to 0.0
    (generic_rate.py:88-96) — so it PUBLISHES 0 for each area's first 6
    days (and any sub-7-observation window). We coalesce the guarded
    sum to a typed zero to match.

    Tail parity (generic_rate.py:107-117): event-dated metrics are
    masked after the frame's max date - 5 days, and every other metric
    after its own last valid date in the frame (``dropna().date.max()``).
    The frame is one group of ``frame_keys``, or the whole of ``df``
    without them (``with_scalars`` decides how the scalars are taken).
    The reference's main chain runs on one (areaType, areaCode) chunk
    per call (retrieve.py:147-163), so ``process_panel`` passes those
    chunk keys and the dates are that AREA's own (found by the per-area
    composed reference-exec parity test, round 10). Without
    ``frame_keys`` — the FUNCTION's verbatim behavior on a multi-area
    frame — areas that stop reporting early keep their trailing rolling
    values.

    ``tail_rules=False`` reproduces the AGE path (calculate_age_rates,
    generic_rate.py:139-214), which has NO live freshness mask: its
    ``date > max_date`` guard is inert (callers pass the frame max) and
    it has no last-valid rule — both masks above belong to the FLAT
    path only (established by the composed demographics reference-exec
    parity test, round 10).
    """
    rolling_rate = sorted(set(rolling_rate) & set(df.columns))
    incidence_rate = sorted(set(incidence_rate) & set(df.columns))
    if not rolling_rate and not incidence_rate:
        return df

    df = df.join(
        broadcast(population.select(*join_keys, "population")),
        on=list(join_keys),
        how="left",
    )

    w_roll = (
        Window.partitionBy(*group_keys)
        .orderBy(date_col)
        .rowsBetween(-(ROLLING_WINDOW - 1), 0)
    )
    dtypes = dict(df.dtypes)

    def raw(m: str) -> F.Column:
        keep_exact = dtypes.get(m, "").startswith("decimal")
        return F.col(m) if keep_exact else F.col(m).cast("double")

    def is_event(m: str) -> bool:
        return "SpecimenDate" in m or "DeathDate" in m

    # one projection for all sums + rates, one for all tail masks (the
    # mask must observe the computed columns)
    stage1: dict[str, F.Column] = {}
    for m in rolling_rate:
        guarded = rolling_sum_col(raw(m), w_roll)
        # min_count=0 coercion: NaN windows publish as typed zero
        keep_exact = dtypes.get(m, "").startswith("decimal")
        zero = F.lit(0).cast(dtypes[m]) if keep_exact else F.lit(0.0)
        stage1[f"{m}{SUFFIX_ROLLING_SUM}"] = F.coalesce(guarded, zero)
    for m in incidence_rate:
        inc = F.col(m).cast("double") / F.col("population") * rate_per_n
        stage1[f"{m}Rate"] = inc if precision is None else F.round(inc, precision)
    df = df.withColumns(stage1)

    # the tail-rule scalars, all taken in ONE with_scalars call: the
    # event cutoff's max date and each non-event metric's last valid
    # raw date
    scalars: dict[str, F.Column] = {}
    if tail_rules:
        if any(is_event(m) for m in rolling_rate):
            scalars["__max_date"] = F.max(date_col)
        for m in rolling_rate:
            if not is_event(m):
                scalars[f"__last_{m}"] = F.max(
                    F.when(raw(m).isNotNull(), F.col(date_col))
                )
    if scalars:
        df = with_scalars(df, scalars, frame_keys)
    event_cutoff = F.date_format(
        F.date_sub(F.to_date("__max_date"), TAIL_TRIM_DAYS), "yyyy-MM-dd"
    )

    stage2: dict[str, F.Column] = {}
    for m in rolling_rate:
        rsum = f"{m}{SUFFIX_ROLLING_SUM}"
        rrate = f"{m}{SUFFIX_ROLLING_RATE}"
        rate = F.col(rsum).cast("double") / F.col("population") * rate_per_n
        rate = rate if precision is None else F.round(rate, precision)
        if not tail_rules:
            stage2[rrate] = rate
            continue
        cutoff = event_cutoff if is_event(m) else F.col(f"__last_{m}")
        stale = F.col(date_col) > cutoff
        stage2[rsum] = F.when(stale, F.lit(None)).otherwise(F.col(rsum))
        stage2[rrate] = F.when(stale, F.lit(None)).otherwise(rate)
    df = df.withColumns(stage2)

    return df.drop("population", *scalars)


def age_standardised_rate(
    df: DataFrame,
    rate_col: str,
    std_weights: dict[str, float],
    group_keys: Sequence[str] = ("areaType", "areaCode", "date"),
    age_col: str = "age",
    out: str = "asr",
) -> DataFrame:
    """Direct age standardisation: the weighted mean of per-band rates
    under a STANDARD population's weights — the comparable-across-areas
    rate every public-health dashboard quotes next to the crude rate
    (the natural extension of the per-band rate path,
    ``db_etl/etl.py:678-711`` / calculate_age_rates).

    ``std_weights`` maps age band -> standard-population weight (e.g.
    the European Standard Population shares). Bands missing a rate
    contribute nothing (their weight is excluded from the denominator
    — the partial-coverage convention), so ASR is NULL only when no
    band reported.

    Exactness: weights enter as DECIMAL(18,6) literals and rates cast
    to DECIMAL(18,6); both sums are decimal (associative, any
    partition order), with ONE double division at the end. One groupBy
    shuffle on ``group_keys``.
    """
    wexpr = None
    for band, wgt in sorted(std_weights.items()):
        c = F.when(F.col(age_col) == band, F.lit(wgt).cast("decimal(18,6)"))
        wexpr = c if wexpr is None else wexpr.when(
            F.col(age_col) == band, F.lit(wgt).cast("decimal(18,6)")
        )
    w = wexpr  # NULL for unknown bands -> excluded from both sums
    r = F.col(rate_col).cast("decimal(18,6)")
    valid = w.isNotNull() & r.isNotNull()
    num = F.sum(F.when(valid, w * r)).cast("double")
    den = F.sum(F.when(valid, w)).cast("double")
    return df.groupBy(*group_keys).agg(
        (num / den).alias(out),
        F.count(F.when(valid, 1)).cast("long").alias("n_bands"),
    )
