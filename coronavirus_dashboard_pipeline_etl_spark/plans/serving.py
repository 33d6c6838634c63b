"""Serving-side query layer — the reference's hand-written PostgreSQL
re-expressed as Spark plans over the long store + registry dimensions
(F10 star schema: time_series ⋈ release/metric/area reference tables).

Each function mirrors a production query family:

* ``latest_metrics``      — RANK()=1 latest value per (area, metric)
  (``main_etl_postprocessors/private_report/queries.py:3-24``,
  ``despatch_ops_workers/og_images/queries.py:13-23``).
* ``latest_n_dates``      — RANK() < n+1 per area
  (``main_etl_nested_metrics_converter/queries.py:22-56``).
* ``dose_alignment``      — FULL OUTER join of dose-1/2/3 uptake frames
  on (date, area) (``db_etl_homepage_graphs/queries.py:63-128``).
* ``release_over_release_delta`` — today LEFT JOIN previous release with
  GREATEST(delta, 0) (``chunk_etl_postprocessing/vaccinations/queries.py:
  22-91``).
* ``area_percentiles``    — percentile_disc(.25/.5/.75) WITHIN GROUP per
  metric over the latest date (``despatch_ops_workers/map_percentiles/
  queries.py:14-90``).
* ``landing_cache_rows``  — jsonb_agg(jsonb_build_object(...)) per (area,
  metric) for the Redis landing cache (``cache_prepopulate/query.sql``).
* ``map_layer_features`` / ``map_vax_features`` — geojson feature
  assembly for the despatch map workers (``despatch_ops_workers/
  map_geojson/queries.py``, ``map_vaccinations_geojson/queries.py``).

All dimension joins are broadcast (registry tables are tiny); the fact
table shuffles only when a window needs its grouping.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast

from ..operators.topk import latest_per_group

def _value() -> F.Column:
    """payload ->> 'value' (built lazily: Column construction needs a JVM)."""
    return F.get_json_object("payload", "$.value")


def _cast_value(value_cast: str) -> F.Column:
    """payload ->> 'value' cast to ``value_cast`` through double: the
    store's numeric payloads render as ``416.0``, which a direct cast to
    an integral type rejects under ANSI mode (CAST_INVALID_INPUT)."""
    return _value().cast("double").cast(value_cast)


def _joined(
    time_series: DataFrame,
    areas: DataFrame | None = None,
    metrics: DataFrame | None = None,
    releases: DataFrame | None = None,
) -> DataFrame:
    out = time_series
    if areas is not None:
        out = out.join(broadcast(areas), on="area_id")
    if metrics is not None:
        out = out.join(broadcast(metrics), on="metric_id")
    if releases is not None:
        out = out.join(
            broadcast(releases.withColumnRenamed("id", "release_id")),
            on="release_id",
        )
    return out


def latest_metrics(
    time_series: DataFrame,
    areas: DataFrame,
    metrics: DataFrame,
    metric_names: Sequence[str] | None = None,
) -> DataFrame:
    """Latest numeric value per (area, metric): RANK()=1 by date."""
    df = _joined(time_series, areas, metrics)
    if metric_names:
        df = df.filter(F.col("metric").isin(*metric_names))
    latest = latest_per_group(
        df, group_keys=["area_id", "metric_id"], order_col="date", k=1
    )
    return latest.select(
        "area_type",
        "area_code",
        "area_name",
        "metric",
        "date",
        _value().cast("double").alias("value"),
    )


def latest_n_dates(
    time_series: DataFrame,
    areas: DataFrame,
    metrics: DataFrame,
    n: int = 3,
    metric_names: Sequence[str] | None = None,
) -> DataFrame:
    """All metrics for each area's n most recent dates (RANK() < n+1)."""
    df = _joined(time_series, areas, metrics)
    if metric_names:
        df = df.filter(F.col("metric").isin(*metric_names))
    dates = df.select("area_id", "date").distinct()
    keep = latest_per_group(dates, group_keys=["area_id"], order_col="date", k=n)
    return df.join(keep, on=["area_id", "date"], how="left_semi").select(
        "area_type", "area_code", "metric", "date", "payload"
    )


def dose_alignment(
    time_series: DataFrame,
    areas: DataFrame,
    metrics: DataFrame,
    dose_metrics: Sequence[str] = (
        "cumVaccinationFirstDoseUptakeByPublishDatePercentage",
        "cumVaccinationSecondDoseUptakeByPublishDatePercentage",
        "cumVaccinationThirdInjectionUptakeByPublishDatePercentage",
    ),
    release_id: int | None = None,
) -> DataFrame:
    """FULL OUTER alignment of the three dose-uptake series on
    (date, area_code) — J8. Pivot expresses the reference's three-way
    FULL OUTER join in one pass over the fact table (no self-joins).
    The reference query is scoped to one release partition; pass
    ``release_id`` to match (None = all releases, max-deduped)."""
    df = _joined(time_series, areas, metrics).filter(
        F.col("metric").isin(*dose_metrics)
    )
    if release_id is not None:
        df = df.filter(F.col("release_id") == release_id)
    return (
        df.groupBy("date", "area_code")
        .pivot("metric", list(dose_metrics))
        .agg(F.max(_value().cast("double")))
        .withColumnRenamed(dose_metrics[0], "first_dose")
        .withColumnRenamed(dose_metrics[1], "second_dose")
        .withColumnRenamed(dose_metrics[2], "third_dose")
    )


def release_over_release_delta(
    time_series: DataFrame,
    metrics: DataFrame,
    metric_name: str,
) -> DataFrame:
    """Publish-date "new" metric derived from a cumulative one: latest
    release vs the previous release per (area, date), clamped at 0 — J9.

    One window over the release dimension replaces the reference's
    today/yesterday self-join (two scans -> one).
    """
    df = _joined(time_series, metrics=metrics).filter(
        F.col("metric") == metric_name
    )
    w = Window.partitionBy("area_id", "date").orderBy("release_id")
    delta = _value().cast("double") - F.lag(_value().cast("double")).over(w)
    # clamp AFTER the null filter decides inclusion: F.greatest SKIPS
    # nulls, so clamping first would turn a no-previous-release (or
    # failed-cast) NULL into 0.0 and the isNotNull filter below would
    # never fire — every single-release (area, date) would surface as
    # a spurious "new = 0" row
    out = df.withColumn("__delta_raw", delta).withColumn(
        "delta", F.greatest(F.col("__delta_raw"), F.lit(0.0))
    )
    w_latest = Window.partitionBy("area_id", "date").orderBy(
        F.col("release_id").desc()
    )
    return (
        out.withColumn("__rn", F.row_number().over(w_latest))
        .filter((F.col("__rn") == 1) & F.col("__delta_raw").isNotNull())
        .select("area_id", "date", "delta")
    )


def area_percentiles(
    time_series: DataFrame,
    areas: DataFrame,
    metrics: DataFrame,
    metric_name: str,
    approx: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Rate percentiles across areas at each area-type's latest date —
    the map colour-scale query (A10 SQL).

    ``approx=True`` is the scale path: ``approx_percentile`` (a
    mergeable quantile sketch) keeps per-group state at
    O(accuracy · log n) instead of buffering every value the way exact
    ``percentile`` does — at 100 TB the exact form is a per-group
    collect; the sketch's worst-case rank error is 1/accuracy. The
    oracle gate runs the exact form; the sketch path is tolerance-tested
    against it in pytest.
    """
    df = _joined(time_series, areas, metrics).filter(
        F.col("metric") == metric_name
    )
    latest = latest_per_group(
        df.select("area_type", "date").distinct(),
        group_keys=["area_type"],
        order_col="date",
        k=1,
    )
    at_latest = df.join(latest, on=["area_type", "date"], how="left_semi")
    val = _value().cast("double")
    fn = "approx_percentile" if approx else "percentile"
    extra = f", {accuracy}" if approx else ""
    pct = lambda q: F.expr(  # noqa: E731
        f"{fn}(cast(get_json_object(payload, '$.value') as double), {q}{extra})"
    )
    return at_latest.groupBy("area_type", "date").agg(
        pct(0.25).alias("p25"),
        pct(0.5).alias("p50"),
        pct(0.75).alias("p75"),
        F.min(val).alias("min"),
        F.max(val).alias("max"),
    )


def landing_cache_rows(
    time_series: DataFrame,
    areas: DataFrame,
    metrics: DataFrame,
    metric_names: Sequence[str],
    last_n_days: int = 30,
    value_cast: str = "double",
    release_id: int | None = None,
) -> DataFrame:
    """The Redis landing-page cache payload: per (area, metric), a JSON
    array of {date, value} records over the trailing window —
    jsonb_agg(jsonb_build_object(...)) as collect_list + to_json.

    ``value_cast`` sets the JSON value type ("bigint" for count metrics —
    also what the cross-engine gate uses, since integer JSON rendering is
    identical everywhere while double rendering is not).

    Release scoping: the reference query runs against ONE release; on a
    multi-release store ``collect_list`` would otherwise pack duplicate
    {date, value} records per key into the JSON. Pass ``release_id``
    to pin a release; by default the LATEST value per (area, metric,
    date) wins (one window over the release dimension).

    The sink side (caching.redis_sink) writes these via foreachPartition.
    """
    df = _joined(time_series, areas, metrics).filter(
        F.col("metric").isin(*metric_names)
    )
    if release_id is not None:
        df = df.filter(F.col("release_id") == release_id)
    elif "release_id" in df.columns:
        w_rel = Window.partitionBy("area_id", "metric_id", "date").orderBy(
            F.col("release_id").desc()
        )
        df = (
            df.withColumn("__rrn", F.row_number().over(w_rel))
            .filter(F.col("__rrn") == 1)
            .drop("__rrn")
        )
    w_max = Window.partitionBy("area_id", "metric_id")
    df = df.withColumn("__mx", F.max("date").over(w_max)).filter(
        F.datediff(F.to_date("__mx"), F.to_date("date")) < last_n_days
    )
    rec = F.struct(F.col("date"), _cast_value(value_cast).alias("value"))
    return (
        df.groupBy("area_type", "area_code", "metric")
        .agg(F.to_json(F.sort_array(F.collect_list(rec), asc=False)).alias("cache_value"))
        .withColumn(
            "cache_key",
            F.concat_ws("|", F.col("area_type"), F.col("area_code"), F.col("metric")),
        )
    )


def age_band_values(
    df: DataFrame,
    band: str = "75+",
    value_field: str = "cumPeopleVaccinatedSpring23ByVaccinationDate",
    pct_field: str = "cumVaccinationSpring23UptakeByVaccinationDatePercentage",
    payload_col: str = "payload",
) -> DataFrame:
    """Homepage waffle-chart extraction: from a nested age-demographics
    payload cell (array<struct>), pick the requested band's cumulative
    and uptake values as integers
    (``db_etl_homepage_graphs/grapher.py:133-169`` get_value_*_plus;
    golden values from its test fixture
    ``tests/test_data/db_data.py`` — 75+, 4178999, 48).

    The reference loops rows in Python; here ``filter``/``element_at``
    higher-order functions keep the extraction JVM-side per row.
    """
    entry = F.element_at(
        F.filter(F.col(payload_col), lambda x: x["age"] == band), 1
    )
    val = F.coalesce(entry[value_field], F.lit(0.0))
    pct = F.coalesce(entry[pct_field], F.lit(0.0))
    return df.select(
        "area_type",
        "area_code",
        "date",
        F.round(val, 1).cast("long").alias("vaccination_date"),
        F.round(pct, 1).cast("long").alias("vaccination_date_percentage_dose"),
    )


COLOUR_SCALE_BINNING = [0, 10, 50, 100, 200, 400, 800, 1600, 10000]


def colour_scale_binning(
    df: DataFrame,
    value_col: str = "newCasesBySpecimenDateRollingRate",
    bins: Sequence[int] = tuple(COLOUR_SCALE_BINNING),
) -> list[int]:
    """Landing-page map colour bins, reduced to the data's range: keep
    the bins below the observed max plus one more
    (``despatch_ops_workers/landing_page_map/generate.py:106-137``).
    The max is a distributed aggregation; the slice is a driver constant
    feeding the renderer."""
    # small by construction: one aggregate row
    row = df.agg(F.max(F.col(value_col)).alias("mx")).collect()[0]
    mx = row["mx"]
    if mx is None:
        return list(bins[:1])
    below = [b for b in bins if b < mx]
    return list(bins[: len(below) + 1])


def map_layer_features(
    time_series: DataFrame,
    areas: DataFrame,
    metrics: DataFrame,
    geo: DataFrame,
    metric: str,
    area_type: str,
    days_back: int = 183,
    value_cast: str = "bigint",
) -> DataFrame:
    """Geojson map-layer feature assembly — the despatch map worker's
    per-(metric, area_type) query (``despatch_ops_workers/map_geojson/
    queries.py:14-37``): one feature per (date, area) with

    * ``properties`` = jsonb_build_object('date', 'code', 'value')
    * ``geometry``   = jsonb_build_object('type', 'coordinates') from the
      geo dimension (area_id -> geometry_type, coordinates)

    restricted to non-null values within ``days_back`` days of the
    frame's latest date. The reference anchors its 6-month window at
    NOW(); here the anchor is the global max date (deterministic replay,
    no wall-clock in the plan) via ``with_scalars`` — a 1-row broadcast
    cross-join, never a single-partition window. Dimension and geo joins
    broadcast; the fact table is never shuffled at all.
    """
    from ..operators.util import with_scalars

    df = (
        _joined(time_series, areas, metrics)
        .filter((F.col("metric") == metric) & (F.col("area_type") == area_type))
        .filter(_value().isNotNull())
    )
    df = with_scalars(df, {"__mx": F.max(F.to_date("date"))})
    df = df.filter(
        F.datediff(F.col("__mx"), F.to_date("date")) < days_back
    )
    props = F.to_json(
        F.struct(
            F.col("date"),
            F.col("area_code").alias("code"),
            _cast_value(value_cast).alias("value"),
        )
    )
    geom = F.to_json(
        F.struct(
            F.col("geometry_type").alias("type"), F.col("coordinates")
        )
    )
    return (
        df.join(broadcast(geo), on="area_id", how="left")
        .select(
            "date",
            props.alias("properties"),
            geom.alias("geometry"),
        )
    )


def map_vax_features(
    time_series: DataFrame,
    areas: DataFrame,
    metrics: DataFrame,
    geo: DataFrame,
    dose_metrics: Sequence[str] = (
        "cumVaccinationFirstDoseUptakeByVaccinationDatePercentage",
        "cumVaccinationSecondDoseUptakeByVaccinationDatePercentage",
        "cumVaccinationThirdInjectionUptakeByVaccinationDatePercentage",
    ),
    precision: int | None = 2,
) -> DataFrame:
    """Vaccination map-layer features — the despatch vax-map worker
    (``despatch_ops_workers/map_vaccinations_geojson/queries.py:14-69``):
    per area at the corpus-wide latest date, compact properties
    {cd, at, f, c, t} plus geometry from the geo dim.

    The reference aligns the three dose series with UNIONed per-metric
    subqueries; here it is ONE pivot pass over the latest-date slice
    (same no-self-join shape as ``dose_alignment``). The latest date is
    a 1-row broadcast (``with_scalars``); geo broadcasts; doses coalesce
    to 0.0 (absent-at-latest-date metrics) so JSON rendering is
    engine-independent. ``precision=None`` skips the reference's
    ROUND(x, 2) for oracle-exact replay.
    """
    from ..operators.util import with_scalars

    if len(dose_metrics) != 3:
        raise ValueError(
            "map_vax_features packs exactly three dose metrics into the "
            f"{{f, c, t}} properties object; got {len(dose_metrics)}"
        )
    df = (
        _joined(time_series, areas, metrics)
        .filter(F.col("metric").isin(*dose_metrics))
        .filter(_value().isNotNull())
    )
    df = with_scalars(df, {"__mx": F.max("date")}).filter(
        F.col("date") == F.col("__mx")
    )
    aligned = (
        df.groupBy("area_type", "area_code", "area_id")
        .pivot("metric", list(dose_metrics))
        .agg(F.max(_value().cast("double")))
    )
    dose = lambda i: (  # noqa: E731
        F.coalesce(F.col(f"`{dose_metrics[i]}`"), F.lit(0.0))
        if precision is None
        else F.round(
            F.coalesce(F.col(f"`{dose_metrics[i]}`"), F.lit(0.0)), precision
        )
    )
    props = F.to_json(
        F.struct(
            F.col("area_code").alias("cd"),
            F.col("area_type").alias("at"),
            dose(0).alias("f"),
            dose(1).alias("c"),
            dose(2).alias("t"),
        )
    )
    geom = F.to_json(
        F.struct(F.col("geometry_type").alias("type"), F.col("coordinates"))
    )
    return (
        aligned.join(broadcast(geo), on="area_id", how="left")
        .select(props.alias("properties"), geom.alias("geometry"))
    )
