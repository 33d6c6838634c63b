"""S1 — the main release's nested-JSON source.

The reference downloads one giant JSON
``{areaType: {areaCode: {metric: [{date, value, ...}]}}}``, string-hacks
metric renames into the raw text (``main_etl_retrieve_data/retrieve.py:
46-68,127-130``), re-serialises one blob per (areaType, areaCode) in the
driver, and fans out one Azure Function per area (``retrieve.py:148-163``;
parsed per area in ``db_etl/etl.py:1374-1381``, walked at ``:804-868``).

Spark-first shape: parse once with the VARIANT type and explode the three
dictionary levels with ``variant_explode`` — the per-area fan-out becomes
ordinary row parallelism, renames become expressions (never string
surgery), and heterogeneous metric payloads stay typed as variant until
the last moment. One job replaces the orchestrator round-trip.

Scale note: a single multi-GB JSON document is inherently driver-hostile
in any engine; at 100 TB the release lands as many files (one per area
group), which ``spark.read.text(wholetext=True)`` reads as one row per
file — each file parses independently in its own task. The explode keeps
per-row output bounded by one area's metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import AREA_TYPE_RENAMES

# Spark needs the rename map as a literal MAP expression (J5's relabel as
# an expression instead of the reference's raw-string replace).
_RENAME_ENTRIES = ", ".join(f"'{k}', '{v}'" for k, v in AREA_TYPE_RENAMES.items())

ENTRY_SCHEMA = (
    "array<struct<age:string,date:string,rate:double,value:double,"
    "min:string,max:string,growthRateMin:string,growthRateMax:string>>"
)


def read_nested_release(spark: SparkSession, path: str) -> DataFrame:
    """Parse a release into long metric rows.

    Returns ``(areaType, areaCode, metric, payload_json)`` — one row per
    (area, metric), with the metric's whole time-series as a JSON string
    (array for time-series metrics, object for scalars like ``name``).
    """
    raw = spark.read.text(path, wholetext=True)
    raw.createOrReplaceTempView("__raw_release")
    return spark.sql(
        f"""
        SELECT map({_RENAME_ENTRIES})[l1.key] AS areaType,
               l2.key AS area_code,
               l3.key AS metric,
               to_json(l3.value) AS payload_json
        FROM __raw_release,
        LATERAL variant_explode(parse_json(value)) AS l1,
        LATERAL variant_explode(l1.value) AS l2,
        LATERAL variant_explode(l2.value) AS l3
        """
    ).withColumnRenamed("area_code", "areaCode")


def explode_timeseries(long: DataFrame) -> DataFrame:
    """Long metric rows -> one row per (area, metric, date) observation.

    The reference's walker + ``json_normalize`` (db_etl/etl.py:804-868).
    Scalar payloads (``{"value": ...}``, e.g. areaName) surface with a
    null date. Entry fields beyond (date, value) — age bands, rate,
    transmission min/max — survive in ``entry`` for the nested pathways.
    """
    ts = long.withColumn(
        "__entries",
        F.when(
            F.startswith(F.col("payload_json"), F.lit("[")),
            F.from_json("payload_json", ENTRY_SCHEMA),
        ),
    )
    exploded = ts.select(
        "areaType",
        "areaCode",
        "metric",
        F.explode_outer("__entries").alias("entry"),
        "payload_json",
    )
    return exploded.select(
        "areaType",
        "areaCode",
        "metric",
        F.col("entry.date").alias("date"),
        F.col("entry.value").alias("value"),
        "entry",
        F.when(F.col("entry").isNull(), F.col("payload_json")).alias("scalar_json"),
    )


def area_names(long: DataFrame) -> DataFrame:
    """Extract the per-area display name from the scalar ``name`` payload
    (the reference carries it as ``{"value": "England"}``)."""
    return (
        long.filter(F.col("metric") == "name")
        .select(
            "areaType",
            "areaCode",
            F.get_json_object("payload_json", "$.value").alias("areaName"),
        )
        .distinct()
    )


def pivot_panel(observations: DataFrame, names: DataFrame | None = None) -> DataFrame:
    """Observations -> the canonical wide panel (P8: ``pivot_table`` with
    max-dedup, db_etl/etl.py:897-922), one numeric column per metric."""
    obs = observations.filter(F.col("date").isNotNull())
    panel = (
        obs.groupBy("areaType", "areaCode", "date")
        .pivot("metric")
        .agg(F.max("value"))
    )
    if names is not None:
        panel = panel.join(F.broadcast(names), on=["areaType", "areaCode"], how="left")
    return panel
