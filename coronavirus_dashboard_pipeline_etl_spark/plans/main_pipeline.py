"""EP1 — the main daily-release pipeline, end to end.

The reference's processor chain (``db_etl/etl.py:996-1022``, "These must
be done in a specific order") re-expressed as one composed Spark plan:

    nested JSON -> long -> pivot (wide panel)
    -> homogenise_dates          (J4 scaffold densify)
    -> normalise_records         (W1-W3 bounded fills)
    -> negative_to_zero          (P4)
    -> calculate_pair_summations (A8)
    -> calculate_by_adjacent_column (J3)
    -> calculate_rates           (J2 + A1 per-100k)
    -> change_by_sum             (A1-A4 rolling family)
    -> ratio_to_percentage
    -> trim_end                  (W5 freshness mask)
    -> releaseTimestamp          (the panel stays unordered)

and the load side (``db_etl_upload/uploader.py:546-655``):

    one melt over numeric and string metrics (P7) -> trim_sides (W4)
    -> weekly dropna -> payload wrap (P10) -> keyed hash
    -> partition_id -> partitioned parquet write (S8/S10 as
    partitionBy + dynamic overwrite instead of Postgres DDL; the upsert
    is an append plus tombstones, folded by ``compact_store``).

A publish does each piece of work once: the release is parsed once
(``build_panel``'s rolling checkpoint) and the processing chain is
planned and run once (one melt, no global sort).

Where the reference runs one Azure Function per area and rides blob
storage between stages, this is a single lazy plan: area fan-out is
partition parallelism, the orchestrator barrier is a stage boundary.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..config import (
    DEFAULT_METRICS,
    RATE_PRECISION,
    MetricConfig,
    TAIL_TRIM_DAYS,
)
from ..operators import (
    calculate_by_adjacent_column,
    calculate_pair_summations,
    calculate_rates,
    change_by_sum,
    drop_weekly_metric_nulls,
    homogenise_dates,
    melt,
    negative_to_zero,
    normalise_records,
    ratio_to_percentage,
    row_hash_blake2,
    trim_end,
    trim_sides,
)
from ..operators.nesting import wrap_payload
from ..sources.nested_json import (
    area_names,
    explode_timeseries,
    pivot_panel,
    read_nested_release,
)
from ..store import (
    _writer,
    compact,
    materialised,
    overwrite_partitions,
    read_bucketed,
    rolling_checkpoint,
    write_partitioned,
)

PANEL_META = ["areaType", "areaCode", "areaName", "date"]

#: the serving store's layout column and its upsert identity
#: (uploader.py:300-325: ON CONFLICT (hash, partition_id))
PARTITION_COL = "partition_id"
UPSERT_KEYS = ["hash", PARTITION_COL]


def build_panel(spark: SparkSession, json_path: str) -> DataFrame:
    """Raw release JSON -> canonical wide panel.

    The release is parsed once: the parsed rows are a rolling
    checkpoint (``store.rolling_checkpoint``, owner ``build_panel``)
    that the pivot's distinct-metric query materialises, and the
    panel's plan reads those blocks instead of scanning and parsing the
    release text again. Contract: consume one ``build_panel`` result
    before the next call on the same session, which releases the
    previous call's blocks."""
    long = rolling_checkpoint(read_nested_release(spark, json_path), "build_panel")
    obs = explode_timeseries(long)
    return pivot_panel(obs, names=area_names(long))


def process_panel(
    panel: DataFrame,
    population: DataFrame,
    config: MetricConfig = DEFAULT_METRICS,
    release_timestamp: str | None = None,
    pct_precision: int | None = 1,
    rate_precision: int | None = RATE_PRECISION,
) -> DataFrame:
    """The processor chain on an existing wide panel (reference order).

    The precision knobs default to the reference's rounding; the oracle
    gate passes None (engines round doubles differently at the last
    ulp).

    Frame scope: the reference fans the main chain out as ONE
    (areaType, areaCode) chunk per call (retrieve.py:147-163 writes one
    blob per area; run_direct processes it alone), so the frame-scoped
    scalars of the chain — the homogenise span, the rates event cutoff
    and last-valid dates, the trim_end cutoff — are that AREA's own,
    not the release's. The per-area composed reference-exec parity
    test (round 10) caught the global scoping this plan originally
    used. ``calculate_rates`` and ``trim_end`` take the chunk keys as
    ``frame_keys``, and ``with_scalars`` turns them into windows over
    the existing key exchange. One exception remains:
    ``calculate_by_adjacent_column`` fills at the release-wide latest
    date (``with_scalars`` without frame keys), not the area's, and
    that scalar plans a second pass over the whole upstream chain (a
    broadcast nested-loop join branch that re-runs the parse, the
    aggregates and the scaffold join).

    The panel comes back unordered: the store write partitions its
    rows itself, so a global sort here would be a range-partition
    exchange whose order nobody reads. A caller that needs an order
    sorts the result. The result reads ``homogenise_dates``' rolling
    checkpoint: consume it before the next ``homogenise_dates`` call."""
    chunk_keys = ("areaType", "areaCode")
    out = homogenise_dates(panel, span="group")
    out = normalise_records(
        out,
        zero_filled=config.fill_with_zeros,
        cumulative=config.start_with_zero,
    )
    out = negative_to_zero(out, config.negative_to_zero)
    out = calculate_pair_summations(out, config.pair_sums)
    out = calculate_by_adjacent_column(out, config.adjacent_fill)
    out = calculate_rates(
        out,
        population,
        rolling_rate=config.rolling_rate,
        incidence_rate=config.incidence_rate,
        precision=rate_precision,
        frame_keys=chunk_keys,
    )
    # change_by_sum reuses a RollingSum column calculate_rates already
    # made (reference rolling.py:131-163): the rate path's sums carry
    # 0-coerced leading windows, so recomputing them would NOT be
    # identical at the leading edge.
    out = change_by_sum(
        out, config.sum_change_direction, pct_precision=pct_precision
    )
    out = ratio_to_percentage(out, config.ratio_to_percentage)
    out = trim_end(out, config.trim_end, TAIL_TRIM_DAYS, frame_keys=chunk_keys)
    if release_timestamp is not None:
        out = out.withColumn("releaseTimestamp", F.lit(release_timestamp))
    return out


def to_long_store(
    panel: DataFrame,
    release_id: int,
    partition_group_expr: F.Column | None = None,
    hash_key: bytes | None = None,
    metric_registry_path: str | None = None,
) -> DataFrame:
    """Processed wide panel -> serving-store long rows.

    Mirrors deploy() (uploader.py:546-655): melt, trim unstable series
    edges, wrap payloads as JSON cells, stamp release/partition ids, key
    each row with the keyed digest the reference uses for upsert identity
    (uploader.py:171-179).

    With ``metric_registry_path``, unknown metric names are first
    upserted into the metric registry and every row gains the registry's
    numeric ``metric_id`` via broadcast join — the reference's
    ``validate_metrics`` dynamic-schema step (uploader.py:339-350).
    """
    id_vars = [c for c in PANEL_META if c in panel.columns] + (
        ["releaseTimestamp"] if "releaseTimestamp" in panel.columns else []
    )
    # the panel mixes numeric metrics and string metrics (Direction
    # columns); pandas melts them into one object column. Here every
    # cell becomes struct(v, j) and ONE melt covers both families, so
    # the processed panel is planned and run once, not once per family:
    # ``j`` is the payload JSON rendered from the value at its family's
    # melt type (a numeric family widens to one type, so a bigint metric
    # next to a double one renders 416.0), and ``v`` is that value as a
    # string, which keeps the null-ness and ``try_cast(double)`` that
    # trim_sides and the weekly dropna read, for numeric and string
    # cells alike. areaNameLower is derived metadata, not a metric.
    dtypes = dict(panel.dtypes)
    skip = set(id_vars) | {"areaNameLower"}
    num_vars = [
        c
        for c, t in dtypes.items()
        if c not in skip
        and (t in ("double", "float", "bigint", "int") or t.startswith("decimal"))
    ]
    str_vars = [c for c in dtypes if c not in skip and c not in num_vars]

    def cells(value_vars):
        if not value_vars:
            return []
        typ = melt(panel, id_vars=id_vars, value_vars=value_vars).schema[
            "payload"
        ].dataType
        typed = [F.col(c).cast(typ) for c in value_vars]
        return [
            F.struct(t.cast("string").alias("v"), wrap_payload(t).alias("j")).alias(c)
            for c, t in zip(value_vars, typed)
        ]

    long = melt(
        panel.select(*id_vars, *cells(num_vars), *cells(str_vars)), id_vars=id_vars
    )
    long = long.withColumnRenamed("areaType", "area_type").withColumnRenamed(
        "areaCode", "area_code"
    )
    long = trim_sides(long, payload_col="payload.v")
    # weekly-cadence metrics drop null payloads before wrapping
    # (deploy order: melt -> trim_sides -> format_weekly_metrics,
    # uploader.py:617-621)
    long = drop_weekly_metric_nulls(long, payload_col="payload.v")
    long = long.withColumn("payload", F.col("payload.j"))

    if partition_group_expr is None:
        partition_group_expr = F.when(
            F.col("area_type").isin("utla", "ltla", "nhsTrust", "msoa"),
            F.lower(F.col("area_type")),
        ).otherwise(F.lit("other"))
    long = long.withColumn("partition_id", partition_group_expr)
    long = long.withColumn("release_id", F.lit(release_id))
    if metric_registry_path is not None:
        from ..sources.registry import register_metrics, resolve_metric_ids

        registry = register_metrics(long, metric_registry_path)
        long = resolve_metric_ids(long, registry)
    # reference hash identity (uploader.py:156-178): date FIRST, then
    # area_type, area_code, metric_id, release_id. Exact parity with
    # reference-stored hashes therefore requires the registry path (the
    # numeric metric_id); without it the same recipe runs keyed on the
    # metric name instead.
    metric_key = "metric_id" if "metric_id" in long.columns else "metric"
    return row_hash_blake2(
        long,
        ["date", "area_type", "area_code", metric_key, "release_id"],
        out="hash",
        key=hash_key,
    )


def write_store(long: DataFrame, path: str) -> None:
    """S8/S10 — the serving store write.

    ``partitionBy(partition_id)`` + dynamic partition overwrite replaces
    the reference's per-release Postgres partition DDL
    (uploader.py:255-295) and hash-upsert: re-running a release replaces
    exactly its own partitions, so the write is idempotent like the
    reference's ON CONFLICT path. The store is ``store.py``'s
    partitioned layout: the rows carry the store's next epoch, so a
    re-published partition outlives the tombstones of earlier upserts.
    """
    write_partitioned(long, path, PARTITION_COL, "write_store")


def write_store_bucketed(
    long: DataFrame, table_name: str, buckets: int = 64
) -> None:
    """Bucketed variant of the serving store for shuffle-free serving.

    The serving queries window/group by (area, metric) over the fact
    table (serving.py: latest_per_group, latest_n_dates, landing cache).
    Bucketing + in-bucket sorting by those keys means a reader's
    groupBy/window on (area_code, metric) needs NO exchange — at 100 TB
    the per-query shuffle of the whole fact table is the serving
    bottleneck, and this removes it. Writes through the catalog
    (``saveAsTable``) because bucket metadata lives in the metastore.

    Re-runs keep write_store's idempotence: once the table exists, the
    write goes through ``insertInto`` with dynamic partition overwrite,
    replacing ONLY the partitions present in ``long`` (a plain
    ``saveAsTable(overwrite)`` would drop every other release's
    partitions). Spark enforces the table's bucket spec on insertInto, so
    inserted partitions stay bucket-readable. The table is created
    through the store's writer, so its options record the store codec;
    ``overwrite_partitions`` also sets the codec conf for the insert, so
    a table created before the store codec gets the store's file format
    in every partition it replaces.
    """
    spark = long.sparkSession
    if spark.catalog.tableExists(table_name):
        # insertInto is positional: match the table's column order
        # (partition column last)
        cols = spark.table(table_name).columns
        overwrite_partitions(long.select(*cols), table=table_name)
    else:
        (
            _writer(long)
            .mode("overwrite")
            .partitionBy("partition_id")
            .bucketBy(buckets, "area_code", "metric")
            .sortBy("area_code", "metric", "date")
            .format("parquet")
            .saveAsTable(table_name)
        )


def merge_upsert_store(
    incoming: DataFrame, path: str, max_affected_partitions: int = 10_000
) -> None:
    """MERGE twin of ``write_store`` — the reference's row-level upsert
    semantic (``db_etl_upload/uploader.py:300-325``: dedup the batch on
    the identity tuple, then INSERT .. ON CONFLICT (hash, partition_id)
    DO UPDATE SET payload) over the parquet store.
    ``write_store``'s dynamic overwrite REPLACES a partition wholesale;
    this keeps existing rows whose hash the batch doesn't carry — the
    semantic a partial re-run or late-metric backfill needs.

    1. Batch dedup: the reference keeps the FIRST duplicate in frame
       order; a distributed frame has no frame order, so the twin keeps
       the MAX payload string per (hash, partition_id) — deterministic
       across engines and partitionings. Identity-tuple duplicates
       share their hash (the hash IS the keyed identity digest,
       uploader.py:156-178), so the dedup key is the same.
    2. Affected partitions: distinct partition_id in the batch
       (bounded, loud collect — a batch fanning into more than
       ``max_affected_partitions`` partitions is a malformed release).
    3. Conflict rule: batch rows always land; an existing row survives
       iff its (hash, partition_id) is absent from the batch. The
       reference updates ONLY payload on conflict, but a hash match
       implies every identity column matches, so batch-row-wins IS
       payload-update.
    4. The write is batch-sized (``store.write_partitioned``): the
       deduped batch appends under its partitions at the store's next
       epoch, then one tombstone per (hash, partition_id) at that epoch
       marks every older row of the key dead. No existing partition is
       read or rewritten. Until ``compact_store`` folds the store, only
       ``read_store`` (or ``store.read_bucketed``) gives the merged
       view: a raw parquet read sees superseded rows too, as Iceberg
       v2 equality deletes also need a table-aware reader. Data rows
       land before tombstones, so a crash between the two leaves a
       key's old and new rows visible until the batch is re-run or the
       store is folded.

    With no store at ``path`` yet (a missing path, or a directory with
    no data files) the deduped batch is the first write. Any other
    read failure of a store without a sidecar propagates and leaves the
    store untouched.

    ``streaming.ingest.upsert_batch`` is this function under its
    foreachBatch-sink name: one micro-batch per call.
    """
    w = Window.partitionBy(*UPSERT_KEYS).orderBy(F.col("payload").desc())
    # clustered on partition_id, which also clusters the window's keys:
    # one exchange, and each partition's rows land in one file
    inc = (
        incoming.repartition(PARTITION_COL)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # lazy: the guard's collect fills the blocks the two appends read.
    # The guard runs as one task (coalesce(1) needs no exchange before
    # its distinct), which is cheap for a delta-sized batch.
    with materialised(inc, eager=False) as rows:
        parts = (
            rows.coalesce(1)
            .select(PARTITION_COL)
            .distinct()
            .limit(max_affected_partitions + 1)
            .collect()
        )
        if len(parts) > max_affected_partitions:
            raise ValueError(
                f"merge_upsert_store: batch touches more than "
                f"{max_affected_partitions} partitions; that is a malformed "
                "release (or raise max_affected_partitions explicitly)"
            )
        write_partitioned(rows, path, PARTITION_COL, "merge_upsert_store", UPSERT_KEYS)


def run_main(
    spark: SparkSession,
    json_path: str,
    population: DataFrame,
    store_path: str | None = None,
    release_id: int = 1,
    config: MetricConfig = DEFAULT_METRICS,
    release_timestamp: str | None = None,
) -> DataFrame:
    """Full EP1: returns the long store rows (and writes them if a store
    path is given).

    The result reads the rolling checkpoints of ``build_panel`` and
    ``homogenise_dates``: consume it before the next call to either (or
    to ``run_main``) on the same session, which releases those
    blocks."""
    panel = build_panel(spark, json_path)
    processed = process_panel(panel, population, config, release_timestamp)
    long = to_long_store(processed, release_id=release_id)
    if store_path:
        write_store(long, store_path)
    return long


def compact_store(
    spark: SparkSession,
    path: str,
    partitions: Sequence[str] | None = None,
    target_rows_per_file: int = 2_000_000,
) -> dict:
    """Fold of the serving store: ``store.compact`` over the
    ``partition_id`` layout. It is the housekeeping a daily-release
    store needs: upserts leave delta files and tombstones, and serving
    scan cost grows with file count, not bytes.

    Each selected ``partition_id`` (default: all) that holds a dead row
    or more than ``ceil(rows / target_rows_per_file)`` files folds
    whole: its files are read, its live rows are appended back in files
    of at most ``target_rows_per_file`` rows, and the files read are
    deleted. Clean partitions keep their files, and rows keep their
    write epochs. Once no dead row is left the tombstone table goes, so
    a raw parquet read sees the merged store again.

    A fold killed between its append and its deletes leaves duplicates
    of live rows, never a lost row. Re-running it restores the merged
    view wherever a folded partition fits in one file, since such a
    partition is then dirty again. A reader of a partition being folded
    can see that window; a table format's commit protocol closes it.
    Returns the fold report of ``store.compact``.
    """
    return compact(
        spark,
        path,
        partition_col=PARTITION_COL,
        partitions=partitions,
        target_rows_per_file=target_rows_per_file,
    )


def read_store(
    spark: SparkSession,
    path: str,
    partitions: Sequence[str] | None = None,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Serving-store reader — the merged view (``store.read_bucketed``:
    upsert tombstones applied, epoch column dropped) that a raw parquet
    read of a store with unfolded upserts does not give. The scan stays
    minimal by construction: the ``partitions`` filter is an
    equality/IN predicate on the partition column (so Spark prunes
    directories — a release's query never lists, let alone reads, other
    releases' files) and ``columns`` projects the result (so ReadSchema
    carries only what the caller and the merge need). Both properties
    are asserted by the plan regression tests; callers composing
    further filters on the result keep full pushdown since nothing here
    materialises.
    """
    df = read_bucketed(spark, path)
    if partitions is not None:
        df = df.filter(F.col(PARTITION_COL).isin(list(partitions)))
    if columns is not None:
        df = df.select(*columns)
    return df
