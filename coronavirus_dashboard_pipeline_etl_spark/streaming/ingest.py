"""Streaming ingest — the reference's trigger model on Spark rails.

The reference has NO stream processing (SURVEY.md §2.9): every pipeline
is an event-triggered batch (HTTP/Service-Bus/blob/timer), late data is
handled by full-snapshot reprocessing, and revisions overwrite payloads
for an existing (hash, partition_id) (``db_etl_upload/uploader.py:
320-325``). The faithful Spark translation is a file-source
``readStream`` + ``foreachBatch`` hash-upsert with
``Trigger.AvailableNow`` — each arriving release file becomes one
idempotent micro-batch, exactly the reference's "blob landed, run the
ETL" behaviour, with checkpointed exactly-once file tracking replacing
the Service-Bus dedup/retry machinery.

No watermarks or session windows are needed for parity; a deployment
that wants continuous ingest flips ``available_now=False`` and gets the
same plan running forever.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.dedup import band_index_upsert_write
from ..plans.main_pipeline import merge_upsert_store
from ..store import _writer, materialised, read_existing


#: the serving store's foreachBatch sink: the store's one upsert
upsert_batch = merge_upsert_store


def stream_release_files(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
    schema: str,
    fmt: str = "json",
    available_now: bool = True,
) -> StreamingQuery:
    """File-source stream -> transform -> foreachBatch sink.

    ``transform`` is any composition of the engine's operators (they are
    plain DataFrame -> DataFrame functions, so batch pipelines reuse
    unchanged); ``sink`` receives (batch_df, batch_id) — pass a closure
    over ``upsert_batch`` for the serving store.
    """
    stream = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(input_dir)
    )
    out = transform(stream)
    writer = (
        out.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: per-key applied-sequence state column persisted in CDC stores by
#: ``cdc_apply_batch`` — the store remembers, for every live key, the
#: ``seq`` of the change that last wrote it, so a late lower-seq batch
#: (replayed file, mis-ordered source) is DETECTABLE at apply time
#: instead of silently overwriting newer rows.
CDC_SEQ_STATE = "__seq"


def cdc_apply_batch(
    batch: DataFrame,
    store_path: str,
    keys: tuple[str, ...],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
    tiebreak_cols: tuple[str, ...] = (),
    seq_guard: str = "error",
) -> None:
    """Apply one CDC micro-batch to a parquet snapshot store — the
    ``foreachBatch`` sink form of ``operators.asof.apply_changes``
    (pass a closure over this to ``stream_release_files`` for a live
    change-stream upsert).

    Correctness across batches rests on the operator's pinned
    composability property (sequential wave application == one-shot
    union apply, ``test_apply_changes_sequential_equals_union``): as
    long as the stream delivers batches in non-decreasing ``seq``
    order (file source, oldest-first — the default), the store after
    the last batch equals ``apply_changes`` over the full stream.
    Within a batch the usual (seq, tiebreaks) latest-wins rule
    resolves collisions; ``tiebreak_cols`` must totalise the order
    inside one batch exactly as in the batch operator.

    The in-order precondition is ENFORCED, not assumed: the store
    persists a per-key ``__seq`` column (``CDC_SEQ_STATE``, the seq of
    the change that last wrote the key), and an incoming change whose
    ``seq`` is BELOW the stored value is a protocol violation —
    ``seq_guard="error"`` (default) raises loudly, ``"skip"`` drops
    the stale rows (the documented recovery mode for a source that can
    replay old files), ``"off"`` restores the unguarded behaviour.
    ``seq == stored`` passes, so foreachBatch's at-least-once redelivery
    of the SAME batch after a crash stays idempotent. A NULL ``seq``
    in the batch is rejected loudly under ``"error"`` and ``"skip"``
    (the guard cannot order a NULL sequence — three-valued logic would
    silently drop it under ``"skip"``); ``"off"`` accepts it unguarded. Two bounded gaps,
    both inherent to snapshot-only state: a tombstone removes its key's
    row and therefore its seq state (a later stale re-insert of a
    deleted key is undetectable without a tombstone-retention table),
    and stores written before this guard carry no ``__seq`` (NULL state
    passes vacuously until the key is next written).

    First batch bootstraps an empty snapshot with the batch's value
    columns. The merged frame is eagerly materialised BEFORE the
    overwrite — its plan reads the store path it is about to replace.
    On Delta/Iceberg this becomes MERGE INTO; the call-site contract
    is unchanged.
    """
    from ..operators.asof import apply_changes

    if seq_guard not in ("error", "skip", "off"):
        raise ValueError(
            f"cdc_apply_batch: seq_guard must be 'error', 'skip' or "
            f"'off', got {seq_guard!r}"
        )
    if CDC_SEQ_STATE in batch.columns:
        raise ValueError(
            f"cdc_apply_batch: batch must not carry the reserved "
            f"state column {CDC_SEQ_STATE!r}"
        )
    seq_type = batch.schema[seq_col].dataType
    # only an absent or empty store means "first write" — any other
    # read failure propagates (treating it as first-write would
    # overwrite the whole store with one batch's rows)
    snapshot = read_existing(batch.sparkSession, store_path)
    if snapshot is None:
        snapshot = batch.drop(seq_col, op_col, *tiebreak_cols).limit(0)
    if CDC_SEQ_STATE not in snapshot.columns:
        # pre-guard store (or first-batch bootstrap): unknown
        # provenance — NULL state passes the guard vacuously and is
        # replaced by the real seq on the key's next write
        snapshot = snapshot.withColumn(
            CDC_SEQ_STATE, F.lit(None).cast(seq_type)
        )
    # stale-change detection: key-wise lookup of the stored seq. The
    # extra pass is a two-column (keys, __seq) pruned scan of the
    # store; the batch side is delta-sized, so the join broadcasts
    # whenever the delta does — same cost class as the anti-join
    # inside apply_changes.
    stored = snapshot.select(
        *keys, F.col(CDC_SEQ_STATE).alias("__stored_seq")
    )
    guarded = batch.join(stored, on=list(keys), how="left")
    if seq_guard != "off":
        # the stale predicate is three-valued under a NULL seq: 'skip'
        # would silently drop the row (filter(~NULL) drops) and 'error'
        # would raise the misleading out-of-order message — reject NULL
        # seq loudly with its own message, same convention as the
        # NULL-op/NULL-key asserts in apply_changes. Woven into seq_col
        # itself so every downstream use (the stale comparison, the
        # window ordering) forces the assert before any row can be
        # filtered away.
        seq_asserted = (
            F.when(F.col(seq_col).isNotNull(), F.col(seq_col))
            .otherwise(
                F.assert_true(
                    F.lit(False),
                    F.lit(
                        f"cdc_apply_batch: NULL {seq_col} in change "
                        "stream — the seq guard cannot order a NULL "
                        "sequence; fix the source or pass "
                        "seq_guard='off'"
                    ),
                ).cast(seq_type)
            )
            .alias(seq_col)
        )
        guarded = guarded.select(
            *[seq_asserted if c == seq_col else F.col(c) for c in guarded.columns]
        )
    stale = F.col("__stored_seq").isNotNull() & (
        F.col(seq_col) < F.col("__stored_seq")
    )
    if seq_guard == "error":
        # weave the assert into the first key column — every change
        # row's key is evaluated by the window/anti-join downstream,
        # so a stale row cannot slip through unevaluated (an added-
        # then-dropped assert column would be pruned away)
        k0 = keys[0]
        k0_type = batch.schema[k0].dataType
        guard = (
            F.when(~stale, F.col(k0))
            .otherwise(
                F.assert_true(
                    F.lit(False),
                    F.lit(
                        f"cdc_apply_batch: change with {seq_col} below "
                        f"the stored {CDC_SEQ_STATE} arrived out of "
                        "order; replay the source in order or pass "
                        "seq_guard='skip' to drop stale rows"
                    ),
                ).cast(k0_type)
            )
            .alias(k0)
        )
        guarded = guarded.select(
            *[guard if c == k0 else F.col(c) for c in batch.columns]
        )
    elif seq_guard == "skip":
        guarded = guarded.filter(~stale).select(*batch.columns)
    else:
        guarded = guarded.select(*batch.columns)
    # carry the winning seq into the store as state: __seq is just
    # another value column for apply_changes, so the per-key winner's
    # seq lands in the merged snapshot with no extra join
    merged = apply_changes(
        snapshot,
        guarded.withColumn(CDC_SEQ_STATE, F.col(seq_col).cast(seq_type)),
        keys=list(keys),
        seq_col=seq_col,
        op_col=op_col,
        delete_op=delete_op,
        tiebreak_cols=list(tiebreak_cols),
    )
    with materialised(merged) as rows:
        _writer(rows).mode("overwrite").parquet(store_path)


#: the band index's foreachBatch sink: the batch-sized upsert
index_upsert_batch = band_index_upsert_write

