"""Small shared helpers for the operator library."""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast


def ts_micros(col: Column | str) -> Column:
    """Exact epoch microseconds from a timestamp column of EITHER
    flavour — TIMESTAMP (LTZ) or TIMESTAMP_NTZ.

    ``F.unix_micros`` rejects TIMESTAMP_NTZ with DATATYPE_MISMATCH, and
    parquet in the wild stores both encodings (``isAdjustedToUTC``
    true/false on the same logical µs integer). The ``cast("timestamp")``
    is a no-op on LTZ input and reinterprets NTZ wall-clock under the
    session timezone — the engine pins ``spark.sql.session.timeZone=UTC``
    (session.py), so both paths yield the identical integer DuckDB's
    ``epoch_us`` computes. Every temporal operator goes through this
    helper instead of calling ``unix_micros`` directly.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def as_ltz(col: Column | str) -> Column:
    """Normalise a timestamp column to TIMESTAMP (LTZ). No-op on LTZ;
    reinterprets NTZ wall-clock under the (UTC) session timezone. Use
    BEFORE time-window operators (``F.session_window``, ``F.window``)
    whose output struct inherits the input flavour."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp")


def with_scalars(
    df: DataFrame,
    aggs: Mapping[str, Column],
    frame_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Attach frame-scoped aggregates as columns named by ``aggs``' keys.

    The frame is one group of ``frame_keys``, or the whole of ``df``
    when there are none. Per group, each aggregate is a window over
    ``Window.partitionBy(*frame_keys)``, which rides the key exchange
    the chain already has. Over the whole frame, the aggregates run as
    one 1-row ``df.agg`` (a normal distributed partial+final agg) that
    is broadcast-cross-joined back, which Catalyst plans as
    BroadcastNestedLoopJoin over a 1-row build side: zero extra
    shuffles of the fact table, and never the single-partition funnel
    ``F.max(x).over(Window.partitionBy())`` would be at 100 TB.
    """
    if frame_keys is not None:
        w = Window.partitionBy(*frame_keys)
        return df.withColumns({name: agg.over(w) for name, agg in aggs.items()})
    scalars = df.agg(*[agg.alias(name) for name, agg in aggs.items()])
    return df.crossJoin(broadcast(scalars))


def drop_helper(df: DataFrame, *cols: str) -> DataFrame:
    return df.drop(*[c for c in cols if c in df.columns])


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the plan's current layout has
    fewer partitions than the cluster has cores.

    Why conditional: heavy per-row operators (shingle/bigram builds,
    tokenisation, signature hashing) directly downstream of a scan
    inherit the SCAN's layout whenever the plan between them is
    exchange-free (broadcast joins, maps) — and a small file count
    (or single-row-group files, which byte-range splitting cannot
    parallelise) then runs the whole operator on a handful of cores
    while the rest idle (measured: d12 at sf1 spent ~50 of 61 s in
    2-task stages). At 100 TB the scan already has orders of magnitude
    more partitions than cores, the condition is false, and NO corpus
    shuffle is paid — an unconditional repartition here would be a
    full-corpus exchange for nothing.

    The partition-count probe converts the plan to an RDD (cheap, no
    job); round-robin is used rather than a key so skew cannot follow
    the data.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — e.g. Spark Connect: skip the probe
        return df
    if current < target:
        return df.repartition(target)
    return df
