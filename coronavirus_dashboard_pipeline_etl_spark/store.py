"""The store layer: how every persisted store is listed, overwritten and
materialised.

Three store families sit on top of this module — the serving store
(``plans.main_pipeline``), the band-index and fingerprint dedup stores
(``functions.dedup``) and the streaming upserts (``streaming.ingest``).
They differ in layout and semantics; the storage mechanics they share
live here, once:

* filesystem access goes through Spark's Hadoop FileSystem API, never
  ``os``/``shutil`` on a local path, so a store behaves the same at
  ``/data/x``, ``file:///data/x``, ``hdfs://…`` or ``s3a://…``;
* the dynamic partition-overwrite write and the static-overwrite
  layout guard;
* the checkpoint lifecycle: ``localCheckpoint`` blocks are not cache
  entries (``unpersist`` is a no-op for them), so whoever checkpoints
  releases the blocks by RDD id once the last consumer has run —
  pinned blocks accumulating for the session is what OOM'd the r6
  sweep driver.
"""

from __future__ import annotations

import weakref
from collections.abc import Iterator
from contextlib import contextmanager

from py4j.java_gateway import JavaClass
from pyspark import SparkContext
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

_OVERWRITE_MODE_CONF = "spark.sql.sources.partitionOverwriteMode"


# -- filesystem -------------------------------------------------------


def _hadoop_path(spark: SparkSession | None, path: str):
    """``(FileSystem, Path)`` for ``path``; ``spark=None`` uses the
    active SparkContext's Hadoop configuration."""
    sc = SparkContext._active_spark_context if spark is None else spark.sparkContext
    # a JavaClass named outright costs no gateway round trip; walking
    # sc._jvm.org.apache.hadoop.fs costs one per package level
    p = JavaClass("org.apache.hadoop.fs.Path", sc._gateway._gateway_client)(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def join(path: str, name: str) -> str:
    return path.rstrip("/") + "/" + name


def _fs_write_text(spark: SparkSession | None, path: str, content: str) -> None:
    """Write a small text file through the Hadoop FS (works for local,
    s3a, hdfs, abfss — wherever the data files went). The content goes
    to a temporary sibling first and is renamed over ``path``, so a
    crash mid-write never leaves a truncated file behind."""
    fs, p = _hadoop_path(spark, path)
    tmp = p.suffix(".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    # rename-over-existing is atomic on POSIX local filesystems; HDFS
    # refuses to rename onto an existing file, so clear it and retry
    if not fs.rename(tmp, p):
        fs.delete(p, False)
        if not fs.rename(tmp, p):
            raise OSError(f"could not move {tmp.toString()} to {path}")


def _fs_read_text(spark: SparkSession | None, path: str) -> str:
    # py4j passes bytearrays by value, so Java-side stream.read(buf)
    # cannot fill a Python buffer — drain the stream JVM-side and take
    # the returned byte[] instead
    fs, p = _hadoop_path(spark, path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def exists(path: str) -> bool:
    fs, p = _hadoop_path(None, path)
    return bool(fs.exists(p))


def is_dir(path: str) -> bool:
    fs, p = _hadoop_path(None, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def delete(path: str) -> None:
    """Delete a file or a whole directory tree; a missing path is a
    no-op."""
    fs, p = _hadoop_path(None, path)
    fs.delete(p, True)


def list_files(path: str) -> list[tuple[str, int]]:
    """``(relative path, bytes)`` of every data file under ``path``,
    skipping any name that starts with ``_`` or ``.`` — the rule Spark's
    own file listing uses, so the sidecar, the tombstone table,
    ``_SUCCESS`` and checksum files never count as data. A missing path
    lists as empty."""
    fs, root = _hadoop_path(None, path)
    if not fs.exists(root):
        return []
    out = []

    def walk(p, rel: str) -> None:
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                walk(st.getPath(), rel + name + "/")
            else:
                out.append((rel + name, int(st.getLen())))

    walk(root, "")
    return out


# -- writes -----------------------------------------------------------


def read_existing(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet store at ``path``, or None when there is no store
    yet: the path is missing, or it holds no data file. Any other read
    failure propagates — treating, say, a schema conflict as "no store"
    would send the caller down its first-write path, which overwrites
    the store's partitions with just the batch's rows."""
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        if list_files(path):
            raise
        return None


def overwrite_partitions(
    df: DataFrame,
    path: str | None = None,
    partition_col: str | None = None,
    table: str | None = None,
) -> None:
    """Dynamic partition overwrite: replace exactly the partitions
    present in ``df`` at ``path`` (partitioned by ``partition_col``),
    leaving every other partition's files untouched. With ``table``,
    insert into that catalog table instead; ``insertInto`` ignores the
    writer option and reads only the session conf, so the conf is set
    for the write and restored after it."""
    if table is None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
        return
    spark = df.sparkSession
    prev = spark.conf.get(_OVERWRITE_MODE_CONF, "static")
    spark.conf.set(_OVERWRITE_MODE_CONF, "dynamic")
    try:
        df.write.mode("overwrite").insertInto(table)
    finally:
        spark.conf.set(_OVERWRITE_MODE_CONF, prev)


def require_static_overwrite(spark: SparkSession, caller: str) -> None:
    """Refuse a layout-(re)writing overwrite under a session-wide
    dynamic ``partitionOverwriteMode``: such a write relies on the whole
    path being truncated, and a dynamic overwrite replaces only the
    partitions present in the frame — partition dirs from a previous,
    larger layout would survive with rows hashed under a different
    modulus."""
    mode = spark.conf.get(_OVERWRITE_MODE_CONF, "STATIC") or "STATIC"
    if mode.upper() == "DYNAMIC":
        raise ValueError(
            f"{caller}: overwrite of a bucket-partitioned store under "
            f"{_OVERWRITE_MODE_CONF}=dynamic would leave stale bucket dirs "
            "from a previous layout — set the session back to static "
            "(the default) for store seeds/rewrites"
        )


# -- checkpoint lifecycle ---------------------------------------------


def _persistent_rdd_ids(sc) -> set[int] | None:
    """RDD ids currently pinned in the JVM block manager, or None when
    the backend doesn't expose them (e.g. Spark Connect — callers then
    skip the release and keep the blocks until the session ends rather
    than failing).

    Concurrency contract: ``checkpoint`` attributes blocks to a call by
    diffing this set around the ``localCheckpoint``, which assumes no
    OTHER thread creates persistent RDDs on this SparkContext inside
    that window — a concurrent job's checkpoint landing in the diff
    would later be released by the wrong owner, and localCheckpoint
    blocks are unrecoverable (lineage truncated), so that job would
    fail with missing-block errors. Run the checkpointing operators
    (``pagerank_fixed_point``, ``dedup_components``, the store folds
    and merges) from one driver thread at a time per SparkContext.
    Independent store WRITES may run concurrently: writing consumes
    blocks, it does not create them."""
    try:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())
    except Exception:  # noqa: BLE001
        return None


def _release_rdds(sc, ids) -> None:
    """Best-effort unpersist of checkpoint RDDs by id (non-blocking)."""
    try:
        jm = sc._jsc.getPersistentRDDs()
        for rid in ids:
            rdd = jm.get(rid)
            if rdd is not None:
                rdd.unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def checkpoint(df: DataFrame, eager: bool = True) -> tuple[DataFrame, set[int]]:
    """``df.localCheckpoint(eager)`` plus the RDD ids it pinned, for a
    later ``_release_rdds``. localCheckpoint registers its RDD as
    persistent at call time, so the ids are exact for a lazy checkpoint
    too."""
    sc = df.sparkSession.sparkContext
    before = _persistent_rdd_ids(sc)
    out = df.localCheckpoint(eager=eager)
    if before is None:
        return out, set()
    return out, (_persistent_rdd_ids(sc) or set()) - before


@contextmanager
def materialised(df: DataFrame) -> Iterator[DataFrame]:
    """Eagerly checkpoint ``df`` for the body of the ``with`` block and
    release its blocks on exit. The store pattern: a write that
    replaces the very files its plan reads must stream from executor
    blocks, not from the files being replaced, and the blocks must not
    outlive the write."""
    out, ids = checkpoint(df)
    try:
        yield out
    finally:
        _release_rdds(df.sparkSession.sparkContext, ids)


#: rolling-release registry of ``rolling_checkpoint``:
#: (owner, id(SparkContext)) -> (weakref to the context, RDD ids the
#: owner's last call pinned). The weakref guards against an id()
#: collision after the original context is collected.
_ROLLING: dict[tuple[str, int], tuple] = {}


def rolling_checkpoint(df: DataFrame, owner: str, rolling: bool = True) -> DataFrame:
    """Lazy checkpoint for an operator that RETURNS a frame reading the
    checkpoint, so it cannot release the blocks itself. The blocks stay
    pinned until the same ``owner``'s next rolling call on the same
    SparkContext, which releases them first: a daily loop holds at most
    one call's blocks, and nothing depends on garbage-collection
    timing. Contract: finish consuming one call's result before the
    next call. ``rolling=False`` hands the blocks to the caller (for an
    operator whose caller takes ownership of the checkpoint), leaving
    the owner's registered blocks alone."""
    if not rolling:
        return df.localCheckpoint(eager=False)
    sc = df.sparkSession.sparkContext
    key = (owner, id(sc))
    prev = _ROLLING.pop(key, None)
    if prev is not None and prev[0]() is sc:
        _release_rdds(sc, prev[1])
    out, ids = checkpoint(df, eager=False)
    if ids:
        _ROLLING[key] = (weakref.ref(sc), ids)
    return out
