"""The store layer: how every persisted store is listed, overwritten,
laid out and materialised.

Three store families sit on top of this module — the serving store
(``plans.main_pipeline``, whose foreachBatch sink is
``streaming.ingest.upsert_batch``), the band-index and fingerprint
dedup stores (``functions.dedup``) and the CDC store
(``streaming.ingest``). The storage mechanics they share live here,
once:

* filesystem access goes through Spark's Hadoop FileSystem API, never
  ``os``/``shutil`` on a local path, so a store behaves the same at
  ``/data/x``, ``file:///data/x``, ``hdfs://…`` or ``s3a://…``;
* the file format: every data and tombstone file is ZSTD-compressed
  parquet, written through ``_writer`` and nowhere else. The columns
  that dominate a store row are random hex digests (the serving
  store's ``hash``, a fingerprint, a band signature): snappy only
  removes repeats, and a digest has none, while an entropy coder
  stores hex at close to 4 bits per character. Reads need no codec:
  parquet records it per column chunk, so a store that still holds
  snappy files reads, merges and folds as before, and a fold rewrites
  the files it reads as ZSTD;
* the dynamic partition-overwrite write and the static-overwrite
  layout guard;
* one store format in two layouts: the ``_store_meta.json`` sidecar
  (epoch, schema, layout and identity), epoch-stamped rows, tombstones
  with merge-on-read, and the fold that repays their debt. The
  BUCKETED layout (the dedup stores: ``write_bucketed``) partitions on
  a hash bucket of the key columns with a size-derived bucket count,
  so a probe prunes its scan to the buckets it can match; the
  PARTITIONED layout (the serving store: ``write_partitioned``)
  partitions on a column the rows carry (``partition_id``), and an
  upsert is a batch-sized append plus tombstones. Each entry point
  reads the sidecar once and checks the caller's identity against it
  (``resolve_params``); both then write through ``_write``, the one
  write protocol: take the next epoch (the recorded one plus one),
  check the schema, then write the sidecar, the data and the
  tombstones, in that order. A write that crashes has already
  recorded its epoch, so its re-run takes a later one, and the re-run's
  tombstones kill the rows the crashed attempt left. A write that
  truncates the path (a static overwrite) writes its sidecar after the
  data instead: the truncation deletes the sidecar and the tombstones
  together with the old files. Both layouts read through
  ``read_bucketed`` and fold through ``compact``, one file-set rewrite
  for every layout and fold shape: append the live rows of the chosen
  files, then delete the files read. New files never replace the ones
  being read, so the fold takes no checkpoint, and a fold killed
  between its append and its deletes leaves duplicate rows, never a
  lost one. A store names only its key columns and its identity
  fields;
* the checkpoint lifecycle, one rule for every pin: a checkpoint is
  taken only inside a ``pins`` scope, and its blocks are released at
  the end of that scope or, for an operator that returns a frame
  reading them, at the scope owner's next call. ``localCheckpoint``
  blocks are not cache entries (``unpersist`` is a no-op for them), so
  only the scope can release them; pins nobody owned accumulating for
  the session is what OOM'd the r6 sweep driver, and what
  ``dedup_components`` (two pins a call) and ``crawl_day`` (one per
  wave) leaked before they ran in an owned scope.
"""

from __future__ import annotations

import json
import warnings
import weakref
from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from urllib.parse import unquote

from py4j.java_gateway import JavaClass
from pyspark import SparkContext
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, DataFrameReader, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

_OVERWRITE_MODE_CONF = "spark.sql.sources.partitionOverwriteMode"
_CODEC_CONF = "spark.sql.parquet.compression.codec"


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

#: the parquet codec of every store file, at parquet-mr's default level
_CODEC = "zstd"


def _writer(df: DataFrame) -> DataFrameWriter:
    """``df.write`` in the store's file format: every store data and
    tombstone file is written through here, so the format has one
    owner. A catalog table created through it records the codec in its
    options, and later ``insertInto`` writes inherit it; a table
    created without it keeps the session's codec."""
    return df.write.option("compression", _CODEC)


def read_existing(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet store at ``path``, or None when there is no store
    yet: the path is missing, or it holds no data file. Any other read
    failure propagates — treating, say, a schema conflict as "no store"
    would send the caller down its first-write path, which overwrites
    the store's partitions with just the batch's rows. A missing path
    is checked first: the read would fail on it too, but Spark logs
    that failure with a full stack trace."""
    if not exists(path):
        return None
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
    insert into that catalog table instead; ``insertInto`` ignores
    writer options and takes the overwrite mode and the codec from the
    session conf, so both confs are set for the write and restored
    after it. A table created through ``_writer`` records the codec in
    its options, which win over the conf; a table created without it
    (before the store codec) gets store-codec files from here on."""
    writer = _writer(df).mode("overwrite")
    if table is None:
        writer.option("partitionOverwriteMode", "dynamic").partitionBy(partition_col).parquet(path)
        return
    conf = df.sparkSession.conf
    prev = {k: conf.get(k) for k in (_OVERWRITE_MODE_CONF, _CODEC_CONF)}
    conf.set(_OVERWRITE_MODE_CONF, "dynamic")
    conf.set(_CODEC_CONF, _CODEC)
    try:
        writer.insertInto(table)
    finally:
        for k, v in prev.items():
            conf.set(k, v)


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

    Concurrency contract: a ``pins`` scope attributes blocks to a
    checkpoint by diffing this set around the ``localCheckpoint``,
    which assumes no OTHER thread creates persistent RDDs on this
    SparkContext inside that window — a concurrent job's checkpoint
    landing in the diff would later be released by the wrong owner, and
    localCheckpoint blocks are unrecoverable (lineage truncated), so
    that job would fail with missing-block errors. Run every pinning
    call (the ``pins`` owners ``dedup_components``,
    ``pagerank_fixed_point``, ``crawl_day`` and the rolling-pin
    operators, and the ``materialised`` store merges) from one driver
    thread at a time per SparkContext. Independent store WRITES may run
    concurrently: writing consumes blocks, it does not create them."""
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


#: rolling slots of the ``pins`` owners: (owner, id(SparkContext)) ->
#: (weakref to the context, RDD ids the owner's last call left pinned).
#: The weakref guards against an id() collision after the original
#: context is collected.
_ROLLING: dict[tuple[str, int], tuple] = {}


class _Pins:
    """The checkpoints one ``pins`` scope holds."""

    def __init__(self) -> None:
        self._sc = None
        self._held: list[tuple[DataFrame, set[int]]] = []

    def __call__(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """``df.localCheckpoint(eager)``, pinned by this scope.
        localCheckpoint registers its RDD as persistent at call time, so
        the ids the scope records are exact for a lazy checkpoint too."""
        self._sc = df.sparkSession.sparkContext
        before = _persistent_rdd_ids(self._sc)
        out = df.localCheckpoint(eager=eager)
        if before is not None:
            self._held.append((out, (_persistent_rdd_ids(self._sc) or set()) - before))
        return out

    def release(self, frame: DataFrame) -> None:
        """Drop the pin behind ``frame`` (a frame this scope returned)
        once its last consumer has run; any other frame is a no-op."""
        for i, (out, _) in enumerate(self._held):
            if out is frame:
                _release_rdds(self._sc, self._held.pop(i)[1])
                return


@contextmanager
def pins(owner: str | None = None) -> Iterator[_Pins]:
    """The one owner of every checkpoint pin. ``localCheckpoint`` blocks
    are not cache entries (``unpersist`` is a no-op on the frame), so
    the blocks must be released by RDD id, and a lazily planned frame
    cannot say when it has been consumed: the scope is that rule.
    ``pin(df, eager=True)`` checkpoints ``df`` and returns the frame;
    ``pin.release(frame)`` drops one pin early. An exception releases
    every pin the scope still holds. A normal exit releases them too
    when there is no ``owner``; with one, they move into the owner's
    rolling slot (per SparkContext) and the pins the owner's previous
    call left there are released — new checkpoints first, old release
    after, so an operator that RETURNS a frame reading its pins keeps
    exactly one call's pins. Contract: finish consuming one call's
    result before the owner's next call."""
    pin = _Pins()
    done = False
    try:
        yield pin
        done = True
    finally:
        ids = set().union(*(ids for _, ids in pin._held))
        sc = pin._sc or SparkContext._active_spark_context
        if done and owner is not None:
            # this call's pins take the owner's slot; the release below
            # then frees what the owner's previous call left there
            prev = _ROLLING.pop((owner, id(sc)), None)
            if ids:
                _ROLLING[(owner, id(sc))] = (weakref.ref(sc), ids)
            ids = prev[1] if prev is not None and prev[0]() is sc else set()
        _release_rdds(sc, ids)


@contextmanager
def materialised(df: DataFrame, eager: bool = True) -> Iterator[DataFrame]:
    """Checkpoint ``df`` for the body of the ``with`` block and release
    its blocks on exit. The store pattern: a write that replaces the
    very files its plan reads must stream from executor blocks, not
    from the files being replaced, and the blocks must not outlive the
    write. ``eager=False`` lets the body's first action fill the blocks
    (one job fewer where that action is needed anyway)."""
    with pins() as pin:
        yield pin(df, eager)


def rolling_checkpoint(df: DataFrame, owner: str, eager: bool = False) -> DataFrame:
    """Checkpoint (lazy unless ``eager``) for an operator that RETURNS a
    frame reading the checkpoint: the blocks stay pinned until the same
    ``owner``'s next call on the same SparkContext releases them
    (``pins``), so a daily loop holds at most one call's blocks and
    nothing depends on garbage-collection timing."""
    with pins(owner) as pin:
        return pin(df, eager)


# -- the store format -------------------------------------------------

#: partition column of the bucketed layout: a stable hash bucket of the
#: key columns, so a delta-sized batch prunes its scan to the buckets it
#: can possibly match (round-12 verdict item 4). A hash bucket, not a
#: raw value prefix: partition-type inference would flip an all-numeric
#: hex prefix directory set to int and break the probe's isin filter.
#: The partitioned layout records its own column in the sidecar.
STORE_BUCKET = "bucket"

#: write-epoch column of a store's rows: a tombstone ``(ids, epoch)``
#: kills the rows of those ids with a SMALLER epoch — the merge-on-read
#: half of the batch-sized upsert (round-13 verdict item 1). A row
#: without one (written before the store had a sidecar) is epoch 0.
EPOCH_COL = "__epoch"

#: epoch column of the tombstone table (named apart from EPOCH_COL so
#: the anti-join never self-shadows).
TOMB_EPOCH_COL = "__tomb_epoch"

#: sidecar file/dir names inside a store path. Both start with ``_`` so
#: Spark's parquet file listing ignores them (the same convention that
#: hides _SUCCESS): ``spark.read.parquet(store)`` sees data files only.
_META_FILE = "_store_meta.json"
_TOMBSTONE_DIR = "_tombstones"

#: sidecar key and fold-report field: the buckets file-folded since
#: their last whole-bucket merge. Cross-file duplicate rows come only
#: from a fold that crashed between its append and its deletes (a
#: replayed write takes a new epoch, and its tombstones kill the
#: crashed attempt's rows). A file-scoped fold cannot see such
#: duplicates; only a whole-bucket merge (or a full fold) drops them.
REPLAY_DEBT = "replay_duplicates_possible"


def tombstone_path(path: str) -> str:
    """The tombstone table of the store at ``path``."""
    return join(path, _TOMBSTONE_DIR)


def meta_read(path: str) -> dict | None:
    """A store's sidecar; None for a legacy store written before the
    sidecar existed (or no store at all)."""
    meta_path = join(path, _META_FILE)
    if not exists(meta_path):
        return None
    return json.loads(_fs_read_text(None, meta_path))


def _meta_write(path: str, meta: dict) -> None:
    """Persist a store's sidecar — what the directory layout cannot
    express: the layout (``buckets``, the hash→partition mapping, or
    the ``partition_col`` of the partitioned layout), the identity
    fields (a band index's ``k``/``bands``/``base_hash``, the id/fp
    column, a partitioned store's tombstone ``id_cols``), the write
    ``epoch``, the store ``schema`` and the ``REPLAY_DEBT`` buckets. It
    lives next to the data files on the same Hadoop FileSystem and is
    renamed over the old one, so a crash never leaves a truncated
    sidecar. On Delta/Iceberg the table's own properties replace it."""
    _fs_write_text(None, join(path, _META_FILE), json.dumps(meta, sort_keys=True))


def _store_schema(df: DataFrame, partition_col: str) -> dict:
    """The schema a store read sees for rows written from ``df``: the
    partition column moves last, as partition discovery puts it."""
    cols = [c for c in df.columns if c != partition_col] + [partition_col]
    return df.select(*cols).schema.jsonValue()


def _check_schema(path: str, meta: dict | None, schema: dict, caller: str) -> None:
    """Raise when a write into an existing store would change the
    columns or types its sidecar records (nullability aside): files of
    two schemas under one path read wrong or not at all."""
    recorded = (meta or {}).get("schema")

    def columns(s: dict) -> dict[str, str]:
        return {f.name: f.dataType.simpleString() for f in StructType.fromJson(s).fields}

    if recorded is not None and columns(recorded) != columns(schema):
        raise ValueError(
            f"{caller}: columns {columns(schema)} differ from the schema the "
            f"store at {path} records {columns(recorded)}"
        )


def _reader(spark: SparkSession, meta: dict | None) -> DataFrameReader:
    """``spark.read`` with the schema the sidecar records, so a store
    scan runs no schema-inference job; a sidecar without one (written
    before the field existed) falls back to inference."""
    schema = (meta or {}).get("schema")
    return spark.read if schema is None else spark.read.schema(StructType.fromJson(schema))


def _partition_key(value, partition_col: str):
    """A partition value as the fold keys it: an int bucket, else the
    string the directory name spells."""
    return int(value) if partition_col == STORE_BUCKET else str(value)


def _partition_listing(listing: list[tuple[str, int]], partition_col: str) -> dict:
    """``{partition value: [(relative path, bytes)]}`` of a store
    listing; files outside a ``partition_col=`` directory are left
    out."""
    out: dict = {}
    for rel, size in listing:
        d = rel.rpartition("/")[0]
        if d.startswith(f"{partition_col}="):
            key = _partition_key(unquote(d.split("=", 1)[1]), partition_col)
            out.setdefault(key, []).append((rel, size))
    return out


def bucket_files(
    path: str,
    listing: list[tuple[str, int]] | None = None,
    partition_col: str = STORE_BUCKET,
) -> dict:
    """Data-file sizes per partition of a store (per bucket, by
    default) — one listing walk on the driver (<= partition dirs, no
    Spark job), or none when the caller passes the ``list_files(path)``
    it already took."""
    parts = _partition_listing(list_files(path) if listing is None else listing, partition_col)
    return {k: [size for _, size in files] for k, files in parts.items()}


def resolve_params(path: str, meta: dict | None, caller: dict) -> dict:
    """The EFFECTIVE store-identity params: the sidecar ``meta`` wins.

    * ``buckets`` is pure layout — when the sidecar records it, the
      recorded value silently governs (a caller value that differed
      used to make pruned reads LOSSY with no detection; now the reader
      simply prunes with the writer's true mapping).
    * every other field (a signature family, an id/fp column name, a
      partition or tombstone column) must MATCH: a probe built
      differently from the store's rows is wrong in a way no fallback
      repairs, so a mismatch raises.
    * a legacy store with no sidecar keeps the caller's values (the
      pre-sidecar documented contract)."""
    recorded = meta or {}
    eff = {k: recorded.get(k, v) if k == "buckets" else v for k, v in caller.items()}
    bad = {
        k: {"caller": v, "store": recorded[k]}
        for k, v in caller.items()
        if k != "buckets" and k in recorded and recorded[k] != v
    }
    if bad:
        raise ValueError(
            f"store at {path}: caller params disagree with the "
            f"store's recorded identity ({_META_FILE}): {bad} — "
            "rebuild the store or call with the recorded values"
        )
    return eff


def _bucket_col(key_cols: list[str], buckets: int) -> Column:
    """``pmod(xxhash64(key_cols), buckets)`` — the store partition key.
    xxhash64 (not hash) so the bucket spread is independent of Spark's
    shuffle hashing; pmod keeps it non-negative."""
    return F.pmod(F.xxhash64(*key_cols), F.lit(buckets)).cast("int")


#: auto-bucket sizing for fresh store writes (``buckets=None``): target
#: estimated bytes per bucket. Plan-stats bytes are uncompressed
#: row-size estimates, typically 2-4x the parquet on disk, so this
#: lands bucket data files in the 128 MB-1 GB range the I/O guide
#: prescribes at corpus scale, while a KB-scale test store stays at the
#: 8-bucket floor instead of 64 near-empty files (store reads/writes at
#: that scale were dominated by per-file open + distributed-listing
#: overhead: 64 dirs also sat above the 32-dir
#: parallelPartitionDiscovery threshold, adding a listing JOB to every
#: read). The count is pure layout — pruning stays lossless at ANY
#: count (equal keys share a bucket) — so deriving it from data size is
#: safe by construction.
_AUTO_BUCKET_TARGET_BYTES = 512 * 1024 * 1024
#: per-bucket target for OBSERVED parquet bytes (the data files of the
#: store a truncating write replaces, listed at that write): parquet on
#: disk runs ~2-4x smaller than the optimizer's uncompressed row-size
#: estimate, so 256 MB on disk lands in the same 128 MB-1 GB file band
#: as the 512 MB estimate target. The store's ZSTD files are about 40%
#: smaller than snappy files of the same rows, so a reseed sized from
#: them gets fewer buckets than one sized from snappy files; the target
#: stays, because it is a band of file sizes on disk, whatever the
#: codec. Observed bytes GOVERN a reseed of a store with a sidecar —
#: the plan estimate compounds selectivity guesses and can overshoot
#: 10x on a complex writer frame (round-14 verdict), while the disk
#: does not lie about the store being replaced. A reseed that
#: materially changes the store's content size should pass ``buckets``
#: explicitly (or remove the sidecar) — the observed figure describes
#: the PREVIOUS contents.
_AUTO_BUCKET_TARGET_DISK_BYTES = 256 * 1024 * 1024
_AUTO_BUCKET_MIN = 8
_AUTO_BUCKET_MAX = 65536
#: pre-auto default, kept for stores/paths whose size cannot be
#: estimated and legacy no-sidecar stores (their files were laid out
#: with the old fixed default).
_LEGACY_BUCKETS = 64
#: optimizer sizeInBytes at/above this means "statistics unknown"
#: (Spark falls back to spark.sql.defaultSizeInBytes = Long.MaxValue
#: for e.g. LogicalRDD/localCheckpoint inputs).
_STATS_UNKNOWN_BYTES = 1 << 60


def _auto_buckets(df: DataFrame, meta: dict | None = None, path: str | None = None) -> int:
    """Scale-adaptive bucket count for a fresh store write: ceil of the
    store's size over the per-bucket target, clamped to
    [``_AUTO_BUCKET_MIN``, ``_AUTO_BUCKET_MAX``] and rounded up to a
    power of two (stores reseeded at slightly different sizes tend to
    keep their layout). No job runs. The size figure, best first:

    * the OBSERVED bytes of the data files at ``path``, from one
      ``list_files`` of the store being replaced, when it has a sidecar
      (``meta``) — ground truth for a reseed, immune to the optimizer's
      selectivity-compounding overshoot (see
      ``_AUTO_BUCKET_TARGET_DISK_BYTES``); it overrides the ESTIMATE
      only, never the no-size-signal fallback below, and a legacy
      store without a sidecar sizes from the estimate;
    * else the logical plan's ``sizeInBytes`` estimate (column-width
      scaling over the scan size) — an order-of-magnitude figure,
      which is all a layout choice needs;
    * with no size signal at all (checkpointed/RDD-backed input, no
      stats) the store's previously recorded ``buckets`` (an overwrite
      keeps its layout) or the legacy fixed default."""

    def clamp(n: int) -> int:
        n = 1 << (int(n) - 1).bit_length()
        return max(_AUTO_BUCKET_MIN, min(_AUTO_BUCKET_MAX, n))

    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — e.g. Spark Connect
        est = _STATS_UNKNOWN_BYTES
    if est >= _STATS_UNKNOWN_BYTES:
        if meta and isinstance(meta.get("buckets"), int):
            return meta["buckets"]
        return _LEGACY_BUCKETS
    observed = sum(size for _, size in list_files(path)) if meta and path else 0
    if observed > 0:
        return clamp(-(-observed // _AUTO_BUCKET_TARGET_DISK_BYTES))
    return clamp(max(1, -(-est // _AUTO_BUCKET_TARGET_BYTES)))


def _write_buckets(
    df: DataFrame,
    path: str,
    nparts: int,
    mode: str,
    partition_col: str = STORE_BUCKET,
    max_rows: int = 0,
) -> None:
    """Write ``df`` partitioned by its ``partition_col`` (the bucket, by
    default), repartitioned ON that key first: a partitionBy write fans
    out one file per (task, partition) pair, so without this every
    writer task sprays all partition directories (measured: 1,850 files
    in st8's store at sf0.1, 6x its steady time in file/task overhead).
    One slim shuffle buys one file per partition; a positive
    ``max_rows`` caps a file at that many rows."""
    writer = _writer(df.repartition(nparts, F.col(partition_col))).partitionBy(partition_col)
    if max_rows > 0:
        writer = writer.option("maxRecordsPerFile", max_rows)
    writer.mode(mode).parquet(path)


@contextmanager
def _write(
    df: DataFrame,
    path: str,
    caller: str,
    meta: dict | None,
    record: dict | None,
    in_place: bool,
    tombstones: DataFrame | None = None,
    epochs: bool = True,
) -> Iterator[DataFrame]:
    """The one write protocol of the store format, for both layouts:
    the body of the ``with`` writes the rows it is given. ``meta`` is
    the sidecar the layout's entry point read (once), ``record`` what
    the sidecar records after the write (None: a legacy store that
    keeps no sidecar), whose ``partition_col`` the rows carry (the
    bucket when it names none).

    1. The write's epoch is the recorded one plus one (a store without
       a sidecar is epoch 0); ``epochs`` stamps it on every row.
    2. A write ``in_place`` (an append or a dynamic overwrite: it adds
       files and keeps the rest of the path) checks the schema against
       the recorded one and writes the sidecar BEFORE the data, so a
       write that crashes keeps an epoch no later write reuses, and the
       re-run's tombstones kill the rows the crashed attempt left. The
       sidecar is rewritten only when its record changes.
    3. The rows, then the ``tombstones`` (a frame of ids) at the epoch,
       which kill every older row of those ids. A crash between the two
       leaves an id's old and new rows visible until the write is
       re-run or the store is folded (over-generation, never loss).
    4. A write that is not in place writes its sidecar AFTER the data.
       A static overwrite truncates the path, which deletes the old
       sidecar and tombstones together with the old files, so a sidecar
       written first would go with them; an ``ignore`` or ``error``
       write must find no path there."""
    epoch = int((meta or {}).get("epoch", 0)) + 1
    if epochs:
        df = df.withColumn(EPOCH_COL, F.lit(epoch).cast("int"))
    schema = _store_schema(df, (record or {}).get("partition_col", STORE_BUCKET))
    if in_place:
        _check_schema(path, meta, schema, caller)
    if record is not None:
        record = {**record, "schema": schema, **({"epoch": epoch} if epochs else {})}
    if in_place and record != meta:
        _meta_write(path, record)
    yield df
    if tombstones is not None:
        _append_tombstones(tombstones, path, epoch)
    if not in_place and record is not None:
        _meta_write(path, record)


def write_bucketed(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    identity: dict,
    buckets: int | None,
    mode: str,
    caller: str,
    tombstones: DataFrame | None = None,
    epochs: bool = False,
) -> None:
    """Write ``df`` into the bucketed store at ``path``, hashed on
    ``key_cols``, through the store's one write protocol (``_write``).

    An ``append`` into an existing store checks ``identity`` against
    the sidecar (``resolve_params``) and keeps the recorded
    ``buckets``: an append hashed with another count would scatter
    equal keys across buckets and make pruning silently lossy. A legacy
    no-sidecar store keeps the fixed count its files were hashed with
    unless the caller fixes one, records no sidecar and refuses
    ``tombstones``; a path with no store yet takes none, as no row is
    older. An ``ignore`` write into an existing store changes
    nothing, as Spark skips it. Any other write takes the caller's
    ``buckets`` or ``_auto_buckets`` and records ``identity`` with it;
    an overwrite must truncate the whole path
    (``require_static_overwrite``). Only an ``append`` is in place: an
    overwrite truncates the path, and Spark would skip an ``ignore``
    write, or refuse an ``error`` one, to a new path that a sidecar
    written first had created. ``epochs`` stamps the rows with the
    write's epoch; a store that takes ``tombstones`` needs them."""
    reserved = [c for c in (STORE_BUCKET, EPOCH_COL) if c in df.columns]
    if reserved:
        raise ValueError(
            f"{caller}: frame already carries a reserved column {reserved}"
        )
    if mode == "overwrite":
        require_static_overwrite(df.sparkSession, caller)
    meta = meta_read(path)
    keep = mode in ("append", "ignore") and (meta is not None or is_dir(path))
    if keep and mode == "ignore":
        return
    if keep and meta is None and tombstones is not None:
        raise ValueError(
            f"{caller}: store at {path} predates the sidecar — rewrite it "
            "once with an overwrite before upserting"
        )
    if keep:
        buckets = resolve_params(path, meta, {**identity, "buckets": buckets})["buckets"]
    buckets = buckets or (_LEGACY_BUCKETS if keep else _auto_buckets(df, meta, path))
    rows = df.withColumn(STORE_BUCKET, _bucket_col(key_cols, buckets))
    record = meta if keep else {**identity, "buckets": buckets}
    tombstones = tombstones if keep else None
    with _write(rows, path, caller, meta, record, mode == "append", tombstones, epochs) as rows:
        _write_buckets(rows, path, buckets, mode)


def _append_tombstones(ids: DataFrame, path: str, epoch: int) -> None:
    """Append one tombstone per row of ``ids`` at ``epoch``: one
    id-sized file per write, narrowed without a shuffle."""
    tomb = ids.withColumn(TOMB_EPOCH_COL, F.lit(epoch).cast("int")).coalesce(1)
    _writer(tomb).mode("append").parquet(tombstone_path(path))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str,
    caller: str,
    id_cols: list[str] | None = None,
) -> None:
    """Write ``df`` into the PARTITIONED-layout store at ``path``,
    partitioned on its own ``partition_col``, through the store's one
    write protocol (``_write``): every row carries the write's epoch.
    Without ``id_cols`` the write replaces the partitions present in
    ``df`` (dynamic overwrite, a publish); with them it is an UPSERT:
    ``df`` appends under its partitions and one tombstone per row kills
    every older row with the same ``id_cols`` (merge-on-read, so only
    ``read_bucketed`` sees the merged view until ``compact`` folds it).
    ``df`` must carry each ``id_cols`` value once. Both keep the rest of
    the path, so both are in place, and both check the layout and
    ``id_cols`` against the sidecar (``resolve_params``). A store
    without a sidecar reads as epoch 0 and gets one; a missing path or a
    directory with no data files takes the upsert without tombstones,
    and any other read failure of such a store propagates before
    anything is written. A dynamic overwrite that crashes between
    staging and rename can lose a partition."""
    meta = meta_read(path)
    identity = {"partition_col": partition_col, **({"id_cols": id_cols} if id_cols else {})}
    resolve_params(path, meta, identity)
    tombstoned = id_cols is not None and (
        meta is not None or read_existing(df.sparkSession, path) is not None
    )
    tombstones = df.select(*id_cols) if tombstoned else None
    with _write(df, path, caller, meta, {**(meta or {}), **identity}, True, tombstones) as rows:
        if id_cols is None:
            overwrite_partitions(rows, path, partition_col)
        else:
            _writer(rows).mode("append").partitionBy(partition_col).parquet(path)


#: driver-side size guard for the tombstone broadcast: the latest-
#: tombstone-per-id table is bounded by (ids re-crawled since the last
#: compaction) BY CONTRACT, not by construction — a deployment that
#: upserts daily but never compacts grows it without bound and the
#: merge-on-read anti-join broadcast becomes the cliff. The read path
#: sums the tombstone files' on-disk bytes from the listing it already
#: takes (no Spark job) and warns past this threshold, naming the fix.
_TOMB_WARN_BYTES = 256 * 1024 * 1024


def _tombstones(spark: SparkSession, path: str, df: DataFrame, ids: list[str]) -> DataFrame:
    """The raw tombstone table, read with the types of the store's id
    columns (``df`` is the store scan), so it runs no inference job."""
    schema = StructType(
        [df.schema[c] for c in ids] + [StructField(TOMB_EPOCH_COL, IntegerType())]
    )
    return spark.read.schema(schema).parquet(tombstone_path(path))


def _latest_tombstones(
    spark: SparkSession,
    path: str,
    meta: dict | None,
    df: DataFrame,
    listing: list[tuple[str, int]],
) -> tuple[DataFrame, list[str]]:
    """``(latest tombstone epoch per id, id columns)`` of an upserted
    store whose tombstone table lists as ``listing``: a store row is
    dead iff ``row.epoch < latest tombstone epoch`` for its ids (some
    later write re-wrote or deleted it). Raises on a store that has
    tombstones but predates the epoch/meta sidecar; warns when the
    tombstone table has grown past the broadcast-comfort threshold —
    compaction cadence is the knob."""
    meta = meta or {}
    ids = meta.get("id_cols") or ([meta["id_col"]] if "id_col" in meta else None)
    if ids is None or EPOCH_COL not in df.columns:
        raise ValueError(
            f"store at {path} has tombstones but no usable epoch/id "
            "metadata — it was mixed with a legacy writer; rebuild it "
            "with its writer"
        )
    on_disk = sum(size for _, size in listing)
    if on_disk > _TOMB_WARN_BYTES:
        warnings.warn(
            f"store at {path}: tombstone table is {on_disk >> 20} MiB on "
            "disk — the merge-on-read anti-join broadcasts it on every "
            "read; run its compaction to fold it back into the data files",
            RuntimeWarning,
            stacklevel=4,
        )
    # one task, no exchange: the table is delta-sized by contract and
    # the broadcast collects it to the driver anyway
    tomb = (
        _tombstones(spark, path, df, ids)
        .coalesce(1)
        .groupBy(*[F.col(c).alias(f"__tomb_{c}") for c in ids])
        .agg(F.max(TOMB_EPOCH_COL).alias(TOMB_EPOCH_COL))
    )
    return tomb, ids


def _dead(df: DataFrame, tomb: DataFrame, ids: list[str]) -> Column:
    """Join condition matching the rows of ``df`` a tombstone kills."""
    dead = F.coalesce(df[EPOCH_COL], F.lit(0)) < tomb[TOMB_EPOCH_COL]
    for c in ids:
        dead = (df[c] == tomb[f"__tomb_{c}"]) & dead
    return dead


def _live(df: DataFrame, tomb: DataFrame, ids: list[str]) -> DataFrame:
    """Merge-on-read: anti-join the raw store rows against the latest
    tombstone epoch per id. The tombstone table is delta-sized by
    contract (one row per batch id per write, folded away by
    ``compact``), so the anti-join broadcasts it; the store side never
    shuffles."""
    return df.join(F.broadcast(tomb), _dead(df, tomb, ids), "left_anti")


def read_bucketed(
    spark: SparkSession,
    path: str,
    params: dict | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """The live rows of the store at ``path``, in either layout
    (tombstones applied, no bucket or epoch column); ``params`` are the
    caller's identity fields, checked by ``resolve_params``. The scan
    takes the schema the sidecar records, so building the read runs no
    job. With ``probe`` — a frame of the key columns in the writer's
    hash order — a bucketed store reads only the buckets its keys hash
    into (parquet ``PartitionFilters``): lossless for an equi-join on
    the keys, since equal keys share a bucket, at the cost of one
    probe-sized pass and a <= ``buckets``-int driver collect. A legacy
    unpartitioned store falls back to the full scan."""
    meta = meta_read(path)
    eff = resolve_params(path, meta, params or {})
    df = _reader(spark, meta).parquet(path)
    bucketed = "partition_col" not in (meta or {}) and STORE_BUCKET in df.columns
    if probe is not None and bucketed:
        buckets = eff["buckets"]
        touched = sorted(
            r[0]
            for r in probe.select(_bucket_col(probe.columns, buckets).alias("__b"))
            .distinct()
            .limit(buckets + 1)
            .collect()
        )
        df = df.filter(F.col(STORE_BUCKET).isin(touched))
    listing = list_files(tombstone_path(path))
    if listing:
        df = _live(df, *_latest_tombstones(spark, path, meta, df, listing))
    return df.drop(EPOCH_COL, *([STORE_BUCKET] if bucketed else []))


def compact(
    spark: SparkSession,
    path: str,
    max_files_per_bucket: int = 4,
    incremental: bool = False,
    bucket_budget: int | None = None,
    partition_col: str = STORE_BUCKET,
    partitions: Sequence | None = None,
    target_rows_per_file: int = 2_000_000,
) -> dict:
    """Fold a store's merge-on-read debt (dead rows, small files) back
    into clean data files. One mechanism serves both layouts and every
    fold shape — Iceberg's ``rewrite_data_files``: rewrite a chosen file
    set, then remove the originals.

    1. Take the store listing once.
    2. One grouped stats pass counts each partition's rows and dead rows
       (the rows the broadcast latest-tombstone table kills). It runs
       when the pick needs it: on a tombstoned store, and for the
       partitioned layout's file-count test.
    3. Pick the file set: every file of a chosen partition, from the
       listing; or, in a FILE-SCOPED fold, only the files that hold a
       dead row, from one collect scoped to the budgeted buckets.
    4. Read exactly those files and keep the live rows. An epoch-stamped
       store also drops exact duplicates, which only a crashed fold can
       make there (a re-run write takes a new epoch, and its tombstones
       kill the crashed attempt's rows); an append-only store without
       epochs keeps its rows as they are.
    5. Append them back, one file per partition, each file at most
       ``target_rows_per_file`` rows.
    6. Delete exactly the files read.
    7. Once no dead row is left anywhere, delete the tombstone table.

    The partitions that fold (``partition_col`` names the column of a
    store without a sidecar):

    * PARTITIONED layout: each of ``partitions`` (default: all) that
      holds a dead row or more files than ``ceil(rows /
      target_rows_per_file)``, whole. A clean partition keeps its files.
    * BUCKETED layout with tombstones and ``incremental=False``: every
      bucket, whole. This full fold is the amortised corpus-sized op
      that keeps the daily upsert batch-sized (Delta OPTIMIZE).
    * BUCKETED layout otherwise: the buckets that hold a dead row or
      more than ``max_files_per_bucket`` files, dead-heaviest first,
      then by file count and bucket id; with tombstones and
      ``incremental``, only the first ``bucket_budget`` of them. A
      bucket over the file limit folds whole: its debt is the file
      count, and the whole-bucket fold also drops the duplicate rows a
      crashed fold left in two files. Any other bucket folds
      file-scoped, so its clean files keep their bytes and the run
      writes dead-file bytes only, the cadence knob for a store too
      large to fold in one window. A file-scoped fold cannot see
      duplicates across files, so the sidecar and the report's
      ``REPLAY_DEBT`` list the bucket until it next folds whole.

    Crash contract: new files never replace the files being read, so
    the fold takes no checkpoint, and every append lands before the
    first delete. A crash in between leaves both copies of the rows it
    moved: live rows show as exact duplicates (over-generation, never
    loss), and dead rows stay masked, because the tombstones go only
    after the deletes. A re-run folds whole, and so drops the
    duplicates of, each partition still dirty: one that holds a dead
    row or more files than its rows need, as a partition that fits in
    one file always does after such a crash. In the bucketed layout a
    full fold drops them everywhere. Tombstones kept after a partial
    fold are harmless over the folded partitions: no surviving row
    there is older than its id's latest tombstone.

    Returns a report for runtime auditing: files, data-file bytes
    (summed from the listings the fold takes anyway) and partitions
    (``buckets_*``) before and after, partitions and files rewritten,
    dead rows before, folded and remaining, tombstones folded and
    whether they cleared, and ``REPLAY_DEBT``. The call reads the
    sidecar once; it writes it only in the bucketed layout, once, when
    the debt it records changes."""
    meta = meta_read(path)
    part = (meta or {}).get("partition_col", partition_col)
    bucketed = part == STORE_BUCKET
    files = _partition_listing(list_files(path), part)
    tomb_listing = list_files(tombstone_path(path))
    raw = _reader(spark, meta).parquet(path) if files else None
    tomb = ids = None
    if raw is not None and tomb_listing:
        tomb, ids = _latest_tombstones(spark, path, meta, raw, tomb_listing)
    rows, dead = {}, {}
    if tomb is not None or (raw is not None and not bucketed):
        slim, killed = raw.select(part), F.lit(None)
        if tomb is not None:
            slim = raw.select(part, *ids, EPOCH_COL)
            slim = slim.join(F.broadcast(tomb), _dead(slim, tomb, ids), "left")
            killed = F.col(TOMB_EPOCH_COL)
        stats = slim.groupBy(part).agg(F.count(F.lit(1)), F.count(killed))
        for value, n, d in stats.limit(len(files) + 1).collect():
            key = _partition_key(value, part)
            rows[key] = n
            if d:
                dead[key] = d

    fat = {p for p, fs in files.items() if len(fs) > max_files_per_bucket}
    if not bucketed:
        fold = [
            p
            for p in sorted(files)
            if (p in dead or len(files[p]) > -(-rows.get(p, 0) // target_rows_per_file))
            and (partitions is None or p in partitions)
        ]
    elif tomb is not None and not incremental:
        fold = sorted(files)
    else:
        fold = sorted(set(dead) | fat, key=lambda b: (-dead.get(b, 0), -len(files[b]) * (b in fat), b))
        if tomb is not None and bucket_budget is not None:
            fold = fold[:bucket_budget]
    scoped = [b for b in fold if b not in fat] if bucketed and tomb is not None and incremental else []
    read = [join(path, rel) for p in fold if p not in scoped for rel, _ in files[p]]
    if scoped:
        slim = raw.filter(F.col(part).isin(scoped)).select(
            *ids, EPOCH_COL, F.input_file_name().alias("__file")
        )
        read += sorted(
            unquote(r[0])
            for r in slim.join(F.broadcast(tomb), _dead(slim, tomb, ids), "left_semi")
            .select("__file")
            .distinct()
            .limit(sum(len(files[b]) for b in scoped) + 1)
            .collect()
        )
    if read:
        live = _reader(spark, meta).option("basePath", path).parquet(*read)
        if tomb is not None:
            live = _live(live, tomb, ids)
        live = live.repartition(len(fold), F.col(part))
        if EPOCH_COL in live.columns:
            # clustered on the partition column already: the dedup adds
            # no shuffle, and the write's own repartition is dropped
            live = live.dropDuplicates()
        _write_buckets(live, path, len(fold), "append", part, target_rows_per_file)
        for f in read:
            delete(f)

    folded = sum(dead.get(p, 0) for p in fold)
    cleared = tomb is not None and folded == sum(dead.values())
    tombstones_folded = _tombstones(spark, path, raw, ids).coalesce(1).count() if cleared else 0
    if cleared:
        delete(tombstone_path(path))
    after = _partition_listing(list_files(path), part)
    for p in set(fold) - set(after):  # every row was dead: drop the empty directory
        delete(join(path, files[p][0][0].rpartition("/")[0]))
    whole = set(fold) - set(scoped)
    debt = ((set((meta or {}).get(REPLAY_DEBT, [])) | set(scoped)) - whole) & set(after)
    if meta is not None and bucketed and set(meta.get(REPLAY_DEBT, [])) != debt:
        meta = {k: v for k, v in meta.items() if k != REPLAY_DEBT}
        _meta_write(path, {**meta, **({REPLAY_DEBT: sorted(debt)} if debt else {})})
    return {
        "files_before": sum(map(len, files.values())),
        "bytes_before": sum(size for fs in files.values() for _, size in fs),
        "buckets_before": len(files),
        "buckets_rewritten": len(fold),
        "files_rewritten": len(read),
        "dead_rows_before": sum(dead.values()),
        "dead_rows_folded": folded,
        "dead_rows_remaining": sum(dead.values()) - folded,
        "tombstones_folded": tombstones_folded,
        "tombstones_cleared": cleared,
        "files_after": sum(map(len, after.values())),
        "bytes_after": sum(size for fs in after.values() for _, size in fs),
        "buckets_after": len(after),
        REPLAY_DEBT: sorted(debt),
    }
