"""The store layer: how every persisted store is listed, overwritten,
laid out and materialised.

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
* the bucketed-store format the dedup stores are written in: the
  ``_store_meta.json`` sidecar, the hash-bucket expression and its
  size-derived bucket count, the bucket-partitioned write, tombstones
  with merge-on-read, and the fold that repays their debt
  (``write_bucketed``, ``read_bucketed``, ``compact``); a dedup store
  names only its key columns and its identity fields;
* the checkpoint lifecycle: ``localCheckpoint`` blocks are not cache
  entries (``unpersist`` is a no-op for them), so whoever checkpoints
  releases the blocks by RDD id once the last consumer has run —
  pinned blocks accumulating for the session is what OOM'd the r6
  sweep driver.
"""

from __future__ import annotations

import json
import warnings
import weakref
from collections.abc import Iterator
from contextlib import contextmanager
from urllib.parse import unquote

from py4j.java_gateway import JavaClass
from pyspark import SparkContext
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

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


# -- bucketed stores --------------------------------------------------

#: partition column of a bucketed store: a stable hash bucket of the
#: key columns, so a delta-sized batch prunes its scan to the buckets it
#: can possibly match (round-12 verdict item 4). A hash bucket, not a
#: raw value prefix: partition-type inference would flip an all-numeric
#: hex prefix directory set to int and break the probe's isin filter.
STORE_BUCKET = "bucket"

#: write-epoch column of an upserted store's rows: a tombstone
#: ``(id, epoch)`` kills that id's rows with a SMALLER epoch — the
#: merge-on-read half of the batch-sized upsert (round-13 verdict item 1).
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
#: their last whole-bucket merge. A file-scoped fold cannot see
#: duplicate rows a replayed wave left in two different files; only a
#: whole-bucket merge (or a full fold) drops them.
REPLAY_DEBT = "replay_duplicates_possible"


def tombstone_path(path: str) -> str:
    """The tombstone table of the bucketed store at ``path``."""
    return join(path, _TOMBSTONE_DIR)


def meta_read(path: str) -> dict | None:
    """A bucketed store's sidecar; None for a legacy store written
    before the sidecar existed (or no store at all)."""
    meta_path = join(path, _META_FILE)
    if not exists(meta_path):
        return None
    return json.loads(_fs_read_text(None, meta_path))


def _meta_write(path: str, meta: dict, listing: list[tuple[str, int]]) -> None:
    """Persist a store's sidecar — what the directory layout cannot
    express: ``buckets`` (the hash→partition mapping), the identity
    fields (a band index's ``k``/``bands``/``base_hash``, the id/fp
    column), the upsert ``epoch``, the ``REPLAY_DEBT`` buckets and the
    observed ``data_bytes`` summed from ``listing`` (a ``list_files``
    taken after the write), which ``_auto_buckets`` trusts over the
    optimizer's estimate on a reseed (round-14 verdict). It lives next
    to the data files on the same Hadoop FileSystem and is renamed over
    the old one, so a crash never leaves a truncated sidecar. On
    Delta/Iceberg the table's own properties replace it."""
    data_bytes = sum(sum(v) for v in bucket_files(path, listing).values())
    _fs_write_text(
        None,
        join(path, _META_FILE),
        json.dumps({**meta, "data_bytes": data_bytes}, sort_keys=True),
    )


def bucket_files(
    path: str, listing: list[tuple[str, int]] | None = None
) -> dict[int, list[int]]:
    """Data-file sizes per bucket of a store — one listing walk on the
    driver (<= buckets dirs, no Spark job), or none when the caller
    passes the ``list_files(path)`` it already took."""
    out: dict[int, list[int]] = {}
    for rel, size in list_files(path) if listing is None else listing:
        d = rel.rpartition("/")[0]
        if d.startswith(f"{STORE_BUCKET}="):
            out.setdefault(int(d.split("=", 1)[1]), []).append(size)
    return out


def resolve_params(path: str, meta: dict | None, caller: dict) -> dict:
    """The EFFECTIVE store-identity params: the sidecar ``meta`` wins.

    * ``buckets`` is pure layout — when the sidecar records it, the
      recorded value silently governs (a caller value that differed
      used to make pruned reads LOSSY with no detection; now the reader
      simply prunes with the writer's true mapping).
    * every other field (a signature family, an id/fp column name) must
      MATCH: a probe built differently from the store's rows is wrong
      in a way no fallback repairs, so a mismatch raises.
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
            f"dedup store at {path}: caller params disagree with the "
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
#: per-bucket target for OBSERVED parquet bytes (the sidecar's
#: ``data_bytes``, recorded after every store write): parquet on disk
#: runs ~2-4x smaller than the optimizer's uncompressed row-size
#: estimate, so 256 MB on disk lands in the same 128 MB-1 GB file band
#: as the 512 MB estimate target. Observed bytes GOVERN a reseed when
#: present — the plan estimate compounds selectivity guesses and can
#: overshoot 10x on a complex writer frame (round-14 verdict), while
#: the disk does not lie about the store being replaced. A reseed that
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


def _auto_buckets(df: DataFrame, meta: dict | None = None) -> int:
    """Scale-adaptive bucket count for a fresh store write: ceil of the
    store's size over the per-bucket target, clamped to
    [``_AUTO_BUCKET_MIN``, ``_AUTO_BUCKET_MAX``] and rounded up to a
    power of two (stores reseeded at slightly different sizes tend to
    keep their layout). No job runs. The size figure, best first:

    * the sidecar's OBSERVED ``data_bytes`` (recorded after every
      store write) when the path already holds a sidecar'd store —
      ground truth for a reseed, immune to the optimizer's
      selectivity-compounding overshoot (see
      ``_AUTO_BUCKET_TARGET_DISK_BYTES``); it overrides the ESTIMATE
      only, never the no-size-signal fallback below;
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
    observed = (meta or {}).get("data_bytes")
    if isinstance(observed, int) and observed > 0:
        return clamp(max(1, -(-observed // _AUTO_BUCKET_TARGET_DISK_BYTES)))
    return clamp(max(1, -(-est // _AUTO_BUCKET_TARGET_BYTES)))


def _write_buckets(df: DataFrame, path: str, nparts: int, mode: str) -> None:
    """Write ``df`` partitioned by its ``STORE_BUCKET`` column,
    repartitioned ON the bucket key first: a partitionBy write fans out
    one file per (task, bucket) pair, so without this every writer task
    sprays all bucket directories (measured: 1,850 files in st8's store
    at sf0.1, 6x its steady time in file/task overhead). One slim
    shuffle buys ~1 file per bucket; at corpus scale bound file size
    with spark.sql.files.maxRecordsPerFile instead of fewer buckets."""
    df.repartition(nparts, F.col(STORE_BUCKET)).write.partitionBy(
        STORE_BUCKET
    ).mode(mode).parquet(path)


#: ``write_bucketed``'s "the caller has not read the sidecar" marker
_UNREAD = object()


def write_bucketed(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    identity: dict,
    buckets: int | None,
    mode: str,
    caller: str,
    epoch: int | None = None,
    meta: dict | None | object = _UNREAD,
    tombstones: DataFrame | None = None,
) -> None:
    """Write ``df`` into the bucketed store at ``path``, hashed on
    ``key_cols``, and record the sidecar (``meta``: the sidecar if the
    caller has read it already, None for none).

    A write that does not truncate an existing store (``append``, or
    ``ignore``, which Spark skips) keeps the recorded ``buckets`` and
    sidecar: an append hashed with another count would scatter equal
    keys across buckets and make pruning silently lossy; a legacy
    no-sidecar store keeps the fixed count its files were hashed with
    unless the caller fixes one. Any other write takes the caller's
    ``buckets`` or ``_auto_buckets`` and records ``identity`` with it;
    an overwrite must truncate the whole path
    (``require_static_overwrite``). ``epoch`` stamps every row;
    ``tombstones`` (a frame of ids) is appended to the tombstone table
    with that epoch AFTER the data rows, so a crash between the two
    leaves both crawls of an id visible (over-generation, never loss)."""
    reserved = [c for c in (STORE_BUCKET, EPOCH_COL) if c in df.columns]
    if reserved:
        raise ValueError(
            f"{caller}: frame already carries a reserved column {reserved}"
        )
    if meta is _UNREAD:
        meta = meta_read(path)
    keep = mode in ("append", "ignore") and (meta is not None or is_dir(path))
    if keep and meta is not None:
        buckets = meta["buckets"]
    elif buckets is None:
        buckets = _LEGACY_BUCKETS if keep else _auto_buckets(df, meta)
    if mode == "overwrite":
        require_static_overwrite(df.sparkSession, caller)
    if epoch is not None:
        df = df.withColumn(EPOCH_COL, F.lit(epoch).cast("int"))
    df = df.withColumn(STORE_BUCKET, _bucket_col(key_cols, buckets))
    _write_buckets(df, path, buckets, mode)
    if tombstones is not None:
        (
            tombstones.withColumn(TOMB_EPOCH_COL, F.lit(epoch).cast("int"))
            # one id-sized file per wave — no reason to fan out
            .repartition(1)
            .write.mode("append")
            .parquet(tombstone_path(path))
        )
    record = meta if keep else {**identity, "buckets": buckets}
    if record is not None:
        _meta_write(path, record, list_files(path))


#: driver-side size guard for the tombstone broadcast: the latest-
#: tombstone-per-id table is bounded by (ids re-crawled since the last
#: compaction) BY CONTRACT, not by construction — a deployment that
#: upserts daily but never compacts grows it without bound and the
#: merge-on-read anti-join broadcast becomes the cliff. The read path
#: sums the tombstone files' on-disk bytes from the listing it already
#: takes (no Spark job) and warns past this threshold, naming the fix.
_TOMB_WARN_BYTES = 256 * 1024 * 1024


def _latest_tombstones(
    spark: SparkSession,
    path: str,
    meta: dict | None,
    df: DataFrame,
    listing: list[tuple[str, int]],
) -> tuple[DataFrame, str]:
    """``(latest tombstone epoch per id, id column)`` of an upserted
    store whose tombstone table lists as ``listing``: a store row is
    dead iff ``row.epoch < latest tombstone epoch`` for its id (some
    later wave re-crawled or deleted it). Raises on a store that has
    tombstones but predates the epoch/meta sidecar; warns when the
    tombstone table has grown past the broadcast-comfort threshold —
    compaction cadence is the knob."""
    id_col = (meta or {}).get("id_col")
    if id_col is None or EPOCH_COL not in df.columns:
        raise ValueError(
            f"dedup store at {path} has tombstones but no usable "
            f"epoch/id metadata — it was mixed with a legacy writer; "
            "rebuild it with band_index_write"
        )
    on_disk = sum(size for _, size in listing)
    if on_disk > _TOMB_WARN_BYTES:
        warnings.warn(
            f"dedup store at {path}: tombstone table is "
            f"{on_disk >> 20} MiB on disk — the merge-on-read "
            "anti-join broadcasts it on every read; run "
            "compact_dedup_store to fold it back into the data files",
            RuntimeWarning,
            stacklevel=4,
        )
    tomb = (
        spark.read.parquet(tombstone_path(path))
        .groupBy(F.col(id_col).alias("__tomb_id"))
        .agg(F.max(TOMB_EPOCH_COL).alias(TOMB_EPOCH_COL))
    )
    return tomb, id_col


def _dead(df: DataFrame, tomb: DataFrame, id_col: str) -> Column:
    """Join condition matching the rows of ``df`` a tombstone kills."""
    return (df[id_col] == tomb["__tomb_id"]) & (df[EPOCH_COL] < tomb[TOMB_EPOCH_COL])


def _live(df: DataFrame, tomb: DataFrame, id_col: str) -> DataFrame:
    """Merge-on-read: anti-join the raw store rows against the latest
    tombstone epoch per id. The tombstone table is delta-sized by
    contract (one row per batch id per wave, folded away by
    ``compact``), so the anti-join broadcasts it; the store side never
    shuffles."""
    return df.join(F.broadcast(tomb), _dead(df, tomb, id_col), "left_anti")


def read_bucketed(
    spark: SparkSession,
    path: str,
    params: dict | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """The live rows of the bucketed store at ``path`` (tombstones
    applied, no layout columns); ``params`` are the caller's identity
    fields, checked by ``resolve_params``. With ``probe`` — a frame of
    the key columns in the writer's hash order — only the buckets its
    keys hash into are read (parquet ``PartitionFilters``): lossless for
    an equi-join on the keys, since equal keys share a bucket, at the
    cost of one probe-sized pass and a <= ``buckets``-int driver
    collect. A legacy unpartitioned store falls back to the full scan."""
    meta = meta_read(path)
    eff = resolve_params(path, meta, params or {})
    df = spark.read.parquet(path)
    if probe is not None and STORE_BUCKET in df.columns:
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
    return df.drop(STORE_BUCKET, EPOCH_COL)


def compact(
    spark: SparkSession,
    path: str,
    max_files_per_bucket: int = 4,
    incremental: bool = False,
    bucket_budget: int | None = None,
) -> dict:
    """Maintenance pass for a bucketed store (round-13 verdict items
    1-2): fold merge-on-read debt back into clean data files. Three
    shapes, picked by what the store has accumulated:

    * TOMBSTONES present, ``incremental=False`` (an upserted store):
      full fold — read the store, apply the tombstone anti-join once,
      drop exact-duplicate rows (only a replayed crashed wave can
      create them; live rows are unique per (key, id, epoch) by
      construction), rewrite every bucket, clear the tombstone dir.
      This is the amortised corpus-sized op that keeps the DAILY upsert
      batch-sized — the classic merge-on-read + periodic-compaction
      split (Delta OPTIMIZE / Iceberg rewrite_data_files).
    * TOMBSTONES present, ``incremental=True``: FILE-SCOPED fold
      with a per-run bucket budget — one slim stats pass (bucket, id,
      epoch columns plus ``input_file_name``) counts each bucket's dead
      rows, then within the ``bucket_budget`` dirtiest buckets (all
      dirty buckets when None) only the files that actually hold dead
      rows are read, folded, appended back as clean files, and the
      originals deleted; clean files keep their bytes even inside a
      folded bucket (round-14 verdict item: the whole-bucket rewrite
      amplified writes by bucket-size/dead-file-size). Buckets whose
      file count exceeds ``max_files_per_bucket`` still take the
      WHOLE-BUCKET merge (their debt IS the file count, and the merge
      also drops replayed-wave duplicate rows, which a file-scoped
      fold cannot see across files — the report's ``REPLAY_DEBT``
      field lists the buckets file-folded since their last merge; after
      repairing a crashed wave, fold with ``incremental=False`` or let
      the file-count trigger pick the bucket up). Crash contract of the
      fold itself: folded copies APPEND before the originals delete, so
      a crash between the two leaves both visible — duplicate LIVE rows
      (over-generation, exact-verified downstream) until a whole-bucket
      fold repairs the bucket; dead rows stay masked because the
      tombstone table only clears after the deletes. The tombstone
      table STAYS until no dead row remains anywhere — kept tombstones
      are harmless over already-folded buckets (a folded id's surviving
      rows carry the tombstone's own epoch, so ``epoch < tomb_epoch``
      matches nothing) — and is cleared the moment the store is fully
      clean. This spreads the corpus-sized rewrite across maintenance
      windows: each run's write volume is (dead-file bytes / store
      bytes), the production cadence knob for stores too large to fold
      in one window (Iceberg's rewrite_data_files ``where``-scoped
      form, at its file-level granularity).
    * no tombstones (an append-only store): BUCKET-SCOPED small-file
      merge — only buckets whose file count exceeds
      ``max_files_per_bucket`` are read and rewritten (dynamic
      partition overwrite), one file each; untouched buckets keep their
      files byte-identical, and rows are kept as they are (duplicates
      included). After N append waves a bucket holds ~N files; this
      folds them without a corpus-sized rewrite. (``incremental=True``
      falls through to this branch on a tombstone-free store, so one
      maintenance call serves both store kinds.)

    Returns a report dict (files/buckets before and after, tombstones
    folded, ``REPLAY_DEBT``; the incremental path adds dead-row
    before/folded/remaining counts, ``files_rewritten`` and
    ``tombstones_cleared``) for runtime auditing. The rewrite reads the
    path it replaces, so the surviving rows are eagerly materialised
    first (the ``cdc_apply_batch`` pattern). The call reads and writes
    the sidecar once each."""
    before = {b: len(sizes) for b, sizes in bucket_files(path).items()}
    report = {
        "files_before": sum(before.values()),
        "buckets_before": len(before),
        "buckets_rewritten": 0,
        "tombstones_folded": 0,
    }
    tpath = tombstone_path(path)
    tomb_listing = list_files(tpath)
    meta = meta_read(path)
    debt = set((meta or {}).get(REPLAY_DEBT, []))
    fat = [b for b, n in sorted(before.items()) if n > max_files_per_bucket]

    def rewrite_buckets(chunk: DataFrame, bucket_ids: list) -> None:
        # replace ONLY the buckets present in chunk, leaving every
        # other bucket's files untouched (byte-identical, pytest-pinned)
        with materialised(chunk) as rows:
            overwrite_partitions(
                rows.repartition(len(bucket_ids), F.col(STORE_BUCKET)),
                path,
                STORE_BUCKET,
            )

    if tomb_listing:
        raw = spark.read.parquet(path)
        tomb, id_col = _latest_tombstones(spark, path, meta, raw, tomb_listing)

        def tombstones_folded() -> int:
            return spark.read.parquet(tpath).select(TOMB_EPOCH_COL).count()

    if tomb_listing and incremental:
        # slim stats pass over the (bucket, id, epoch) columns only — a
        # count-only columnar scan, cheap next to the rewrite it scopes.
        # Dead rows are counted per BUCKET first (<= the store's bucket
        # count back to the driver); file lists are collected only for
        # the buckets the budget picks, so the driver never holds one
        # row per dirty file of the whole store.
        def dead_rows(frame: DataFrame) -> DataFrame:
            slim = frame.select(
                STORE_BUCKET,
                id_col,
                EPOCH_COL,
                F.input_file_name().alias("__file"),
            )
            return slim.join(F.broadcast(tomb), _dead(slim, tomb, id_col), "inner")

        dead = {
            r[STORE_BUCKET]: r["__dead"]
            for r in dead_rows(raw)
            .groupBy(STORE_BUCKET)
            .agg(F.count(F.lit(1)).alias("__dead"))
            .limit(len(before) + 1)
            .collect()
        }
        # one maintenance call serves BOTH kinds of debt: buckets with
        # dead rows AND buckets that merely accumulated too many append
        # files (a rewrite folds either); dead-heaviest first, then
        # file count, bucket id tiebreak for determinism
        fat_n = {b: before[b] for b in fat}
        dirty = sorted(
            set(dead) | set(fat_n),
            key=lambda b: (-dead.get(b, 0), -fat_n.get(b, 0), b),
        )
        fold = dirty if bucket_budget is None else dirty[:bucket_budget]
        report["dead_rows_before"] = sum(dead.values())
        report["dead_rows_folded"] = sum(dead.get(b, 0) for b in fold)
        report["dead_rows_remaining"] = (
            report["dead_rows_before"] - report["dead_rows_folded"]
        )
        # fat buckets take the whole-bucket merge (their debt is the
        # file count; the merge also folds replayed-wave duplicates);
        # dead-only buckets fold at FILE granularity — only files that
        # hold a dead row rewrite, clean files keep their bytes
        bucket_fold = [b for b in fold if b in fat_n]
        file_fold = [b for b in fold if b not in fat_n and b in dead]
        files = []
        if file_fold:
            files = sorted(
                r[0]
                for r in dead_rows(raw.filter(F.col(STORE_BUCKET).isin(file_fold)))
                .select("__file")
                .distinct()
                .limit(sum(before[b] for b in file_fold) + 1)
                .collect()
            )
        report["files_rewritten"] = len(files)
        if files:
            # folded survivors of exactly those files, appended back as
            # clean files, then the originals deleted (append-before-
            # delete: see the crash contract in the docstring)
            chunk = _live(
                spark.read.option("basePath", path).parquet(*files), tomb, id_col
            )
            with materialised(chunk) as rows:
                _write_buckets(rows, path, len(file_fold), "append")
            for f in files:
                delete(unquote(f))
        if bucket_fold:
            rewrite_buckets(
                _live(
                    raw.filter(F.col(STORE_BUCKET).isin(bucket_fold)), tomb, id_col
                ).dropDuplicates(),
                bucket_fold,
            )
        debt = (debt | set(file_fold)) - set(bucket_fold)
        report["buckets_rewritten"] = len(bucket_fold) + len(file_fold)
        report["tombstones_cleared"] = report["dead_rows_remaining"] == 0
        if report["tombstones_cleared"]:
            # no row anywhere is older than its id's latest tombstone,
            # so the anti-join is a no-op — the tombstone table is debt
            # fully repaid and the store reverts to plain reads
            report["tombstones_folded"] = tombstones_folded()
            delete(tpath)
    elif tomb_listing:
        report["tombstones_folded"] = tombstones_folded()
        buckets = (meta or {}).get("buckets", len(before) or 1)
        # a STATIC partitioned overwrite clears the whole path first
        # (tombstone dir included — exactly the fold we want) — but it
        # also takes the sidecar with it, which is written back below
        with materialised(_live(raw, tomb, id_col).dropDuplicates()) as rows:
            _write_buckets(rows, path, buckets, "overwrite")
        delete(tpath)
        debt = set()
        report["buckets_rewritten"] = len(before)
    elif fat:
        rewrite_buckets(
            spark.read.parquet(path).filter(F.col(STORE_BUCKET).isin(fat)), fat
        )
        report["buckets_rewritten"] = len(fat)
    listing = list_files(path)
    after = bucket_files(path, listing)
    report["files_after"] = sum(map(len, after.values()))
    report["buckets_after"] = len(after)
    report[REPLAY_DEBT] = sorted(debt)
    if meta is not None:
        meta = {k: v for k, v in meta.items() if k != REPLAY_DEBT}
        if debt:
            meta[REPLAY_DEBT] = sorted(debt)
        _meta_write(path, meta, listing)
    return report
