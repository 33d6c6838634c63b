"""The store layer (``store.py``): filesystem access through the Hadoop
FileSystem API, checkpoint release, the first-write rule, the store
format in its two layouts (bucketed: sidecar rule, fold stats and
replay debt, one sidecar read per call; partitioned: the serving
store's epochs, batch-sized upserts, crash window and fold), the
sidecar-recorded schema, guards that keep the store mechanics and
format in one module, every store write in the one writer and every
library collect bounded, the fold's one file-set rewrite (all-dead
buckets, job count, bytes in its report, a crash between its append
and its deletes) and the file format (ZSTD parquet from every write
site, legacy snappy files still read, merged and folded)."""

import ast
import inspect
import os
import re
import uuid
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from coronavirus_dashboard_pipeline_etl_spark import store
from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
    band_index_pruned,
    band_index_read,
    band_index_upsert_write,
    band_index_write,
    compact_dedup_store,
    fp_store_write,
    minhash_band_index,
    minhash_probe_pairs,
)
from coronavirus_dashboard_pipeline_etl_spark.store import _persistent_rdd_ids
from tests.test_plans import SF

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "coronavirus_dashboard_pipeline_etl_spark",
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _files(root):
    """{relative path: bytes} of every parquet file under root."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                p = os.path.join(d, n)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def test_dedup_store_on_uri_path_matches_plain_path(spark, tmp_path, monkeypatch):
    """A ``file://`` URI is a path Spark accepts, so the dedup stores
    must behave on it exactly as on the plain path: tombstones apply on
    read, the sidecar lives inside the store (not under ``./file:`` in
    the working directory), and a budgeted fold sees the store's files."""
    monkeypatch.chdir(tmp_path)
    corpus = _docs(
        spark,
        [(i, f"w{i}a w{i}b w{i}c shared suffix tokens {i % 3}") for i in range(12)],
    )
    wave = _docs(spark, [(i, f"fresh crawl of document {i} now") for i in range(3)])
    latest = corpus.filter("doc_id >= 3").unionByName(wave)
    want = {tuple(r) for r in minhash_band_index(latest, k=8, bands=2).collect()}

    results = {}
    for label, path in (
        ("plain", str(tmp_path / "plain")),
        ("uri", "file://" + str(tmp_path / "uri")),
    ):
        band_index_write(
            minhash_band_index(corpus, k=8, bands=2), path, buckets=8, k=8, bands=2
        )
        band_index_upsert_write(wave, path, k=8, bands=2)
        read = {tuple(r) for r in band_index_read(spark, path).collect()}
        rep = compact_dedup_store(spark, path, incremental=True, bucket_budget=1)
        after = {tuple(r) for r in band_index_read(spark, path).collect()}
        results[label] = (read, rep, after, store.meta_read(path))

    plain, uri = results["plain"], results["uri"]
    assert plain[0] == want and uri[0] == want
    assert uri[1] == plain[1]
    assert uri[1]["files_before"] > 0 and uri[1]["files_rewritten"] > 0
    assert uri[2] == plain[2] == want
    assert uri[3] == plain[3]
    assert os.path.isfile(tmp_path / "uri" / "_store_meta.json")
    assert sorted(os.listdir(tmp_path)) == ["plain", "uri"]


def test_compact_dedup_store_releases_its_checkpoints(spark, tmp_path):
    """Every fold shape materialises the rows it rewrites and must
    release those blocks once the write has run: an incremental
    (file-scoped and whole-bucket), a full and a tombstone-free
    compaction each leave the pinned RDD set unchanged."""
    sc = spark.sparkContext
    corpus = _docs(
        spark, [(i, f"w{i}a w{i}b w{i}c shared suffix {i % 4}") for i in range(24)]
    )
    bidx, fps = str(tmp_path / "bidx"), str(tmp_path / "fp")
    band_index_write(
        minhash_band_index(corpus, k=8, bands=2), bidx, buckets=8, k=8, bands=2
    )
    for w in range(3):
        band_index_upsert_write(
            _docs(spark, [(i, f"recrawl {w} of doc {i} here") for i in range(6)]),
            bidx,
            k=8,
            bands=2,
        )
    fp_frame = corpus.select(F.md5("text").alias("fp"))
    fp_store_write(fp_frame, fps, buckets=4, mode="overwrite")
    for _ in range(3):
        fp_store_write(fp_frame, fps)

    def pinned_after(**kw):
        before = _persistent_rdd_ids(sc)
        rep = compact_dedup_store(spark, **kw)
        assert _persistent_rdd_ids(sc) == before, rep
        return rep

    rep = pinned_after(path=bidx, incremental=True, bucket_budget=2)
    assert rep["buckets_rewritten"] > 0
    rep = pinned_after(path=bidx, incremental=True, max_files_per_bucket=1)
    assert rep["tombstones_cleared"] is True
    band_index_upsert_write(
        _docs(spark, [(1, "one more recrawl of doc one")]), bidx, k=8, bands=2
    )
    rep = pinned_after(path=bidx)
    assert rep["tombstones_folded"] > 0
    rep = pinned_after(path=fps, max_files_per_bucket=2)
    assert rep["buckets_rewritten"] > 0


def test_incremental_fold_collects_file_lists_only_for_budgeted_buckets(
    spark, tmp_path, monkeypatch
):
    """The fold's stats pass ranks buckets from a per-bucket aggregate
    and lists dead files only inside the buckets the budget picks, so
    no collect returns one row per dirty file of the whole store. The
    files it folds are still exactly the dead-row files of the picked
    bucket."""
    path = str(tmp_path / "bidx")
    corpus = _docs(
        spark, [(i, f"w{i}a w{i}b w{i}c tail tokens {i % 7}") for i in range(40)]
    )
    band_index_write(
        minhash_band_index(corpus, k=8, bands=2), path, buckets=8, k=8, bands=2
    )
    for w in range(4):
        band_index_upsert_write(
            _docs(spark, [(i, f"wave {w} recrawl {i} text") for i in range(12)]),
            path,
            k=8,
            bands=2,
        )
    # ground truth: which data files hold a dead row, per bucket
    raw = spark.read.parquet(path).withColumn("__f", F.input_file_name())
    tomb = (
        spark.read.parquet(path + "/_tombstones")
        .groupBy("doc_id")
        .agg(F.max("__tomb_epoch").alias("__t"))
    )
    dead_files = {}
    for r in (
        raw.join(tomb, "doc_id")
        .filter(F.col("__epoch") < F.col("__t"))
        .select("bucket", "__f")
        .distinct()
        .collect()
    ):
        dead_files.setdefault(r["bucket"], set()).add(
            os.path.relpath(unquote(urlparse(r["__f"]).path), path)
        )
    n_dead_files = sum(len(v) for v in dead_files.values())
    assert n_dead_files > 8  # more dirty files than the store has buckets
    logical = {tuple(r) for r in band_index_read(spark, path).collect()}
    before = _files(path)

    collected = []
    df_cls = type(raw)
    orig = df_cls.collect

    def counting_collect(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(df_cls, "collect", counting_collect)
    rep = compact_dedup_store(
        spark, path, incremental=True, bucket_budget=1, max_files_per_bucket=99
    )
    monkeypatch.undo()

    assert rep["buckets_rewritten"] == 1
    gone = set(before) - set(_files(path))
    (folded_bucket,) = {p.split("/")[0] for p in gone}
    folded = int(folded_bucket.split("=")[1])
    assert gone == dead_files[folded]
    assert rep["files_rewritten"] == len(dead_files[folded])
    assert max(collected) <= max(8, len(dead_files[folded]))
    assert max(collected) < n_dead_files
    # untouched files keep their bytes; the merge-on-read view holds
    assert all(_files(path).get(p) == n for p, n in before.items() if p not in gone)
    assert {tuple(r) for r in band_index_read(spark, path).collect()} == logical


def test_ignore_mode_write_keeps_an_existing_stores_layout(spark, tmp_path):
    """Spark skips an ``ignore``-mode write to an existing store, so the
    sidecar must keep the bucket count the files were hashed with: a
    pruned probe then still returns every index row the batch matches."""
    src = str(tmp_path / "src")
    _docs(
        spark, [(i, f"w{i}a w{i}b w{i}c shared tail {i % 5}") for i in range(40)]
    ).write.parquet(src)
    # parquet-backed, so the writer frame has a size estimate and the
    # ignore-mode write would size a fresh layout from it
    corpus = spark.read.parquet(src)
    path = str(tmp_path / "bidx")
    index = minhash_band_index(corpus, k=8, bands=2)
    band_index_write(index, path, buckets=16, k=8, bands=2)
    before = _files(path)
    band_index_write(index, path, mode="ignore", k=8, bands=2)
    assert _files(path) == before
    assert store.meta_read(path)["buckets"] == 16

    batch = corpus.filter("doc_id < 10")
    keys = {
        (r.band, r.sig) for r in minhash_band_index(batch, k=8, bands=2).collect()
    }
    want = {
        tuple(r)
        for r in band_index_read(spark, path).collect()
        if (r.band, r.sig) in keys
    }
    got = {
        tuple(r)
        for r in band_index_pruned(spark, path, batch, k=8, bands=2).collect()
        if (r.band, r.sig) in keys
    }
    assert got == want and len(want) > len(keys) // 2


def test_fold_reports_buckets_with_possible_replay_duplicates(spark, tmp_path):
    """A file-scoped fold cannot see duplicate rows a replayed wave left
    in two files, so the sidecar records each bucket it folds and the
    fold reports them as ``replay_duplicates_possible``; upserts keep the
    record, and a whole-bucket merge or a full fold clears it."""
    path = str(tmp_path / "bidx")
    corpus = _docs(
        spark, [(i, f"w{i}a w{i}b w{i}c tail tokens {i % 7}") for i in range(40)]
    )
    band_index_write(
        minhash_band_index(corpus, k=8, bands=2), path, buckets=8, k=8, bands=2
    )

    def recrawl(wave):
        band_index_upsert_write(
            _docs(spark, [(i, f"wave {wave} recrawl {i} text") for i in range(20)]),
            path,
            k=8,
            bands=2,
        )

    def debt():
        return store.meta_read(path).get(store.REPLAY_DEBT, [])

    recrawl(0)
    assert debt() == []
    rep = compact_dedup_store(
        spark, path, incremental=True, bucket_budget=2, max_files_per_bucket=99
    )
    assert rep["files_rewritten"] > 0 and rep["dead_rows_remaining"] > 0
    assert len(rep[store.REPLAY_DEBT]) == 2
    assert debt() == rep[store.REPLAY_DEBT]
    recrawl(1)
    assert debt() == rep[store.REPLAY_DEBT]
    # every bucket over the file limit: each takes the whole-bucket merge
    rep = compact_dedup_store(spark, path, incremental=True, max_files_per_bucket=0)
    assert rep["buckets_rewritten"] == rep["buckets_before"]
    assert rep[store.REPLAY_DEBT] == [] and debt() == []

    recrawl(2)
    rep = compact_dedup_store(
        spark, path, incremental=True, bucket_budget=1, max_files_per_bucket=99
    )
    assert len(rep[store.REPLAY_DEBT]) == 1 and debt() == rep[store.REPLAY_DEBT]
    rep = compact_dedup_store(spark, path)
    assert rep[store.REPLAY_DEBT] == [] and debt() == []


def test_each_store_call_reads_and_writes_its_sidecar_once(
    spark, tmp_path, monkeypatch
):
    """A store call reads its sidecar at most once and writes it at
    most once. An upsert of either layout, and a serving store's
    publish, read and write the sidecar once each and list nothing: the
    sidecar records no file listing."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        merge_upsert_store,
        write_store,
    )

    corpus = _docs(
        spark, [(i, f"w{i}a w{i}b w{i}c shared suffix {i % 4}") for i in range(24)]
    )
    bidx, fps = str(tmp_path / "bidx"), str(tmp_path / "fp")
    band_index_write(
        minhash_band_index(corpus, k=8, bands=2), bidx, buckets=8, k=8, bands=2
    )
    fp_frame = corpus.select(F.md5("text").alias("fp"))
    fp_store_write(fp_frame, fps, buckets=4, mode="overwrite")
    wave = _docs(spark, [(i, f"recrawl of doc {i} here") for i in range(6)])

    calls = []
    for name in ("_fs_read_text", "_fs_write_text", "list_files"):

        def counting(*args, _name=name, _orig=getattr(store, name)):
            calls.append((_name, args))
            return _orig(*args)

        monkeypatch.setattr(store, name, counting)

    def counts(call):
        calls.clear()
        call()

        def sidecar(op):
            return sum(
                1 for n, a in calls if n == op and a[1].endswith("_store_meta.json")
            )

        listings = sum(1 for n, _ in calls if n == "list_files")
        return sidecar("_fs_read_text"), sidecar("_fs_write_text"), listings

    reads, writes, listings = counts(
        lambda: band_index_upsert_write(wave, bidx, k=8, bands=2)
    )
    assert (reads, writes, listings) == (1, 1, 0)
    reads, writes, _ = counts(
        lambda: band_index_pruned(spark, bidx, wave, k=8, bands=2)
    )
    assert reads <= 1 and writes == 0
    reads, writes, _ = counts(lambda: fp_store_write(fp_frame, fps))
    assert reads <= 1 and writes <= 1
    reads, writes, _ = counts(
        lambda: compact_dedup_store(spark, bidx, incremental=True)
    )
    assert reads <= 1 and writes <= 1
    serving = str(tmp_path / "store")
    rows = [("h1", "p0", "a", 1), ("h2", "p1", "b", 1)]
    write_store(spark.createDataFrame(rows, _SERVING), serving)
    for call in (
        lambda: write_store(spark.createDataFrame(rows[:1], _SERVING), serving),
        lambda: merge_upsert_store(spark.createDataFrame(rows[1:], _SERVING), serving),
    ):
        assert counts(call) == (1, 1, 0)


def test_merge_upsert_store_propagates_unreadable_store(spark, tmp_path):
    """Only a missing path or an empty directory is a first write: a
    store that exists but cannot be read (here, a data file whose
    columns clash case-insensitively) raises, and its files stay as
    they were instead of being overwritten with the batch's rows."""
    from pyspark.errors import AnalysisException

    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        merge_upsert_store,
    )

    batch = spark.createDataFrame(
        [("h", "x", "{}", 1)],
        "hash string, partition_id string, payload string, release_id long",
    )
    store = tmp_path / "store"
    prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        spark.createDataFrame([("h", "H")], "hash string, HASH string").write.parquet(
            str(store / "partition_id=x")
        )
    finally:
        spark.conf.set("spark.sql.caseSensitive", prev)
    before = _files(store)
    with pytest.raises(AnalysisException):
        merge_upsert_store(batch, str(store))
    assert _files(store) == before

    # an empty directory is still a first write
    empty = tmp_path / "empty"
    empty.mkdir()
    merge_upsert_store(batch, str(empty))
    assert spark.read.parquet(str(empty)).count() == 1


def _checkpoints_read(df) -> set[int]:
    """RDD ids of the checkpoints ``df``'s plan reads: a checkpointed
    frame is a ``LogicalRDD`` leaf over the persisted RDD."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.length())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 test tables absent")
@pytest.mark.parametrize(
    "gate",
    [
        "d14b_index_maintenance",
        "pipe21_incremental_loop",
        "pipe22_crawl_day",
        "pipe23_bloom_loop",
        "s15_dump_load",
        "s10b_store_roundtrip",
        "pipe14_quality_dedup",
        "s17_warc_source",
        "pipe24_fp_compact",
        "d14d_incremental_fold",
        "d14c_tombstone_upsert",
    ],
)
def test_store_gates_release_write_then_drop_checkpoints(spark, monkeypatch, gate):
    """A store gate may leave pinned only the checkpoints its result
    still reads, plus the one rolling pin ``minhash_probe_pairs`` /
    ``dedup_incremental_bloom`` keep by design; a checkpoint taken only
    to feed a store write must be released once the write has run.
    Every checkpointed frame is held for the call, so a block the JVM
    garbage collector happens to clean up does not pass for a
    release."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.gate_queries import QUERIES

    held = []
    df_cls = type(spark.range(1))
    orig = df_cls.localCheckpoint

    def holding_checkpoint(self, *args, **kwargs):
        held.append(orig(self, *args, **kwargs))
        return held[-1]

    monkeypatch.setattr(df_cls, "localCheckpoint", holding_checkpoint)
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    out = QUERIES[gate](spark, SF)
    pinned = _persistent_rdd_ids(sc) - before
    monkeypatch.undo()
    rolling = {
        rid
        for (owner, _), (ref, ids) in store._ROLLING.items()
        if owner in ("minhash_probe_pairs", "dedup_incremental_bloom")
        and ref() is sc
        for rid in ids
    }
    assert pinned <= _checkpoints_read(out) | rolling, pinned
    assert out.count() > 0


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 test tables absent")
def test_repeated_calls_hold_one_calls_pins(spark):
    """Every operator that returns a frame reading its checkpoints keeps
    the pins of its LAST call only: after three calls, each result
    consumed before the next, the pinned set is exactly what the third
    call pinned — nothing from the first two calls outlives them."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        cut_hot_spans,
        dedup_components,
    )
    from coronavirus_dashboard_pipeline_etl_spark.functions.graph import (
        pagerank_fixed_point,
    )
    from coronavirus_dashboard_pipeline_etl_spark.plans.gate_queries import QUERIES

    sc = spark.sparkContext
    docs = _docs(
        spark,
        [(i, f"w{i % 5}a w{i % 5}b shared boilerplate tail here {i}") for i in range(12)],
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 10, 2)], "id_a long, id_b long"
    )
    edges = spark.createDataFrame([(i, (i + 1) % 6) for i in range(6)], "src long, dst long")

    def cut_with_stats():
        stats: list = []
        out = cut_hot_spans(docs, k=3, max_docs=2, stats_out=stats)
        stats[0].count()
        return out

    calls = {
        "dedup_components": lambda: dedup_components(pairs, docs.select("doc_id")),
        "pagerank_fixed_point": lambda: pagerank_fixed_point(edges, n_iter=2),
        "cut_hot_spans": cut_with_stats,
        "minhash_probe_pairs": lambda: minhash_probe_pairs(docs, docs, k=16, bands=4),
        "crawl_day": lambda: QUERIES["pipe22_crawl_day"](spark, SF),
    }
    for name, call in calls.items():
        start = _persistent_rdd_ids(sc)
        for _ in range(3):
            before = _persistent_rdd_ids(sc)
            assert call().count() > 0, name
        after = _persistent_rdd_ids(sc)
        assert after - before, f"{name}: its result should read pinned blocks"
        assert after - start == after - before, (name, after - start, after - before)


#: store mechanics that belong to ``store.py`` alone
_FORBIDDEN = re.compile(
    r"os\.listdir|os\.remove|os\.path\.getsize|os\.path\.isdir|os\.makedirs"
    r"|os\.replace|shutil\.|(?<![\w.])open\(|partitionOverwriteMode"
    r"|_persistent_rdd_ids\("
)
_STORE_FAMILIES = (
    "functions/dedup.py",
    "plans/main_pipeline.py",
    "streaming/ingest.py",
)


def _matches(pattern: re.Pattern, source: str) -> list[str]:
    return [
        f"{n}: {line.strip()}"
        for n, line in enumerate(source.splitlines(), 1)
        if pattern.search(line)
    ]


def test_store_mechanics_live_only_in_store_module():
    """Listing, deleting and writing store files, overwrite-mode
    handling and checkpoint-id bookkeeping go through ``store.py``; the
    store families may not grow private copies again."""
    # the scanner itself catches a planted call of each kind
    for planted in (
        "    for d in os.listdir(path):",
        "    shutil.rmtree(tpath)",
        "    with open(meta) as fh:",
        '    .option("partitionOverwriteMode", "dynamic")',
        "    before = _persistent_rdd_ids(sc)",
    ):
        assert _matches(_FORBIDDEN, planted), planted
    assert not _matches(_FORBIDDEN, "    stream = fs.open(p)")
    for rel in _STORE_FAMILIES:
        with open(os.path.join(PKG, rel)) as fh:
            assert _matches(_FORBIDDEN, fh.read()) == [], rel


#: the sidecar calls only the store's one write protocol makes
_SIDECAR_CALLS = {"meta_read", "resolve_params"}


def _sidecar_uses(source: str) -> list[str]:
    """Lines of ``source`` that read or check a store sidecar on their
    own — a name, attribute or import of ``meta_read`` or
    ``resolve_params`` — or do arithmetic on its ``"epoch"``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.ImportFrom):
            names = [a.name for a in node.names]
        else:
            names = [node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)]
        found += [f"{node.lineno}: {n}" for n in names if n in _SIDECAR_CALLS]
        if isinstance(node, (ast.BinOp, ast.AugAssign)) and any(
            isinstance(c, ast.Constant) and c.value == "epoch" for c in ast.walk(node)
        ):
            found.append(f"{node.lineno}: epoch arithmetic")
    return found


def test_store_families_leave_the_sidecar_to_the_store_write():
    """The store families neither read nor check a sidecar for a write,
    nor work out an epoch: the store's one write protocol does all of
    it, once for both layouts."""
    # the scanner itself catches a planted copy of each kind
    for planted in (
        "meta = store.meta_read(path)",
        "from ..store import meta_read",
        "store_meta_read = store.meta_read",
        'store.resolve_params(path, meta, {"k": k})',
        'epoch = 0 if meta is None else int(meta.get("epoch", 0)) + 1',
        'epoch = meta["epoch"] + 1',
        'meta["epoch"] += 1',
    ):
        assert _sidecar_uses(planted), planted
    for clean in (
        'store.write_bucketed(df, path, keys, {"kind": "x"}, None, "append", "w", epochs=True)',
        "n = len(rows) + 1",
        "read = store.read_bucketed(spark, path)",
    ):
        assert _sidecar_uses(clean) == [], clean
    for rel in _STORE_FAMILIES:
        with open(os.path.join(PKG, rel)) as fh:
            assert _sidecar_uses(fh.read()) == [], rel


#: private store plumbing the store gates may not grow back: scratch
#: paths come from ``_scratch_store``, listings from the store layer
_GATE_PLUMBING = re.compile(r'removeprefix\("file:"\)|os\.listdir|os\.path\.isdir')
#: a checkpoint whose blocks nobody releases
_BARE_CHECKPOINT = re.compile(r"localCheckpoint\(")


#: the one module that may call ``localCheckpoint`` directly: the store
#: layer, whose ``pins`` scope owns every checkpoint
_CHECKPOINT_OWNERS = ("store.py",)


def _pin_bypasses(source: str) -> list[str]:
    """Lines of ``source`` that go round the ``pins`` scope: an import
    or call of the store's raw ``checkpoint`` or ``_release_rdds``, or a
    ``rolling=`` keyword (the ownership-transfer mode)."""
    raw = {"checkpoint", "_release_rdds"}
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.ImportFrom) and (node.module or "").endswith("store"):
            found += [f"{node.lineno}: import {a.name}" for a in node.names if a.name in raw]
        elif isinstance(node, ast.Call):
            f = node.func
            if (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) in raw:
                found.append(f"{node.lineno}: call")
            if any(k.arg == "rolling" for k in node.keywords):
                found.append(f"{node.lineno}: rolling=")
    return found


def _package_sources(skip=()) -> list[str]:
    """Paths of the package's modules, relative to the package."""
    return sorted(
        os.path.relpath(os.path.join(d, n), PKG)
        for d, _, names in os.walk(PKG)
        for n in names
        if n.endswith(".py") and os.path.relpath(os.path.join(d, n), PKG) not in skip
    )


def test_store_gates_and_crawl_day_use_the_store_layer():
    """The gate registry reaches store files only through the store
    layer, and every library module takes checkpoints only through it
    — through its ``pins`` scope, never the raw checkpoint or release
    calls or the ownership-transfer ``rolling=`` mode — so each one is
    released at the end of its scope or at its owner's next call."""
    for planted in (
        '    warehouse = spark.conf.get(w).removeprefix("file:")',
        "    for d in os.listdir(path):",
        '    kept_mid = os.path.isdir(os.path.join(path, "_tombstones"))',
    ):
        assert _matches(_GATE_PLUMBING, planted), planted
    assert not _matches(_GATE_PLUMBING, '    path = _scratch_store(spark, "x")')
    assert _matches(_BARE_CHECKPOINT, "    kept = kept.localCheckpoint(eager=True)")
    assert _matches(
        _BARE_CHECKPOINT,
        "    stats = df.groupBy(*keys).agg(*aggs).localCheckpoint(eager=False)",
    )
    assert not _matches(_BARE_CHECKPOINT, "    packed, _ = checkpoint(packed_lazy)")
    assert not _matches(
        _BARE_CHECKPOINT,
        "    4. The merged affected partitions are localCheckpoint-materialised",
    )
    for planted in (
        "from ..store import checkpoint, materialised",
        "from coronavirus_dashboard_pipeline_etl_spark.store import (\n    _release_rdds,\n)",
        "out, ids = store.checkpoint(df)",
        "packed, _ = checkpoint(packed_lazy)",
        "_release_rdds(sc, kept_ids | edge_ids)",
        "store._release_rdds(sc, ids)",
        'g = rolling_checkpoint(g, "cut_hot_spans", rolling=stats_out is None)',
    ):
        assert _pin_bypasses(planted), planted
    for clean in (
        "from ..store import pins, rolling_checkpoint",
        'g = rolling_checkpoint(g, "cut_hot_spans")',
        "with pins(\"crawl_day\") as pin:\n    packed = pin(packed_lazy)",
        "pin.release(kept)",
        'rolling = df.groupBy("k").agg(F.sum("x"))',
        '"""blocks released by checkpoint(...) ids, rolling=False"""',
    ):
        assert _pin_bypasses(clean) == [], clean
    with open(os.path.join(PKG, "plans/gate_queries.py")) as fh:
        assert _matches(_GATE_PLUMBING, fh.read()) == []
    sources = _package_sources(skip=_CHECKPOINT_OWNERS)
    assert len(sources) > 40 and os.path.join("functions", "similarity.py") in sources
    for rel in sources:
        with open(os.path.join(PKG, rel)) as fh:
            assert _matches(_BARE_CHECKPOINT, fh.read()) == [], rel
    for rel in sources:
        with open(os.path.join(PKG, rel)) as fh:
            assert _pin_bypasses(fh.read()) == [], rel
    # and the ownership-transfer mode has no entry point left
    assert "rolling" not in inspect.signature(store.rolling_checkpoint).parameters
    assert "cache_out" not in inspect.signature(minhash_probe_pairs).parameters


#: string literals that spell the store format in either layout: the
#: sidecar and tombstone names, a bucket or serving-partition path glob
#: and the overwrite-mode option
_FORMAT_LITERAL = re.compile(
    r"""["'/]_tombstones|_store_meta\.json|["'/](?:bucket|partition_id)="""
    r"|partitionOverwriteMode"
)


def test_store_format_is_spelled_only_in_store_module():
    """Outside ``store.py`` no module of the package or of ``tools/``
    spells the store format of either layout; callers use the store
    layer's names (``tombstone_path``, ``bucket_files``,
    ``read_bucketed``, ``write_partitioned``)."""
    for planted in (
        '    tombstones = store.join(path, "_tombstones")',
        '    for pat in ("/bucket=*/*.parquet", "/_tombstones/*.parquet")',
        '    rows = spark.read.parquet(idx + "/_tombstones").count()',
        '    meta_path = store.join(path, "_store_meta.json")',
        "    dirs = glob.glob(path + '/bucket=*')",
        '    files = glob.glob(store + "/partition_id=*/*.parquet")',
        '    .option("partitionOverwriteMode", "dynamic")',
        '    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")',
    ):
        assert _matches(_FORMAT_LITERAL, planted), planted
    for fine in (
        "    tombstones = store.tombstone_path(path)",
        "    tomb, id_col = _latest_tombstones(spark, path, meta, raw, listing)",
        "    rep = compact_dedup_store(spark, path, max_files_per_bucket=1)",
        '    df = read_store(spark, path, partitions=["p1"])',
        "    overwrite_partitions(long, path, PARTITION_COL)",
    ):
        assert not _matches(_FORMAT_LITERAL, fine), fine
    root = os.path.dirname(PKG)
    sources = [
        os.path.join(d, n)
        for top in (PKG, os.path.join(root, "tools"))
        for d, _, names in os.walk(top)
        for n in names
        if n.endswith(".py")
    ]
    assert len(sources) > 20
    for path in sources:
        if path == os.path.join(PKG, "store.py"):
            continue
        with open(path) as fh:
            assert _matches(_FORMAT_LITERAL, fh.read()) == [], path


def _raw_writes(source: str, helper: str = "_writer") -> list[str]:
    """``.write`` property reads in ``source`` (``df.write``; a
    ``stream.write(...)`` call is not one) outside the function
    ``helper``."""
    tree = ast.parse(source)
    inside = {
        id(n)
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef) and f.name == helper
        for n in ast.walk(f)
    }
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    return [
        f"{n.lineno}: .write"
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "write" and id(n) not in inside | called
    ]


def test_store_writes_go_through_one_writer():
    """Every ``.write`` in ``store.py`` sits inside ``_writer``, the one
    place the store's file format is set, and the store families open
    no writer of their own: a new write site cannot skip the codec."""
    with open(os.path.join(PKG, "store.py")) as fh:
        source = fh.read()
    planted = source + '\n\ndef _copy(df, path):\n    df.write.mode("append").parquet(path)\n'
    assert len(_raw_writes(planted)) == 1
    for planted in (
        "ids.coalesce(1).write.mode('append').parquet(p)",
        "writer = df.repartition(8).write.partitionBy('bucket')",
        "def _writer2(df):\n    return df.write.option('compression', 'snappy')",
    ):
        assert _raw_writes(planted), planted
    for fine in (
        "out.write(bytearray(content.encode('utf-8')))",
        "def _writer(df):\n    return df.write.option('compression', _CODEC)",
        "_writer(df).mode('append').parquet(path)",
    ):
        assert _raw_writes(fine) == [], fine
    assert _raw_writes(source) == []
    for rel in _STORE_FAMILIES:
        with open(os.path.join(PKG, rel)) as fh:
            assert _raw_writes(fh.read()) == [], rel


#: the comment a driver collect without a ``limit`` in its chain carries,
#: with its reason, on the statement or the line above it
_SMALL_MARKER = "# small by construction:"


def _unbounded_collects(source: str) -> list[str]:
    """``.collect()``/``.toPandas()`` calls whose receiver chain has no
    ``.limit(...)`` and whose statement carries no ``_SMALL_MARKER``."""
    lines = source.splitlines()
    out = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("collect", "toPandas")
            and not node.args
        ):
            continue
        chain, limited = node.func.value, False
        while isinstance(chain, (ast.Call, ast.Attribute, ast.Subscript)):
            limited |= isinstance(chain, ast.Attribute) and chain.attr == "limit"
            chain = chain.func if isinstance(chain, ast.Call) else chain.value
        marked = any(
            _SMALL_MARKER in line
            for line in lines[max(0, node.lineno - 2) : node.end_lineno]
        )
        if not (limited or marked):
            out.append(f"{node.lineno}: {lines[node.lineno - 1].strip()}")
    return out


def test_library_collects_are_bounded():
    """Driver memory stays bounded on every collect data-sized input can
    reach: each library ``.collect()``/``.toPandas()`` either limits its
    rows or documents why its result is small by construction."""
    for planted in (
        "rows = df.collect()",
        "pdf = big.select('a').toPandas()",
        "counts = (\n    df.groupBy('k')\n    .count()\n    .collect()\n)",
        "ids = [r[0] for r in df.orderBy('id').collect()]",
    ):
        assert _unbounded_collects(planted), planted
    for fine in (
        "rows = df.limit(5).collect()",
        "dup = (\n    df.groupBy('k').count()\n    .filter('count > 1')\n    .limit(1)\n    .collect()\n)",
        "# small by construction: one aggregate row\nrow = df.agg(F.max('v')).collect()[0]",
        "rows = tiny.collect()  # small by construction: k centroids",
        "xs = sorted(r[0] for r in df.select('b').distinct().limit(n + 1).collect())",
        "parts = sc.parallelize([1]).collectAsMap()",
    ):
        assert not _unbounded_collects(fine), fine
    for rel in _package_sources():
        with open(os.path.join(PKG, rel)) as fh:
            assert _unbounded_collects(fh.read()) == [], rel


# -- the partitioned layout: the serving store ----------------------------

_SERVING = "hash string, partition_id string, payload string, release_id long"


def _serving(spark, rows):
    return spark.createDataFrame(rows, _SERVING)


#: the thread-local properties ``setJobGroup`` sets
_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _jobs(spark, fn):
    """``(fn(), names of the Spark jobs it ran)``: each job's result
    stage name, which is its call site. The result stage is the job's
    highest stage id and always runs; its lower ids may be reused map
    stages that were skipped, and the status store drops skipped stages
    first (they carry no completion time). The thread's job-group
    properties are restored afterwards."""
    sc = spark.sparkContext
    group = f"test-store-{uuid.uuid4().hex}"
    saved = {p: sc.getLocalProperty(p) for p in _JOB_GROUP_PROPS}
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop, value in saved.items():
            sc.setLocalProperty(prop, value)
    tracker = sc.statusTracker()
    names = [
        tracker.getStageInfo(max(tracker.getJobInfo(j).stageIds)).name
        for j in sorted(tracker.getJobIdsForGroup(group))
    ]
    return out, names


def test_jobs_restores_the_threads_job_group(spark):
    """``_jobs`` leaves the thread's job group and description as it
    found them, set or unset, and names a job that reuses a shuffle by
    its result stage's call site."""
    sc = spark.sparkContext
    for outer in (None, "outer"):
        sc.setLocalProperty("spark.jobGroup.id", outer)
        sc.setLocalProperty("spark.job.description", outer)
        try:
            counts = sc.parallelize(range(40), 2).map(lambda x: (x % 3, 1)).reduceByKey(max)
            counts.count()  # the next job reuses this shuffle: its map stage is skipped
            _, jobs = _jobs(spark, counts.collect)
            assert [sc.getLocalProperty(p) for p in _JOB_GROUP_PROPS[:2]] == [outer, outer]
        finally:
            for prop in _JOB_GROUP_PROPS:
                sc.setLocalProperty(prop, None)
        assert jobs and all(j.startswith("collect at") for j in jobs), jobs


def _store_rows(df) -> set:
    return {(r.hash, r.partition_id, r.payload, r.release_id) for r in df.collect()}


def test_serving_upsert_writes_the_batch_not_the_partition(spark, tmp_path):
    """A serving-store upsert appends the deduped batch and one
    tombstone file, runs at most 4 jobs and leaves every existing data
    file in place, also in the partitions it touches; ``read_store``
    gives the merged view. Every write advances the sidecar epoch."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        merge_upsert_store,
        read_store,
        write_store,
    )

    path = str(tmp_path / "store")
    base = [(f"h{i}", f"p{i % 3}", f"old{i}", 1) for i in range(30)]
    write_store(_serving(spark, base), path)
    assert store.meta_read(path)["epoch"] == 1
    before = _files(path)
    batch = [("h1", "p1", "newA", 2), ("h1", "p1", "newB", 2), ("h99", "p0", "ins", 2)]
    _, jobs = _jobs(spark, lambda: merge_upsert_store(_serving(spark, batch), path))
    assert len(jobs) <= 4, jobs
    after = _files(path)
    assert all(after.get(p) == n for p, n in before.items())
    new = sorted(p for p in after if p not in before)
    assert len(new) == 3 and sum(p.startswith("_tombstones/") for p in new) == 1
    assert store.meta_read(path)["epoch"] == 2
    want = {r for r in base if r[0] != "h1"} | {("h1", "p1", "newB", 2), ("h99", "p0", "ins", 2)}
    assert _store_rows(read_store(spark, path)) == want


def test_publish_after_upsert_survives_older_tombstones(spark, tmp_path):
    """A partition re-published by ``write_store`` after an upsert is
    stamped with a later epoch than the upsert's tombstones, so its rows
    stay live, while the other partition keeps its merged rows; a store
    without a sidecar reads as epoch 0, so an upsert supersedes its
    rows."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        merge_upsert_store,
        read_store,
        write_store,
    )

    path = str(tmp_path / "store")
    # a store written before the sidecar existed: no epoch column
    _serving(spark, [("h1", "p0", "a", 1), ("h2", "p1", "b", 1)]).write.partitionBy(
        "partition_id"
    ).parquet(path)
    merge_upsert_store(
        _serving(spark, [("h1", "p0", "a2", 2), ("h2", "p1", "b2", 2)]), path
    )
    assert _store_rows(read_store(spark, path)) == {
        ("h1", "p0", "a2", 2),
        ("h2", "p1", "b2", 2),
    }
    write_store(_serving(spark, [("h1", "p0", "a3", 3), ("h3", "p0", "c3", 3)]), path)
    assert store.meta_read(path)["epoch"] == 2
    assert _store_rows(read_store(spark, path)) == {
        ("h1", "p0", "a3", 3),
        ("h3", "p0", "c3", 3),
        ("h2", "p1", "b2", 2),
    }


def _rerun_case(spark, path, layout):
    """A seeded store of ``layout`` and one batch that replaces a key and
    inserts one: ``(upsert, read, fold, rebuilt, report)`` — the
    batch's upsert, the store's merged read, its fold, the store's rows
    rebuilt from scratch with the batch applied, and fields the fold's
    report must show."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        compact_store,
        merge_upsert_store,
        read_store,
        write_store,
    )

    if layout == "bucket":
        corpus = {i: f"w{i}a w{i}b w{i}c shared tail {i % 4}" for i in range(12)}
        batch = {1: "a fresh crawl of document one", 50: "a brand new document here"}
        band_index_write(
            minhash_band_index(_docs(spark, list(corpus.items())), k=8, bands=2),
            path, buckets=4, k=8, bands=2,
        )
        rebuilt = minhash_band_index(_docs(spark, list({**corpus, **batch}.items())), k=8, bands=2)
        return (
            lambda: band_index_upsert_write(_docs(spark, list(batch.items())), path, k=8, bands=2),
            lambda: band_index_read(spark, path),
            lambda: compact_dedup_store(spark, path),
            rebuilt,
            {"tombstones_folded": 2},
        )
    base = [(f"h{i}", f"p{i % 3}", f"old{i}", 1) for i in range(12)]
    batch = [("h1", "p1", "new1", 2), ("h2", "p2", "new2", 2), ("h50", "p1", "ins", 2)]
    write_store(_serving(spark, base).coalesce(1), path)  # one file per partition
    return (
        lambda: merge_upsert_store(_serving(spark, batch), path),
        lambda: read_store(spark, path),
        lambda: compact_store(spark, path),
        _serving(spark, [r for r in base if r[0] not in ("h1", "h2")] + batch),
        {"buckets_rewritten": 2, "tombstones_folded": 3, "files_after": 3},
    )


@pytest.mark.parametrize("layout", ["partition_id", "bucket"])
def test_serving_crash_between_appends_then_rerun_and_fold(
    spark, tmp_path, monkeypatch, layout
):
    """A crash after the data append and before the tombstones leaves the
    replaced rows and the batch's visible together; the crashed write
    has recorded its epoch, so the re-run takes a later one and its
    tombstones kill the crashed attempt's rows too: the merged view is
    exactly the rebuilt store, count included, in the serving store and
    the band index alike. The fold leaves what a raw parquet reader
    needs: one file set per partition, no tombstones, no superseded
    rows, and the same rows the merged read returned before it."""
    path = str(tmp_path / "store")
    upsert, read, fold, rebuilt, report = _rerun_case(spark, path, layout)

    def rows(df):
        return sorted(tuple(r) for r in df.select(*read().columns).collect())

    seeded, want = rows(read()), rows(rebuilt)

    def crash(*args):
        raise RuntimeError("simulated crash before the tombstone append")

    monkeypatch.setattr(store, "_append_tombstones", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        upsert()
    monkeypatch.undo()
    stale, fresh = set(seeded) - set(want), set(want) - set(seeded)
    assert stale and fresh and stale | fresh <= set(rows(read()))

    upsert()
    assert rows(read()) == want
    assert store.meta_read(path)["epoch"] == 3  # seed, crashed attempt, re-run

    rep = fold()
    assert {k: rep[k] for k in report} == report
    assert rep["files_after"] == rep["buckets_after"]
    assert not os.path.isdir(os.path.join(path, "_tombstones"))
    assert rows(spark.read.parquet(path)) == want
    # clean partitions are skipped
    assert fold()["buckets_rewritten"] == 0


def test_upserts_append_one_tombstone_file_without_a_shuffle(spark, tmp_path, monkeypatch):
    """Each upsert of either layout appends exactly one tombstone file,
    and the append runs no more jobs than writing its id frame as it
    is: the frame is narrowed to one file, not shuffled."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        merge_upsert_store,
        write_store,
    )

    bidx, serving = str(tmp_path / "bidx"), str(tmp_path / "store")
    corpus = _docs(spark, [(i, f"w{i}a w{i}b w{i}c tail {i % 3}") for i in range(12)])
    band_index_write(minhash_band_index(corpus, k=8, bands=2), bidx, buckets=8, k=8, bands=2)
    write_store(_serving(spark, [(f"h{i}", f"p{i % 2}", "x", 1) for i in range(8)]), serving)
    upserts = {
        bidx: lambda w: band_index_upsert_write(
            _docs(spark, [(i, f"wave {w} doc {i}") for i in range(6)]), bidx, k=8, bands=2
        ),
        serving: lambda w: merge_upsert_store(
            _serving(spark, [(f"h{i}", f"p{i % 2}", f"y{w}", 2) for i in range(4)]), serving
        ),
    }
    orig = store._append_tombstones
    tomb_jobs = []

    def counted(ids, *args):
        plain = _jobs(spark, lambda: ids.write.parquet(str(tmp_path / uuid.uuid4().hex)))
        tomb_jobs.append((len(plain[1]), len(_jobs(spark, lambda: orig(ids, *args))[1])))

    monkeypatch.setattr(store, "_append_tombstones", counted)
    for path, upsert in upserts.items():
        for w in range(2):
            upsert(w)
            assert len(store.list_files(store.tombstone_path(path))) == w + 1, path
    assert len(tomb_jobs) == 4 and all(a == b for a, b in tomb_jobs), tomb_jobs


def test_store_reads_use_the_recorded_schema(spark, tmp_path):
    """The sidecar records the store schema, so building a pruned read
    (tombstones included) runs no schema-inference job, and an append
    whose columns or types differ from the record raises before any
    file is written."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import fp_store_pruned
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        merge_upsert_store,
        write_store,
    )

    corpus = _docs(spark, [(i, f"w{i}a w{i}b w{i}c shared {i % 4}") for i in range(16)])
    bidx, fps = str(tmp_path / "bidx"), str(tmp_path / "fp")
    band_index_write(minhash_band_index(corpus, k=8, bands=2), bidx, buckets=8, k=8, bands=2)
    band_index_upsert_write(_docs(spark, [(1, "a new crawl of doc one")]), bidx, k=8, bands=2)
    fp_store_write(corpus.select(F.md5("text").alias("fp")), fps, buckets=4, mode="overwrite")
    wave = _docs(spark, [(i, f"w{i}a w{i}b w{i}c shared {i % 4}") for i in range(4)])
    for read in (
        lambda: band_index_pruned(spark, bidx, wave, k=8, bands=2),
        lambda: fp_store_pruned(spark, fps, wave),
        lambda: store.read_bucketed(spark, bidx),
    ):
        _, jobs = _jobs(spark, read)
        assert not [j for j in jobs if j.startswith("parquet at")], jobs

    serving = str(tmp_path / "store")
    write_store(_serving(spark, [("h", "p", "x", 1)]), serving)
    before = _files(fps), _files(serving), store.meta_read(serving)
    with pytest.raises(ValueError, match="differ from the schema"):
        fp_store_write(spark.range(3).select(F.col("id").alias("fp")), fps)
    with pytest.raises(ValueError, match="differ from the schema"):
        merge_upsert_store(
            _serving(spark, [("h", "p", "y", 2)]).withColumn("extra", F.lit(1)), serving
        )
    assert (_files(fps), _files(serving), store.meta_read(serving)) == before


# -- the file format: ZSTD parquet ----------------------------------------


def _codecs(root) -> dict[str, set[str]]:
    """{relative path: codecs of its column chunks} of every parquet file
    under root, read from the file footers."""
    out = {}
    for rel in _files(root):
        meta = pq.ParquetFile(os.path.join(root, rel)).metadata
        out[rel] = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
    return out


def test_store_files_are_zstd(spark, tmp_path):
    """Every file a store call writes is ZSTD parquet, down to each
    column chunk: the serving store's publish, upsert (delta files and
    tombstones) and fold, the dedup stores' writes, upserts and both
    fold shapes, the CDC snapshot and the bucketed catalog table, first
    write and re-run."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        compact_store,
        merge_upsert_store,
        write_store,
        write_store_bucketed,
    )
    from coronavirus_dashboard_pipeline_etl_spark.streaming.ingest import cdc_apply_batch

    written = {}

    def new_files(name, root, call):
        before = _files(root)
        out = call()
        written[name] = {p: c for p, c in _codecs(root).items() if p not in before}
        assert written[name], name
        return out

    serving, bidx, fps, cdc = (str(tmp_path / n) for n in ("store", "bidx", "fp", "cdc"))
    new_files("write_store", serving, lambda: write_store(
        _serving(spark, [(f"h{i}", f"p{i % 3}", "x", 1) for i in range(12)]), serving
    ))
    new_files("merge_upsert_store", serving, lambda: merge_upsert_store(
        _serving(spark, [("h1", "p1", "y", 2), ("h50", "p0", "z", 2)]), serving
    ))
    new_files("compact_store", serving, lambda: compact_store(spark, serving))

    corpus = _docs(spark, [(i, f"w{i}a w{i}b w{i}c tail {i % 3}") for i in range(16)])
    new_files("band_index_write", bidx, lambda: band_index_write(
        minhash_band_index(corpus, k=8, bands=2), bidx, buckets=4, k=8, bands=2
    ))

    def recrawl(w):
        return lambda: band_index_upsert_write(
            _docs(spark, [(i, f"wave {w} doc {i} text") for i in range(6)]), bidx, k=8, bands=2
        )

    new_files("band_index_upsert_write", bidx, recrawl(0))
    scoped = new_files("file-scoped fold", bidx, lambda: compact_dedup_store(
        spark, bidx, incremental=True
    ))
    assert scoped[store.REPLAY_DEBT], scoped
    new_files("band_index_upsert_write again", bidx, recrawl(1))
    whole = new_files("whole-bucket fold", bidx, lambda: compact_dedup_store(
        spark, bidx, incremental=True, max_files_per_bucket=0
    ))
    assert whole["buckets_rewritten"] and not whole[store.REPLAY_DEBT], whole
    new_files("fp_store_write", fps, lambda: fp_store_write(
        corpus.select(F.md5("text").alias("fp")), fps, buckets=4, mode="overwrite"
    ))

    changes = "id long, val double, seq long, op string"
    for w in range(2):
        new_files(f"cdc_apply_batch {w}", cdc, lambda: cdc_apply_batch(
            spark.createDataFrame([(1, float(w), w, "U"), (2 + w, 1.0, w, "I")], changes),
            cdc,
            keys=("id",),
        ))

    table = f"zstd_probe_{uuid.uuid4().hex[:8]}"
    rows = [(f"A{i % 3}", "m", f"2024-01-0{1 + i}", "x", f"p{i % 2}") for i in range(6)]
    long = spark.createDataFrame(
        rows, "area_code string, metric string, date string, payload string, partition_id string"
    )
    try:
        write_store_bucketed(long, table, buckets=2)
        location = [
            r.data_type for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
            if r.col_name == "Location"
        ]
        table_root = unquote(urlparse(location[0]).path)
        written["write_store_bucketed"] = _codecs(table_root)
        assert written["write_store_bucketed"], table_root
        new_files("write_store_bucketed re-run", table_root, lambda: write_store_bucketed(
            long.filter("partition_id = 'p1'"), table, buckets=2
        ))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    tombstones = [p for n in written.values() for p in n if p.startswith("_tombstones/")]
    assert len(tombstones) >= 3, written
    assert {
        name: {p: c for p, c in files.items() if c != {"ZSTD"}}
        for name, files in written.items()
    } == {name: {} for name in written}


def test_legacy_snappy_store_reads_merges_and_folds(spark, tmp_path, monkeypatch):
    """A serving store whose files were written with snappy, before the
    store took ZSTD, needs no migration: ``read_store`` gives the right
    rows before and after an upsert merges into it, and
    ``compact_store`` rewrites the partition it folds as ZSTD while the
    clean partitions keep their snappy files."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        compact_store,
        merge_upsert_store,
        read_store,
        write_store,
    )

    path = str(tmp_path / "store")
    base = [(f"h{i}", f"p{i % 3}", f"old{i}", 1) for i in range(12)]
    monkeypatch.setattr(store, "_CODEC", "snappy")
    write_store(_serving(spark, base).coalesce(1), path)
    monkeypatch.undo()
    legacy = _codecs(path)
    assert len(legacy) == 3 and all(c == {"SNAPPY"} for c in legacy.values()), legacy
    assert _store_rows(read_store(spark, path)) == set(base)

    batch = [("h1", "p1", "new1", 2), ("h4", "p1", "new4", 2), ("h50", "p1", "ins", 2)]
    merge_upsert_store(_serving(spark, batch), path)
    want = {r for r in base if r[0] not in ("h1", "h4")} | set(batch)
    assert _store_rows(read_store(spark, path)) == want

    rep = compact_store(spark, path)
    assert rep["buckets_rewritten"] == 1 and rep["tombstones_cleared"] is True
    after = _codecs(path)

    def folded(p):
        return p.startswith("partition_id=p1/")

    assert {p for p in after if folded(p)} and all(
        c == {"ZSTD"} for p, c in after.items() if folded(p)
    ), after
    assert {p: c for p, c in after.items() if not folded(p)} == {
        p: c for p, c in legacy.items() if not folded(p)
    }
    assert _store_rows(read_store(spark, path)) == want
    assert _store_rows(spark.read.parquet(path)) == want


def test_bucketed_table_made_before_the_store_codec_converges_to_zstd(spark):
    """A bucketed serving table created by a plain ``saveAsTable`` (its
    options record no codec) gets ZSTD files in the partition a
    ``write_store_bucketed`` re-run replaces, keeps its snappy files in
    the untouched partition, and the session's overwrite-mode and codec
    confs are back at their previous values after the insert."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        write_store_bucketed,
    )

    table = f"legacy_codec_{uuid.uuid4().hex[:8]}"
    rows = [(f"A{i % 3}", "m", f"2024-01-0{1 + i}", "x", f"p{i % 2}") for i in range(6)]
    long = spark.createDataFrame(
        rows, "area_code string, metric string, date string, payload string, partition_id string"
    )
    confs = ("spark.sql.sources.partitionOverwriteMode", "spark.sql.parquet.compression.codec")
    try:
        (
            long.write.mode("overwrite")
            .partitionBy("partition_id")
            .bucketBy(2, "area_code", "metric")
            .sortBy("area_code", "metric", "date")
            .format("parquet")
            .saveAsTable(table)
        )
        location = [
            r.data_type for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
            if r.col_name == "Location"
        ]
        root = unquote(urlparse(location[0]).path)
        legacy = _codecs(root)
        assert legacy and all(c == {"SNAPPY"} for c in legacy.values()), legacy
        before = {k: spark.conf.get(k) for k in confs}

        write_store_bucketed(long.filter("partition_id = 'p1'"), table, buckets=2)

        after = _codecs(root)
        replaced = {p: c for p, c in after.items() if p.startswith("partition_id=p1/")}
        kept = {p: c for p, c in after.items() if not p.startswith("partition_id=p1/")}
        assert replaced and all(c == {"ZSTD"} for c in replaced.values()), after
        assert kept == {p: c for p, c in legacy.items() if p.startswith("partition_id=p0/")}
        assert {k: spark.conf.get(k) for k in confs} == before
        assert sorted(map(tuple, spark.table(table).collect())) == sorted(rows)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# -- the fold: one file-set rewrite for both layouts ----------------------


def _data_bytes(root) -> int:
    """Bytes of the data files under root: its tombstones left out."""
    return sum(n for p, n in _files(root).items() if not p.startswith("_tombstones/"))


def _three_doc_index(spark, path):
    """A 3-document band index spread over 64 buckets, then an empty
    re-crawl of doc 0: its bands die and nothing replaces them, so some
    buckets hold dead rows only."""
    corpus = _docs(
        spark, [(i, f"w{i}a w{i}b w{i}c w{i}d distinct tokens {i}") for i in range(3)]
    )
    band_index_write(
        minhash_band_index(corpus, k=8, bands=2), path, buckets=64, k=8, bands=2
    )
    band_index_upsert_write(_docs(spark, [(0, "")]), path, k=8, bands=2)


@pytest.mark.parametrize(
    "fold",
    [dict(incremental=True, max_files_per_bucket=0), dict()],
    ids=["whole-bucket", "full"],
)
def test_fold_deletes_buckets_whose_rows_all_died(spark, tmp_path, fold):
    """A bucket whose every row is dead has no live row to write back;
    the fold must still remove its files, or clearing the tombstones
    brings the dead rows back."""
    path = str(tmp_path / "bidx")
    _three_doc_index(spark, path)
    live = band_index_read(spark, path).collect()
    assert live and all(r.doc_id != 0 for r in live)
    want = sorted(tuple(r) for r in live)
    data_bytes = _data_bytes(path)
    rep = compact_dedup_store(spark, path, **fold)
    assert (rep["bytes_before"], rep["bytes_after"]) == (data_bytes, _data_bytes(path))
    assert rep["tombstones_cleared"] is True and rep["dead_rows_remaining"] == 0
    assert sorted(tuple(r) for r in band_index_read(spark, path).collect()) == want
    assert spark.read.parquet(path).count() == len(want)
    buckets = [d for d in os.listdir(path) if d.startswith("bucket=")]
    assert len(buckets) == rep["buckets_after"] < rep["buckets_before"]


def test_compact_store_takes_no_checkpoint_nor_overwrite(spark, tmp_path, monkeypatch):
    """Folding two upserted serving partitions runs at most 7 jobs, with
    no checkpoint and no overwrite-mode write: the fold appends new
    files and deletes the ones it read."""
    from pyspark.sql import DataFrame, DataFrameWriter

    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        compact_store,
        merge_upsert_store,
        read_store,
        write_store,
    )

    path = str(tmp_path / "store")
    base = _serving(spark, [(f"h{i}", f"p{i % 3}", "x", 1) for i in range(12)])
    write_store(base.coalesce(1), path)  # one file per partition
    merge_upsert_store(_serving(spark, [("h1", "p1", "y", 2), ("h2", "p2", "y", 2)]), path)
    want = _store_rows(read_store(spark, path))

    def refuse(*args, **kwargs):
        raise AssertionError("the fold checkpointed")

    orig_mode = DataFrameWriter.mode

    def mode(self, save_mode):
        assert save_mode != "overwrite", "the fold overwrote"
        return orig_mode(self, save_mode)

    data_bytes = _data_bytes(path)
    monkeypatch.setattr(DataFrame, "localCheckpoint", refuse)
    monkeypatch.setattr(DataFrameWriter, "mode", mode)
    rep, jobs = _jobs(spark, lambda: compact_store(spark, path))
    monkeypatch.undo()
    assert (rep["bytes_before"], rep["bytes_after"]) == (data_bytes, _data_bytes(path))
    assert rep["buckets_rewritten"] == 2 and rep["tombstones_cleared"] is True
    assert len(jobs) <= 7, jobs
    assert _store_rows(spark.read.parquet(path)) == want


def _crash_store(spark, path, layout):
    """``(merged-view rows, fold)`` of a store of ``layout`` with dead
    rows and fragmented partitions."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        compact_store,
        merge_upsert_store,
        read_store,
        write_store,
    )

    if layout == "bucket":
        corpus = _docs(spark, [(i, f"w{i}a w{i}b w{i}c tail {i % 3}") for i in range(16)])
        band_index_write(minhash_band_index(corpus, k=8, bands=2), path, buckets=4, k=8, bands=2)
        for w in range(2):
            band_index_upsert_write(
                _docs(spark, [(i, f"wave {w} doc {i} text") for i in range(6)]), path, k=8, bands=2
            )
        return (
            lambda: sorted(tuple(r) for r in band_index_read(spark, path).collect()),
            lambda: compact_dedup_store(spark, path),
        )
    write_store(_serving(spark, [(f"h{i}", f"p{i % 3}", "x", 1) for i in range(12)]), path)
    for w in range(2):
        merge_upsert_store(
            _serving(spark, [(f"h{i}", f"p{i % 3}", f"y{w}", 2 + w) for i in range(w, 8)]), path
        )
    return (
        lambda: sorted(tuple(r) for r in read_store(spark, path).collect()),
        lambda: compact_store(spark, path),
    )


@pytest.mark.parametrize("layout", ["bucket", "partition_id"])
def test_fold_crash_between_append_and_delete_loses_no_row(
    spark, tmp_path, monkeypatch, layout
):
    """A fold killed after its append, part-way through deleting the
    files it read, loses no live row: the merged read shows the same
    rows, some twice. Re-running the fold restores exactly the
    pre-fold view, one file per partition, with no tombstones."""
    path = str(tmp_path / "store")
    view, fold = _crash_store(spark, path, layout)
    want = view()
    deleted = []
    orig = store.delete

    def crash(p):
        if len(deleted) == 2:
            raise RuntimeError("simulated crash in the fold's deletes")
        deleted.append(p)
        orig(p)

    monkeypatch.setattr(store, "delete", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        fold()
    monkeypatch.undo()
    crashed = view()
    assert set(crashed) == set(want) and len(crashed) > len(want)
    assert os.path.isdir(os.path.join(path, "_tombstones"))
    rep = fold()
    assert view() == want
    assert rep["files_after"] == rep["buckets_after"]
    assert not os.path.isdir(os.path.join(path, "_tombstones"))
