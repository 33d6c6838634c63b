"""The crawl day: the engine's corpus-maintenance pipeline.

``crawl_day`` runs a day's crawl waves, in order, through the full
incremental stack and advances every piece of persisted state between
waves:

  exact dedup against the persisted fingerprint store
    (``dedup_incremental`` over ``fp_store_pruned``)
  -> near-dup probe against the persisted band index
    (``minhash_probe_pairs(corpus_bands=band_index_pruned(...))``,
    Jaccard threshold 0.9; within-batch near-dups are out of scope per
    the operator contract)
  -> quality filter (``quality_stats``: at least 20 tokens, a
    distinct-token ratio of at least 0.5, and no more tokens than one
    packing context)
  -> sequence packing of the survivors (``assign_packs``, context 512,
    doc_id order, per wave)
  -> state advance: the survivors' fps append to the fp store, the
    survivor docs append to the corpus store, and the band index takes
    a batch-sized upsert (``index_upsert_batch``: appends plus
    tombstones, never a store rewrite).

Each seed store is READ once, not once per wave: the waves are known up
front, so one touched-bucket derivation over their union prunes one
read of each store, and a later wave's state view is that read UNION
the earlier waves' survivors already materialised in memory. Both
steps are lossless: (a) pruning with the union of every wave's touched
buckets returns a superset of any one wave's pruned rows, and a store
row in a bucket the wave does not touch cannot equal any of the wave's
keys (equal keys share a bucket), so the exact anti-join and the
(band, sig) equi-join are unchanged; (b) the in-memory state is exactly
what the state advance appended to the stores, unpruned — a superset of
the store-pruned view, with the same no-extra-matches argument. The
stores still advance on every wave, so the next day starts from them.
"""

from __future__ import annotations

from collections.abc import Mapping
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.curation import assign_packs
from ..functions.dedup import (
    band_index_pruned,
    dedup_incremental,
    fp_store_pruned,
    fp_store_write,
    minhash_band_index,
    minhash_probe_pairs,
)
from ..functions.text import quality_stats
from ..store import pins
from ..streaming.ingest import index_upsert_batch

#: MinHash identity of the band index (shingle size, bands)
K = 16
BANDS = 2
#: Jaccard similarity at or above which a wave doc is a near-dup of the corpus
NEAR_DUP_THRESHOLD = 0.9
#: quality cut on the distinct-token ratio
MIN_DISTINCT_RATIO = 0.5
#: packing context, in tokens
CONTEXT_LEN = 512

def _advance_state(
    packed: DataFrame, fp_path: str, index_path: str, corpus_path: str
) -> None:
    """Append a wave's survivors to the three stores. The writes are
    independent (distinct paths, each reading only the checkpointed
    wave), so they run from a small thread pool and the short appends
    fill the cores the upsert's tail leaves idle. None of them
    checkpoints, so the one-thread rule for checkpointing operators
    (``store._persistent_rdd_ids``) is kept."""

    def corpus_append() -> None:
        packed.select("doc_id", "text").write.mode("append").parquet(corpus_path)

    with ThreadPoolExecutor(max_workers=3) as pool:
        for fut in [
            pool.submit(fp_store_write, packed.select("fp"), fp_path),
            pool.submit(corpus_append),
            pool.submit(
                index_upsert_batch,
                packed.select("doc_id", "text"),
                index_path,
                k=K,
                bands=BANDS,
            ),
        ]:
            fut.result()


def crawl_day(
    spark: SparkSession,
    fp_path: str,
    index_path: str,
    corpus_path: str,
    waves: Mapping[int, DataFrame],
) -> DataFrame:
    """Run ``waves`` (wave number -> ``doc_id, lang, text`` batch, in
    crawl order) against the seeded fingerprint store at ``fp_path``
    (``fp_store_write``), band index at ``index_path``
    (``band_index_write``, k=16, bands=2) and plain parquet corpus at
    ``corpus_path`` (``doc_id, text``), advancing all three. Returns
    every wave's packed survivors — the batch columns plus ``fp``, the
    ``quality_stats`` columns, ``pack_id``, ``pack_offset`` and
    ``wave`` — read from per-wave checkpoints. The day runs in one
    ``store.pins`` scope owned by ``crawl_day``: a wave's exact-dedup
    survivors are released once its packed wave is materialised, the
    packed waves the result reads stay pinned until the next
    ``crawl_day`` call releases them (finish consuming one day's result
    before the next call), and an error releases every pin the call
    took."""
    both = reduce(lambda a, b: a.unionByName(b), waves.values())
    seen_seed = fp_store_pruned(spark, fp_path, both)
    bands_seed = band_index_pruned(spark, index_path, both, k=K, bands=BANDS)
    corpus_seed = spark.read.parquet(corpus_path)
    state_fps = state_docs = state_bands = None
    out = None
    with pins("crawl_day") as pin:
        for wave_no, batch in waves.items():
            seen = seen_seed if state_fps is None else seen_seed.unionByName(state_fps)
            corpus_docs = (
                corpus_seed if state_docs is None else corpus_seed.unionByName(state_docs)
            )
            corpus_bands = (
                bands_seed if state_bands is None else bands_seed.unionByName(state_bands)
            )
            # the exact-dedup survivors feed four subtrees of the wave plan
            # (the probe's batch-band build, both verify token fetches and
            # the survivors anti-join): materialise them once instead of
            # re-running the store anti-join under each consumer; the
            # blocks are dead once the packed wave is materialised
            kept_e = pin(dedup_incremental(batch, seen))
            near_ids = (
                minhash_probe_pairs(
                    kept_e,
                    corpus_docs,
                    k=K,
                    bands=BANDS,
                    threshold=NEAR_DUP_THRESHOLD,
                    corpus_bands=corpus_bands,
                )
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            survivors = kept_e.join(near_ids, "doc_id", "left_anti")
            # the token cap joins the quality cut: assign_packs rejects
            # over-context docs loudly by contract
            kept = quality_stats(survivors).filter(
                F.col("len_ok")
                & (F.col("distinct_ratio") >= MIN_DISTINCT_RATIO)
                & (F.col("n_tokens") <= CONTEXT_LEN)
            )
            packed = pin(
                assign_packs(
                    kept,
                    tokens_col="n_tokens",
                    context_len=CONTEXT_LEN,
                    order_cols=("doc_id",),
                )
            )
            pin.release(kept_e)
            _advance_state(packed, fp_path, index_path, corpus_path)
            # the next wave's state view: exactly the rows just appended
            state_fps = packed.select("fp")
            state_docs = packed.select("doc_id", "text")
            state_bands = minhash_band_index(packed, k=K, bands=BANDS)
            rows = packed.withColumn("wave", F.lit(wave_no))
            out = rows if out is None else out.unionByName(rows)
    return out
