"""Streaming near-duplicate probe: a new-document stream checks itself
against a STATIC indexed corpus with stream-static MinHash band joins.

The Structured-Streaming form of ``functions.dedup.minhash_probe_pairs``
(the daily-crawl-vs-corpus pass), built from the same MinHash toolkit
in ``functions/dedup.py``: ``minhash_signatures``, the ``_band_rows``
banding (and its ``k``/``bands`` guard), the ``_shingles`` token array
and the ``_jaccard`` verify. The corpus band index and candidate token
table are computed ONCE per release on the static side; each
micro-batch then pays only

* map-side signature + band-row expressions over the batch;
* a stream-static INNER equi-join on the band key (supported by the
  engine without state: the static side is broadcast or re-scanned per
  batch, the stream side never buffers);
* a ``dropDuplicates`` on the (new_id, old_id) pair — the one stateful
  op, keyed on candidate pairs, so state grows with MATCHES, not the
  corpus (bound it upstream with a watermark on an event-time column
  when the stream is unbounded);
* a second stream-static join to fetch the corpus candidate's token
  array, and a map-side exact-Jaccard verify.

Identical batch semantics: run on a plain DataFrame this produces the
same pairs as ``minhash_probe_pairs`` with the same parameters (modulo
that function's candidate-sized semi-join fetch, an optimisation, not
a semantic) — which is what the st6 gate's SQL oracle replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.dedup import _band_rows, _jaccard, _shingles, minhash_signatures


def probe_neardup_stream(
    stream: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    base_hash: str = "md5",
) -> DataFrame:
    """Per-micro-batch MinHash probe of ``stream`` against the static
    ``corpus``; emits ``(new_id, old_id, jaccard)`` for verified pairs
    >= ``threshold``. Works identically on a batch frame (the gate /
    oracle path)."""
    # static index: corpus band rows + token arrays (computed once per
    # release in production; re-used across every micro-batch)
    sig_c = minhash_signatures(
        corpus.select(id_col, text_col), id_col, text_col, k, base_hash
    )
    corpus_bands = _band_rows(sig_c, id_col, "old_id", k, bands)
    corpus_toks = corpus.select(
        F.col(id_col).alias("old_id"), _shingles(text_col).alias("__tb")
    )

    # stream side: map-side signatures; token array rides through the
    # band explode so the verify needs no second pass over the stream
    sig_s = minhash_signatures(
        stream.select(id_col, text_col), id_col, text_col, k, base_hash
    ).select(id_col, _shingles(text_col).alias("__ta"), *[f"mh{i}" for i in range(k)])
    stream_bands = _band_rows(sig_s, id_col, "new_id", k, bands, keep=("__ta",))

    cand = (
        stream_bands.join(corpus_bands, ["band", "sig"])
        .select("new_id", "old_id", "__ta")
        .dropDuplicates(["new_id", "old_id"])
    )
    return (
        cand.join(corpus_toks, "old_id")
        .select("new_id", "old_id", _jaccard("__ta", "__tb").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
