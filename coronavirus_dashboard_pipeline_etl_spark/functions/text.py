"""Text-analysis operators for training-data pipelines: tokenisation
stats, quality scoring, language-ID heuristic, document fingerprinting.

All JVM-side expressions (split / HOFs / md5) — no Python UDFs — so they
run inside WholeStageCodegen and scale linearly with input splits. Each
has an exact ANSI-SQL equivalent (see __spark_entry__.oracle_sql) so the
duckdb gate verifies them value-for-value.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..store import rolling_checkpoint


def tokens(col: Column | str) -> Column:
    """Whitespace tokenisation (the reference treats text as opaque; this
    is the standard LLM-pipeline whitespace pass)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token count, char counts, mean token length."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    chars_no_space = F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
    return df.withColumns(
        {
            "n_tokens": n_tokens.cast("long"),
            "n_chars_total": F.length(text_col).cast("long"),
            "n_chars_alpha": chars_no_space.cast("long"),
            "mean_token_len": chars_no_space.cast("double") / n_tokens.cast("double"),
        }
    )


def quality_stats(
    df: DataFrame,
    text_col: str = "text",
    stopwords: Sequence[str] = ("the", "a", "of", "and", "to"),
    min_tokens: int = 20,
) -> DataFrame:
    """Heuristic quality signals: stopword ratio, distinct-token ratio,
    length gate — the usual cheap pre-filters before expensive dedup."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_distinct = F.size(F.array_distinct(toks))
    return df.withColumns(
        {
            "n_tokens": n_tokens.cast("long"),
            "stopword_ratio": n_stop.cast("double") / n_tokens.cast("double"),
            "distinct_ratio": n_distinct.cast("double") / n_tokens.cast("double"),
            "len_ok": (n_tokens >= min_tokens).cast("boolean"),
        }
    )


def langid_scores(
    df: DataFrame,
    text_col: str = "text",
    markers: Mapping[str, Sequence[str]] | None = None,
) -> DataFrame:
    """Marker-token language ID: count marker hits per language, argmax
    with deterministic lexicographic tie-break.

    A real deployment swaps the marker lists for n-gram frequency tables;
    the operator shape (per-language score columns + argmax) is identical.
    """
    markers = markers or {
        "en": ["the", "a", "and"],
        "fr": ["le", "la", "et"],
        "de": ["der", "die", "und"],
    }
    toks = tokens(text_col)
    langs = sorted(markers)
    for lang in langs:
        marker_arr = F.array(*[F.lit(m) for m in markers[lang]])
        df = df.withColumn(
            f"score_{lang}",
            F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t))).cast(
                "long"
            ),
        )
    # argmax, ties -> lexicographically first language
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pick = F.lit(None).cast("string")
    for lang in reversed(langs):
        pick = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pick)
    return df.withColumn("lang_pred", F.when(best > 0, pick).otherwise(F.lit("und")))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the lower-cased,
    whitespace-collapsed text. Stable across engines (md5 is md5)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    training-data chunking pass. Emits (id, chunk_index, chunk_tokens,
    chunk_text); the final window may be short.

    Pure expression work (sequence + explode + slice): rows fan out
    ~n_tokens/stride per doc with no shuffle, so it composes with a
    downstream repartition/write at any scale.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - F.lit(1), F.lit(0)), F.lit(step)
    )
    return (
        df.withColumn("__toks", toks)
        .withColumn("__start", F.explode(starts))
        # a window starting at s only adds tokens beyond the previous
        # window's coverage (which ends at s + overlap) when s < n -
        # overlap; otherwise it is a fully-duplicated tail chunk
        .filter((F.col("__start") == 0) | (F.col("__start") < n - F.lit(overlap)))
        .withColumn("__chunk", F.slice("__toks", F.col("__start") + 1, chunk_tokens))
        .filter(F.size("__chunk") > 0)
        .select(
            F.col(id_col),
            (F.col("__start") / F.lit(step)).cast("long").alias("chunk_index"),
            F.size("__chunk").cast("long").alias("chunk_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


# PII patterns restricted to the RE2 ∩ Java-regex common subset (no
# lookaround, ASCII classes only) so a SQL oracle replays the scrub
# byte-for-byte. Replacement order is fixed: email first (its local
# part may contain digit runs the other patterns would split).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    "phone": (r"\+[0-9]{7,15}", "<PHONE>"),
}


def scrub_pii(
    col: Column | str, kinds: Sequence[str] = ("email", "ipv4", "phone")
) -> Column:
    """Redact PII spans with typed placeholder tokens — the standard
    pre-training scrub pass. Chained ``regexp_replace`` expressions:
    whole-stage-codegen'd, no UDF, no shuffle; composes with any
    downstream filter/dedup at corpus scale."""
    c = F.col(col) if isinstance(col, str) else col
    for kind in kinds:
        if kind not in PII_PATTERNS:
            raise ValueError(f"unknown PII kind {kind!r}; have {sorted(PII_PATTERNS)}")
        pat, repl = PII_PATTERNS[kind]
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(
    col: Column | str, kinds: Sequence[str] = ("email", "ipv4", "phone")
) -> dict[str, Column]:
    """Per-kind PII match counts (audit columns for scrub QA) — count on
    the RAW text, so chain-order replacement effects don't skew audits."""
    c = F.col(col) if isinstance(col, str) else col
    out = {}
    for kind in kinds:
        if kind not in PII_PATTERNS:
            raise ValueError(f"unknown PII kind {kind!r}; have {sorted(PII_PATTERNS)}")
        out[f"n_{kind}"] = F.regexp_count(c, F.lit(PII_PATTERNS[kind][0])).alias(
            f"n_{kind}"
        )
    return out


# GPT-2-style pretokenizer approximation in the RE2 ∩ Java-regex common
# subset (no lookaround): letter runs, digit runs, punctuation runs.
# Real BPE then merges within these pretokens, so this count upper-bounds
# and tightly tracks true BPE token counts for budget/packing purposes.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_ish_tokens(col: Column | str) -> Column:
    """Array of BPE-ish pretokens (letter/digit/punctuation runs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def bpe_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token-budget stats per doc: BPE-ish pretoken count next to the
    whitespace word count, and their ratio (a subword-fragmentation
    signal — prose sits near 1, code/URLs/numerics run higher). Pure
    regexp expressions, codegen'd, no shuffle."""
    n_bpe = F.size(bpe_ish_tokens(text_col))
    n_ws = F.size(tokens(text_col))
    return df.select(
        "*",
        n_bpe.cast("long").alias("n_bpe_tokens"),
        n_ws.cast("long").alias("n_ws_tokens"),
        (n_bpe.cast("double") / n_ws.cast("double")).alias("fragmentation"),
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    log_idf: bool = True,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    ``log_idf=True`` (production) scores ``tf * (ln((N+1)/(df+1)) + 1)``
    — the standard smoothed form. ``log_idf=False`` scores with the raw
    rational odds ``tf * ((N+1)/(df+1))``: exact IEEE arithmetic with no
    libm call, for cross-engine oracle checks (ln differs in the last
    ulp between libms, which can flip a rank; see the repo determinism
    contract). Both forms rank identically when tf = 1.

    Plan: explode -> groupBy (doc, term) for tf -> groupBy term for df
    (the exploded subtree evaluates twice — cheap codegen work, cheaper
    than materialising the token corpus) -> join tf to the term-df side
    on term -> per-doc top-k window. Three shuffles, all on
    well-distributed keys (term df join is vocabulary-sized; Spark picks
    broadcast when stats allow). Doc count N rides a 1-row broadcast
    (with_scalars pattern), never a driver collect.
    """
    from pyspark.sql import Window

    from ..operators.util import spread

    # tokenise + explode off a narrow local scan layout (no-op at real
    # file counts)
    toks = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(
        F.countDistinct(id_col).alias("term_df")
    )
    # N = corpus size (all input docs, token-less ones included) as a
    # 1-row broadcast — the with_scalars pattern, aggregated over the
    # INPUT frame rather than the token frame
    n_docs = df.agg(F.countDistinct(id_col).alias("__n_docs"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n_docs))
    odds = (F.col("__n_docs") + 1).cast("double") / (
        F.col("term_df") + 1
    ).cast("double")
    idf = (F.log(odds) + F.lit(1.0)) if log_idf else odds
    scored = scored.withColumn("score", F.col("tf").cast("double") * idf)
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(
            id_col,
            F.col("term_rank").cast("long").alias("term_rank"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("term_df").cast("long").alias("term_df"),
            "score",
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    log_idf: bool = True,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query by Okapi BM25.

    score(d) = sum over query terms t of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    ``log_idf=True`` uses the classic ``ln(1 + (N - df + 0.5) /
    (df + 0.5))``; ``log_idf=False`` uses the raw odds (no libm call)
    for cross-engine oracle checks — same monotonicity in df, so the
    blend differs but each term's contribution ranks the same way.

    Plan shape: the corpus tokenises map-side; per-doc tf for the HANDFUL
    of query terms comes from array expressions (no explode of the whole
    corpus for a query!); df per query term and avgdl are two tiny
    aggregates broadcast back; the final top-k is a global
    TakeOrderedAndProject. Zero corpus-wide shuffles — the whole score
    computes in the scan stage, which is what makes per-query latency
    viable on a huge corpus.
    """
    if not query_terms:
        raise ValueError("bm25_topk: empty query")
    terms = sorted(set(query_terms))
    toks = tokens(text_col)
    dl = F.size(toks).cast("double")

    # per-term tf as array expressions over the token array
    def tf_col(t: str) -> Column:
        return F.size(F.filter(toks, lambda x: x == F.lit(t))).cast("double")

    from ..operators.util import spread

    # per-term tf over the whole token array per row, map-only —
    # spread off a narrow local scan layout (no-op at real file counts)
    base = spread(df).select(
        F.col(id_col),
        dl.alias("__dl"),
        *[tf_col(t).alias(f"__tf_{i}") for i, t in enumerate(terms)],
    )
    # tiny aggregate side: N, avgdl, df per term — one row, broadcast
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("double")).alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))

    def idf_col(i: int) -> Column:
        odds = (F.col("__n") - F.col(f"__df_{i}") + F.lit(0.5)) / (
            F.col(f"__df_{i}") + F.lit(0.5)
        )
        return F.log(F.lit(1.0) + odds) if log_idf else odds

    score = None
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}")
        contrib = idf_col(i) * (
            tf
            * F.lit(k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl")))
        )
        score = contrib if score is None else score + contrib
    ranked = scored.select(F.col(id_col), score.alias("score")).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return ranked.limit(k)


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Buettcher, SIGIR 2009):
    ``fused(d) = sum over legs of 1 / (k + rank_leg(d))``, a document
    absent from a leg contributing 0 — the standard hybrid-retrieval
    combiner (BM25 + dense, multi-field, multi-query expansion) because
    it needs no score calibration between legs, only ranks. k=60 is the
    paper's constant.

    Exactness: each term is one double division on integer-valued
    doubles and the sum is a FIXED-ORDER expression (leg 0 + leg 1 +
    ...), so fused scores are bit-identical across engines and
    partitionings; final ties break by id.

    Plan shape: the legs are top-k-sized by construction (they come out
    of retrieval operators), so fusion is a chain of full-outer joins on
    the id plus one global row_number over a handful of rows — constant
    work per query regardless of corpus size. Returns
    ``(id, rrf_score, rank)`` ordered by rank.
    """
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse: no rankings")
    if k <= 0:
        raise ValueError(f"rrf_fuse: k must be positive, got {k}")
    fused = None
    for i, leg in enumerate(rankings):
        part = leg.select(
            F.col(id_col),
            (
                F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double"))
            ).alias(f"__rrf_{i}"),
        )
        # a leg's upstream lineage can be a whole-corpus retrieval run
        # (bm25_topk, an ANN scan); checkpoint the projected top-k-sized
        # leg so the guard collect below doubles as its materialisation
        # and the fused plan reads the tiny checkpoint instead of
        # re-executing the retrieval (the _probe_exploded_guarded
        # pattern); the next call's leg i releases it
        part = rolling_checkpoint(part, f"rrf_fuse_leg{i}")
        # a duplicate id inside one leg would FAN OUT through the
        # full-outer join chain (two rows for the doc, every doc below
        # it displaced) — fail loudly instead; legs are top-k-sized,
        # so the guard aggregate is a trivial job
        dup = (
            part.groupBy(id_col)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"rrf_fuse: leg {i} contains duplicate {id_col}="
                f"{dup[0][id_col]}; each leg must rank a document once"
            )
        fused = part if fused is None else fused.join(
            part, id_col, "full_outer"
        )
    score = None
    for i in range(len(rankings)):
        c = F.coalesce(F.col(f"__rrf_{i}"), F.lit(0.0))
        score = c if score is None else score + c
    out = fused.select(F.col(id_col), score.alias("rrf_score"))
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    out = out.withColumn("rank", F.row_number().over(w).cast("long"))
    if top_k is not None:
        out = out.filter(F.col("rank") <= top_k)
    return out.orderBy("rank")


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
    mode: str = "log",
) -> DataFrame:
    """In-corpus bigram language-model scoring per document — the
    CCNet/KenLM-style quality signal (docs whose word transitions are
    improbable under the corpus model are boilerplate/garble; docs whose
    bigrams occur nowhere else are templating/memorisation outliers).

    Both modes share the same distributed model build (all JVM-side):
    explode bigrams -> per-(doc, bigram) counts [shuffle keyed on the
    pair] -> corpus bigram/unigram counts [vocabulary-keyed shuffles]
    -> join doc counts to the model on the bigram key -> per-doc rollup.
    Every shuffle carries counts, not text; hot bigrams ("of the") skew
    the model join's probe side, which AQE skew-join splits — the model
    side is one row per bigram, so no correctness hazard.

    ``mode="log"`` (production): add-k smoothed transition log-probs
    ``ln((C(w1,w2)+k) / (C(w1)+k*V))``, per-doc mean and perplexity
    ``exp(-mean)``.  Uses libm ``ln`` — last-ulp engine-dependent, so
    this mode is pytest-verified against a pure-Python reference, not
    oracle-hashed (same contract as tfidf_topk's log_idf).

    ``mode="rational"`` (oracle-gated): exact-integer per-doc stats —
    bigram instances, distinct bigrams, instances unique to the doc
    (corpus count == own count: the duplicate-n-gram/novelty signal),
    integer corpus-frequency mass — with exactly ONE double division
    each for the novelty and mean-frequency ratios, so DuckDB hashes
    match bit-for-bit.
    """
    if mode not in ("log", "rational"):
        raise ValueError(f"mode must be 'log' or 'rational', got {mode!r}")
    from ..operators.util import spread

    arr = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    # tokenisation + bigram explode feed the model shuffles from the
    # scan layout — spread the RAW rows, then tokenise on the wide
    # layout (no-op at real file counts)
    base = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), arr.alias("__toks")
    )
    n_tok = F.size("__toks")
    bigrams = F.transform(
        F.slice("__toks", 1, F.greatest(n_tok - 1, F.lit(0))),
        lambda x, i: F.concat_ws("\x01", x, F.element_at(F.col("__toks"), i + 2)),
    )
    exploded = base.select(
        F.col(id_col), F.explode(bigrams).alias("__bg")
    )
    doc_bg = exploded.groupBy(id_col, "__bg").agg(
        F.count(F.lit(1)).alias("__doc_cnt")
    )
    # the model deliberately re-aggregates `exploded` rather than
    # rolling up doc_bg: map-side partial aggregation already shrinks
    # the (bg)-keyed shuffle to distinct bigrams per task, and both
    # sharing variants measured flat at bench scale with structural
    # downsides (rollup adds a pair-keyed shuffle while expression-id
    # divergence under the self-join blocks exchange reuse; a lazy
    # checkpoint pins data-sized blocks for the session) — r15 A/B,
    # numbers in OPTIMIZATION_r15.md
    model = exploded.groupBy("__bg").agg(
        F.count(F.lit(1)).alias("__corpus_cnt")
    )
    joined = doc_bg.join(model, "__bg")

    if mode == "rational":
        per_doc = joined.groupBy(id_col).agg(
            F.sum("__doc_cnt").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
            F.sum(
                F.when(F.col("__corpus_cnt") == F.col("__doc_cnt"), F.col("__doc_cnt")).otherwise(0)
            ).alias("novel_bigrams"),
            F.sum(F.col("__doc_cnt") * F.col("__corpus_cnt")).alias("corpus_freq_mass"),
        )
        out = df.select(id_col).join(per_doc, id_col, "left")
        n_d = F.col("n_bigrams").cast("double")
        return out.select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_distinct_bigrams", F.lit(0)).alias("n_distinct_bigrams"),
            F.coalesce("novel_bigrams", F.lit(0)).alias("novel_bigrams"),
            (F.col("novel_bigrams").cast("double") / n_d).alias("novelty"),
            (F.col("corpus_freq_mass").cast("double") / n_d).alias("avg_corpus_freq"),
        )

    # log mode: unigram CONTEXT counts C(w1) and vocabulary size V
    unigrams = base.select(F.explode("__toks").alias("__w"))
    uni_cnt = unigrams.groupBy("__w").agg(F.count(F.lit(1)).alias("__uni_cnt"))
    vocab = unigrams.agg(F.countDistinct("__w").alias("__v"))
    with_w1 = joined.withColumn(
        "__w1", F.split("__bg", "\x01").getItem(0)
    ).join(uni_cnt, F.col("__w1") == F.col("__w")).crossJoin(F.broadcast(vocab))
    logp = F.log(
        (F.col("__corpus_cnt") + F.lit(k))
        / (F.col("__uni_cnt") + F.lit(k) * F.col("__v"))
    )
    per_doc = with_w1.groupBy(id_col).agg(
        F.sum("__doc_cnt").alias("n_bigrams"),
        F.sum(F.col("__doc_cnt") * logp).alias("__sum_logp"),
    )
    out = df.select(id_col).join(per_doc, id_col, "left")
    avg = F.col("__sum_logp") / F.col("n_bigrams").cast("double")
    return out.select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        avg.alias("avg_logprob"),
        F.exp(-avg).alias("perplexity"),
    )


def hashed_classifier_score(
    df: DataFrame,
    weights: Sequence[int],
    text_col: str = "text",
    bias: int = 0,
    weight_scale: int = 1000,
    keep_cols: Sequence[str] = ("doc_id", "lang"),
    threshold: float = 0.0,
) -> DataFrame:
    """Hashing-trick linear text classifier (the fastText-style quality
    scorer of LLM curation pipelines), as pure JVM expressions.

    Each token hashes to a bucket (``md5`` prefix mod ``len(weights)``
    — the cross-engine base hash of ``dedup.md5_prefix_long``); the raw
    score is the exact integer sum of the bucket weights plus ``bias``.
    Weights are INTEGER fixed-point (true weight = w / weight_scale):
    integer sums are order- and partition-independent, so the score is
    bit-identical across engines — the float-free analogue of shipping
    a learned weight vector. The per-row work is one array transform +
    fold inside WholeStageCodegen; the weight vector rides along as ONE
    array literal (the ``assign_centroids`` plan-compile lesson:
    never k per-element literal trees).

    Emits ``score_raw`` (exact), ``score`` (mean per-token weight as a
    double — one division of identical operands), and the thresholded
    ``label``. Empty documents score NULL / label false.
    """
    from ..operators.util import spread
    from .dedup import md5_prefix_long

    n_buckets = len(weights)
    if n_buckets < 1:
        raise ValueError("weights must be non-empty")
    # one md5 per token per row, map-only — spread off a narrow local
    # scan layout (no-op at real file counts)
    df = spread(df)
    warr = F.lit([int(w) for w in weights])
    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    per_tok = F.transform(
        toks,
        lambda t: F.element_at(
            warr, (md5_prefix_long(t) % n_buckets + 1).cast("int")
        ).cast("long"),
    )
    raw = F.aggregate(
        per_tok, F.lit(int(bias)).cast("long"), lambda acc, x: acc + x
    )
    n_tok = F.size(toks)
    score = F.when(
        n_tok > 0,
        F.col("score_raw").cast("double")
        / (n_tok * int(weight_scale)).cast("double"),
    )
    return (
        df.withColumn("n_tokens", n_tok.cast("long"))
        .withColumn("score_raw", raw)
        .withColumn("score", score)
        .withColumn(
            "label", F.coalesce(score >= float(threshold), F.lit(False))
        )
        .select(*keep_cols, "n_tokens", "score_raw", "score", "label")
    )


# ---------------------------------------------------------------------------
# BPE merge learning + encoding (Sennrich et al. 2016, ACL — public
# algorithm). The distributed shape real trainers use at corpus scale:
# the CORPUS-SIZED work is one groupBy(word).count() — 100 TB of text
# reduces to a vocabulary histogram (Heaps' law: ~millions of rows) —
# and the merge loop then runs on that histogram alone, bounded by a
# loud max_vocab guard, its cost independent of corpus size.
# ---------------------------------------------------------------------------

BPE_WORD_PATTERN = "[a-z]+"


def _bpe_merge_loop(
    word_freqs: "Sequence[tuple[str, int]]", n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Exact greedy BPE over a word-frequency histogram: per round, the
    most frequent adjacent symbol pair (ties broken by (left, right)
    ascending, fully deterministic) is fused left-to-right and
    non-overlapping in every word. Pair counts update incrementally —
    only words containing the merged pair are re-scanned — so each
    round costs O(occurrences), not O(vocabulary).

    Returns ``[(merge_rank, left, right, pair_count), ...]``; stops
    early when no adjacent pair remains.
    """
    from collections import defaultdict

    words = [list(w) for w, _ in word_freqs]
    freqs = [f for _, f in word_freqs]
    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set] = defaultdict(set)
    for wi, (syms, f) in enumerate(zip(words, freqs)):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] += f
            where[p].add(wi)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best, best_c = None, 0
        for p, c in counts.items():
            if c > best_c or (c == best_c and best is not None and p < best):
                best, best_c = p, c
        if best is None or best_c < 1:
            break
        left, right = best
        merges.append((rank, left, right, best_c))
        fused = left + right
        # stale `where` entries are harmless: subtract-then-add of an
        # unchanged word is a net no-op on counts
        for wi in sorted(where.pop(best)):
            syms, f = words[wi], freqs[wi]
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] -= f
            i = 0
            while i < len(syms) - 1:
                if syms[i] == left and syms[i + 1] == right:
                    syms[i : i + 2] = [fused]
                i += 1
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] += f
                where[p].add(wi)
        counts.pop(best, None)
    return merges


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    pattern: str = BPE_WORD_PATTERN,
    lowercase: bool = True,
    max_vocab: int = 2_000_000,
) -> DataFrame:
    """Learn a BPE merge table over a corpus, Spark-first:

    1. **Distributed** (the only corpus-sized stage): pretokenise with
       a JVM-side ``regexp_extract_all`` + explode and reduce to a
       word-frequency histogram — one shuffle, map-side partial
       aggregation, output rows = vocabulary size, not corpus size.
    2. **Driver merge loop** over the histogram (``_bpe_merge_loop``),
       exactly how production BPE trainers work at scale: the loop's
       cost depends on vocabulary and n_merges only. The collect is
       guarded by a loud ``max_vocab`` (the engine-wide bounded-collect
       contract, cf. similarity.cosine_topk's max_rows).

    Returns a DataFrame ``(merge_rank int, left string, right string,
    pair_count long)`` ordered by rank — feed it to ``bpe_encode``.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    c = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    hist = (
        df.select(
            F.explode(F.regexp_extract_all(c, F.lit(pattern), 0)).alias("word")
        )
        .groupBy("word")
        .count()
    )
    rows = hist.limit(max_vocab + 1).collect()
    if len(rows) > max_vocab:
        raise ValueError(
            f"vocabulary exceeds max_vocab={max_vocab}; raise the guard "
            "or tighten the pretoken pattern — the merge loop is "
            "driver-side by design and must stay bounded"
        )
    # deterministic loop input order (collect order is partition-luck)
    word_freqs = sorted((r["word"], r["count"]) for r in rows)
    merges = _bpe_merge_loop(word_freqs, n_merges)
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count long"
    )


def bpe_encode(
    df: DataFrame,
    merges: "Sequence[tuple[str, str]] | DataFrame",
    text_col: str = "text",
    pattern: str = BPE_WORD_PATTERN,
    lowercase: bool = True,
) -> DataFrame:
    """Apply a learned merge table: per pretoken, fuse pairs in merge-
    rank order (each rank applied greedily left-to-right, the exact
    inverse-of-training order every BPE encoder uses). Adds
    ``n_bpe_tokens`` (long) and ``bpe_tokens`` (array<string>).

    The merge table is tiny (n_merges rows) and rides into the Arrow-
    batched mapInPandas closure; per-batch memoisation means each
    distinct word is encoded once per batch, so the Python cost tracks
    the vocabulary of the batch, not its token count. Map-side only —
    no shuffle.
    """
    import re

    import pandas as pd

    if isinstance(merges, DataFrame):
        # small by construction: one row per learned merge
        merge_rows = merges.orderBy("merge_rank").collect()
        table = [(r["left"], r["right"]) for r in merge_rows]
    else:
        table = [(left, right) for left, right in merges]
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    rx = re.compile(pattern)
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("n_bpe_tokens", LongType()),
            StructField("bpe_tokens", ArrayType(StringType())),
        ]
    )

    def encode_word(word: str, cache: dict) -> list:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word)
        for left, right in table:
            if len(syms) < 2:
                break
            fused, i = left + right, 0
            while i < len(syms) - 1:
                if syms[i] == left and syms[i + 1] == right:
                    syms[i : i + 2] = [fused]
                i += 1
        cache[word] = syms
        return syms

    def run(batches):
        for pdf in batches:
            cache: dict = {}
            toks_col, n_col = [], []
            for text in pdf[text_col]:
                text = text if text is not None else ""
                if lowercase:
                    text = text.lower()
                toks: list = []
                for word in rx.findall(text):
                    toks.extend(encode_word(word, cache))
                toks_col.append(toks)
                n_col.append(len(toks))
            out = pdf.copy()
            out["n_bpe_tokens"] = n_col
            out["bpe_tokens"] = toks_col
            yield out

    return df.mapInPandas(run, out_schema)


# Unicode hygiene: the cleanup-pass regex classes, shared verbatim by
# the Spark expressions and the DuckDB oracle (both RE2-compatible and
# Java-regex-compatible spellings — \x{...} works in both engines).
# C1 controls (U+0080-009F) are stripped EXCEPT U+0085 (NEL), which is
# a line break and therefore collapses as whitespace instead; the
# whitespace class also carries the non-\s Unicode separators Java \s
# misses without UNICODE_CHARACTER_CLASS (NBSP, OGHAM SPACE MARK, the
# U+2000 block, LINE/PARAGRAPH SEPARATOR, narrow/math/ideographic
# spaces).
_CONTROL_CLASS = (
    r"[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}"
    r"\x{80}-\x{84}\x{86}-\x{9F}]"
)
_ZERO_WIDTH_CLASS = r"[\x{200B}-\x{200D}\x{FEFF}]"
_WS_CLASS = (
    r"[\s\x{85}\x{A0}\x{1680}\x{2000}-\x{200A}"
    r"\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+"
)


def normalize_text(
    df: DataFrame, text_col: str = "text", out: str = "text_norm"
) -> DataFrame:
    """Unicode hygiene for crawled corpora: NFC normalisation, then
    strip C0/C1 control and zero-width characters, collapse every
    Unicode-whitespace run (incl. NBSP and the U+2000 block) to one
    space, and trim. The canonical first pass before tokenising,
    hashing, or deduplicating web text — without it, 'e'+COMBINING
    ACUTE and the precomposed 'é' fingerprint as different documents.

    Only the NFC step crosses into Python (``unicodedata.normalize``
    has no JVM builtin) — one Arrow-vectorised pandas UDF, map-only,
    no shuffle. Everything else is whole-stage-codegen'd
    ``regexp_replace``. NULL text stays NULL (every stage is
    null-propagating). DuckDB replays it exactly:
    ``nfc_normalize`` + the same three regex classes.
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    c = _nfc(F.col(text_col))
    c = F.regexp_replace(c, _CONTROL_CLASS, "")
    c = F.regexp_replace(c, _ZERO_WIDTH_CLASS, "")
    c = F.regexp_replace(c, _WS_CLASS, " ")
    return df.withColumn(out, F.trim(c))


def canonical_url(col: Column | str) -> Column:
    """Canonical form of an absolute http(s) URL — the key web-crawl
    pipelines dedup on (the same page arrives under dozens of
    spellings). Deterministic, pure JVM expressions (regexp_extract +
    array_sort — no UDF, no shuffle), and every rule is replayable in
    ANSI-ish SQL so the gate verifies it value-for-value:

    * scheme and host lowercase;
    * userinfo stripped (``user:pass@host`` keys as ``host`` — the
      same page credentialed or not is ONE page; the host starts after
      the LAST ``@`` in the authority, the WHATWG parser's rule, so a
      raw ``@`` inside sloppy userinfo can't truncate the host);
    * bracketed IPv6 hosts kept whole (``[::1]:8080`` keeps host
      ``[::1]`` and port ``8080`` — a colon-naive split would key on
      ``[``); unbracketed IPv6 is not legal in a URL authority and
      stays out of contract;
    * default port dropped (``:80`` for http, ``:443`` for https;
      other ports kept);
    * empty path becomes ``/``;
    * query parameters sorted bytewise (duplicates kept — dropping
      them changes semantics for ``a=1&a=2`` servers), empty params
      dropped, ``?`` omitted when nothing survives;
    * fragment removed (never sent to the server).

    Non-URL strings (no ``scheme://host``) come back unchanged — a
    canonicaliser that nulls unparseable rows silently shrinks the
    corpus.
    """
    c = F.col(col) if isinstance(col, str) else col
    # fragment OFF first ((?s): a pathological fragment may span
    # lines): every later extract runs on the fragment-free string —
    # an unanchored query extract on the raw URL would misread
    # 'page#frag?x=1' as carrying the query 'x=1'
    nofrag = F.regexp_replace(c, r"(?s)#.*", "")
    scheme = F.lower(F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.regexp_extract(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    # userinfo OFF (greedy: host begins after the LAST '@'; (?s) so a
    # pathological newline inside userinfo — which the hostport class
    # [^/?#]* admits — cannot stop the strip), then a bracket-aware
    # host extract so '[::1]:8080' splits at the right colon instead
    # of the first one
    hp = F.regexp_replace(hostport, r"(?s)^.*@", "")
    host = F.lower(F.regexp_extract(hp, r"^(\[[^\]]*\]|[^:]*)", 1))
    port = F.regexp_extract(hp, r":([0-9]+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = F.regexp_extract(
        nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    query = F.regexp_extract(nofrag, r"\?([^#]*)", 1)
    sorted_q = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), lambda p: p != F.lit(""))),
        "&",
    )
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(
            F.lit("")
        ),
    )
    return F.when(scheme == "", c).otherwise(rebuilt)


#: Unicode scripts profiled by ``script_profile``: output column ->
#: Java regex class (Spark side). The DuckDB oracle uses the RE2
#: spelling of the same property ([\p{Latin}] for [\p{IsLatin}]).
SCRIPT_CLASSES = {
    "n_latin": r"[\p{IsLatin}]",
    "n_cyrillic": r"[\p{IsCyrillic}]",
    "n_han": r"[\p{IsHan}]",
    "n_arabic": r"[\p{IsArabic}]",
    "n_greek": r"[\p{IsGreek}]",
    "n_digit": r"[0-9]",
}


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode-script distribution per document — the cheap structural
    complement to marker-based lang-ID (``langid_scores``): stopword
    markers can't see CJK/Arabic/Cyrillic text at all, but script
    counts separate those corpora in one codegen'd pass. Adds one
    BIGINT count per ``SCRIPT_CLASSES`` entry, plus ``dominant_script``
    (the script with the most characters, ties to the first in
    declaration order, ``none`` when every count is zero) and
    ``script_purity`` (dominant count / total counted, NULL when
    nothing counted).

    All ``regexp_count`` expressions — JVM-side, no UDF, no shuffle;
    DuckDB replays the same character classes via RE2's \\p{Script}
    spelling, so the gate pins both the counts and the tie rules."""
    c = F.col(text_col)
    counts = {
        name: F.coalesce(
            F.regexp_count(c, F.lit(pat)), F.lit(0)
        ).cast("long")
        for name, pat in SCRIPT_CLASSES.items()
    }
    df = df.withColumns(counts)
    total = None
    for name in SCRIPT_CLASSES:
        total = F.col(name) if total is None else total + F.col(name)
    best = None
    for name in SCRIPT_CLASSES:  # first-declared wins ties: strict >
        cond = None
        for other in SCRIPT_CLASSES:
            if other == name:
                continue
            prior = list(SCRIPT_CLASSES).index(other) < list(
                SCRIPT_CLASSES
            ).index(name)
            # beat later entries on >=, earlier entries on >
            this = (
                F.col(name) > F.col(other)
                if prior
                else F.col(name) >= F.col(other)
            )
            cond = this if cond is None else cond & this
        label = F.when(cond & (F.col(name) > 0), F.lit(name[2:]))
        best = label if best is None else F.coalesce(best, label)
    return df.withColumns(
        {
            "dominant_script": F.coalesce(best, F.lit("none")),
            "script_purity": F.when(
                total > 0,
                F.greatest(
                    *[F.col(n) for n in SCRIPT_CLASSES]
                ).cast("double")
                / total.cast("double"),
            ),
        }
    )
