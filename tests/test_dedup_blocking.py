"""Scale guards on the exact Jaccard pair tool (functions/dedup.py)."""

import ast
import os

import pytest
from pyspark.sql import Row

from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
    ngram_jaccard_pairs,
)


def _docs(spark, n=60):
    # single-language corpus with a wide length spread: the worst case
    # for lang-only blocking (one block = whole corpus)
    rows = []
    for i in range(n):
        length = 2 ** (i % 8 + 1)  # 2..256 tokens
        rows.append(
            Row(
                doc_id=i,
                lang="en",
                text=" ".join(f"w{i}t{j}" for j in range(length)),
            )
        )
    # one true near-dup pair, same length bucket
    rows.append(Row(doc_id=n, lang="en", text="a b c d e f g h"))
    rows.append(Row(doc_id=n + 1, lang="en", text="a b c d e f g x"))
    return spark.createDataFrame(rows)


def test_prefix_matches_brute_force_jaccard(spark):
    """The prefix-filtered join returns exactly the pairs a brute-force
    set-Jaccard over every same-block pair finds, with equal values."""
    docs = _docs(spark)
    got = ngram_jaccard_pairs(docs, block_cols=("lang",), max_block=None)
    rows = [(r.doc_id, r.lang, set(r.text.split(" "))) for r in docs.collect()]
    expect = sorted(
        (ia, ib, len(ta & tb) / len(ta | tb))
        for ia, la, ta in rows
        for ib, lb, tb in rows
        if la == lb and ia < ib and len(ta & tb) / len(ta | tb) >= 0.5
    )
    assert sorted(map(tuple, got.collect())) == expect
    assert (60, 61, 7 / 9) in expect  # the planted near-dup pair survives


def test_prefix_strategy_joins_on_posting_token(spark):
    """Candidates must equi-join on the prefix token, and verification
    must run on a deduped pair set."""
    docs = _docs(spark)
    out = ngram_jaccard_pairs(docs, block_cols=("lang",), max_block=None)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "__tok" in plan and "__rank" in plan
    assert "Deduplicate" in plan


def test_max_block_guard_raises_loudly(spark):
    docs = _docs(spark, n=30)
    with pytest.raises(RuntimeError, match="lsh_candidate_pairs"):
        # a token shared by every doc's prefix overflows a posting list
        ngram_jaccard_pairs(docs, block_cols=("lang",), max_block=1)


def test_cosine_topk_query_side_guard(spark):
    from pyspark.sql import Row

    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        cosine_topk,
    )

    vecs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(20)]
    )
    with pytest.raises(ValueError, match="SMALL side"):
        cosine_topk(vecs, vecs, k=2, max_queries=5)
    # under the cap it still works
    out = cosine_topk(vecs, vecs.limit(3), k=2, max_queries=5)
    assert out.count() == 6


def test_xxhash64_fast_path_same_dedup_behaviour(spark):
    """The production base_hash swaps the hash family, not the
    semantics: exact duplicates must collide in every band under both
    families, and both signatures stay inside [0, P)."""
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        MERSENNE_P,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=3, text="an entirely different document about spark sql"),
        Row(doc_id=4, text=""),  # empty: null signature, must be dropped
    ]
    df = spark.createDataFrame(rows)
    for bh in ("md5", "xxhash64"):
        sigs = minhash_signatures(df, base_hash=bh)
        pairs = {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(sigs, max_bucket=10).collect()
        }
        assert (1, 2) in pairs, bh  # exact dups always collide
        assert all(3 not in p for p in pairs), bh
        bounds = sigs.filter(F.col("mh0").isNotNull()).select(
            F.min("mh0").alias("lo"), F.max("mh0").alias("hi")
        ).collect()[0]
        assert 0 <= bounds.lo <= bounds.hi < MERSENNE_P, bh

    with pytest.raises(ValueError, match="base_hash"):
        minhash_signatures(df, base_hash="sha1").collect()


def test_simhash_pairs_pigeonhole_and_guard(spark):
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        simhash,
        simhash_candidate_pairs,
    )

    rows = [
        Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta"),
        Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta iota"),
        Row(doc_id=3, text="completely unrelated words about database engines"),
    ]
    sigs = simhash(spark.createDataFrame(rows))
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_candidate_pairs(sigs, max_bucket=10).collect()
    }
    # the near-dup pair must be found with a small distance; exhaustive
    # check: EVERY pair within max_hamming appears (pigeonhole recall)
    sh = {r.doc_id: r.simhash for r in sigs.collect()}
    for a in sh:
        for b in sh:
            if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3:
                assert (a, b) in got
    for (a, b), d in got.items():
        assert d == bin(sh[a] ^ sh[b]).count("1")

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_candidate_pairs(sigs, bands=4, max_hamming=4)


def test_dedup_components_ignores_foreign_pair_endpoints(spark):
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        dedup_components,
    )

    # pair references id 99 which is NOT in the corpus frame: it must
    # not become anyone's canonical id
    pairs = spark.createDataFrame(
        [Row(id_a=99, id_b=7), Row(id_a=7, id_b=8)]
    )
    ids = spark.createDataFrame([Row(doc_id=7), Row(doc_id=8)])
    got = {
        r.doc_id: r.canonical_id
        for r in dedup_components(pairs, ids).collect()
    }
    assert got == {7: 7, 8: 7}


def test_simhash_null_for_empty_docs_and_pairs_drop_them(spark):
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        simhash,
        simhash_candidate_pairs,
    )

    rows = [
        Row(doc_id=1, text=""),
        Row(doc_id=2, text=""),
        Row(doc_id=3, text="real words here"),
    ]
    sigs = simhash(spark.createDataFrame(rows))
    by_id = {r.doc_id: r.simhash for r in sigs.collect()}
    assert by_id[1] is None and by_id[2] is None
    assert by_id[3] is not None
    # the two empty docs must NOT pair as a hamming-0 clique
    assert simhash_candidate_pairs(sigs, max_bucket=10).count() == 0


# ---------------------------------------------------------------------------
# paragraph-level keep-first dedup
# ---------------------------------------------------------------------------

def test_dedup_paragraphs_keep_first_and_totality(spark):
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        dedup_paragraphs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha\n\nshared"),
            (2, "shared\n\nbeta"),
            (3, "shared\n\nSHARED  "),  # normalised dupe of its own first para
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(docs).collect()}
    assert out[1].text == "alpha\n\nshared" and out[1].n_removed == 0
    # doc 2 loses 'shared' (doc 1, pos 1 came first) but keeps beta
    assert out[2].text == "beta" and out[2].n_kept == 1 and out[2].n_removed == 1
    # doc 3 loses both copies; totality: row survives with empty text
    assert out[3].text == "" and out[3].n_kept == 0 and out[3].n_removed == 2


def test_dedup_paragraphs_idempotent(spark):
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        dedup_paragraphs,
    )

    docs = spark.createDataFrame(
        [(i, f"common\n\nunique {i}") for i in range(4)],
        "doc_id long, text string",
    )
    once = dedup_paragraphs(docs).select("doc_id", "text")
    twice = dedup_paragraphs(once).select("doc_id", "text")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


# ---------------------------------------------------------------------------
# centroid assignment + Lloyd k-means
# ---------------------------------------------------------------------------

def test_assign_centroids_zero_shuffle_and_argmax(spark):
    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        assign_centroids,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),  # anti-aligned with centroid 0
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid array<double>",
    )
    out = assign_centroids(corpus, cents)
    got = {r.vec_id: r.centroid_id for r in out.collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map-side expression

    # ties resolve to the smallest centroid id
    tie = spark.createDataFrame(
        [(9, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    assert assign_centroids(tie, cents).collect()[0].centroid_id == 0


def test_assign_centroids_guards(spark):
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        assign_centroids,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    empty = spark.createDataFrame([], "centroid_id long, centroid array<double>")
    with _pytest.raises(ValueError, match="empty centroid set"):
        assign_centroids(corpus, empty)
    big = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(3)],
        "centroid_id long, centroid array<double>",
    )
    with _pytest.raises(ValueError, match="max_centroids"):
        assign_centroids(corpus, big, max_centroids=2)


def test_kmeans_lloyd_separates_clusters(spark):
    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        kmeans_lloyd,
    )

    # two tight angular clusters around (1,0) and (0,1)
    rows = [(i, [1.0, 0.01 * i]) for i in range(10)] + [
        (100 + i, [0.01 * i, 1.0]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = kmeans_lloyd(df, k=2, n_iter=3)
    clusters = {}
    for r in assigned.collect():
        clusters.setdefault(r.centroid_id, set()).add(r.vec_id)
    groups = sorted(frozenset(v) for v in clusters.values())
    assert groups == sorted(
        [frozenset(range(10)), frozenset(100 + i for i in range(10))]
    )
    assert cents.count() == 2
    # deterministic: same call, same assignment
    assigned2, _ = kmeans_lloyd(df, k=2, n_iter=3)
    assert sorted((r.vec_id, r.centroid_id) for r in assigned.collect()) == sorted(
        (r.vec_id, r.centroid_id) for r in assigned2.collect()
    )


def test_negative_pairs_no_self_exact_k_deterministic(spark):
    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        negative_pairs,
    )

    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(20)], "vec_id long, payload string"
    )
    out = negative_pairs(df, k=3, index_col="vec_id").collect()
    assert len(out) == 60
    by_id = {}
    for r in out:
        assert r.neg_id != r.vec_id  # never self
        by_id.setdefault(r.vec_id, set()).add(r.neg_rank)
    assert all(ranks == {0, 1, 2} for ranks in by_id.values())

    again = negative_pairs(df, k=3, index_col="vec_id").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    salted = negative_pairs(df, k=3, index_col="vec_id", salt="v2").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, salted))

    # rank-window fallback path (no dense index supplied) agrees on shape
    sparse = spark.createDataFrame(
        [(i * 7 + 3,) for i in range(10)], "vec_id long"
    )
    fb = negative_pairs(sparse, k=2)
    assert fb.count() == 20
    ids = {r.vec_id for r in sparse.collect()}
    assert all(r.neg_id in ids and r.neg_id != r.vec_id for r in fb.collect())


def test_editdist_pairs_blocking_exact(spark):
    """Blocked Levenshtein pairs == brute-force pairs under the
    threshold, including pairs whose lengths straddle a bucket edge;
    the max_block guard fails loudly."""
    import pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        editdist_pairs,
    )

    rows = [
        (1, "en", "the quick brown fox jumps"),
        (2, "en", "the quick brown fox jumped"),   # dist 2
        (3, "en", "the quick brown fox jumps!!"),  # dist 2 to 1
        (4, "en", "a completely different doc entirely"),
        (5, "de", "the quick brown fox jumps"),    # other block
        (6, "en", "x" * 40),
        (7, "en", "x" * 43),                       # dist 3, bucket edge
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in editdist_pairs(df, max_distance=3).collect()
    }
    import itertools
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]
    want = {}
    for (ia, la, ta), (ib, lb, tb) in itertools.combinations(rows, 2):
        if la == lb and ia < ib and lev(ta, tb) <= 3:
            want[(ia, ib)] = lev(ta, tb)
    assert got == want

    with pytest.raises(RuntimeError, match="max_block"):
        editdist_pairs(df, max_distance=3, max_block=1)


def test_dedup_components_nonconvergence_releases_checkpoints(spark):
    """The error path (max_iter exhausted) must not leave contracted-
    edge / label checkpoint blocks pinned — same try/release discipline
    as pagerank_fixed_point (r8, ADVICE)."""
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        dedup_components,
    )
    from coronavirus_dashboard_pipeline_etl_spark.store import _persistent_rdd_ids

    sc = spark.sparkContext
    # long chain (diameter 40) cannot converge in 1 iteration even with
    # the squared pointer-jump
    n = 40
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(n)]
    )
    ids = spark.createDataFrame([Row(doc_id=i) for i in range(n + 1)])
    before = _persistent_rdd_ids(sc)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(pairs, ids, max_iter=1)
    if before is not None:  # backend exposes the block registry
        leaked = (_persistent_rdd_ids(sc) or set()) - before
        assert leaked == set(), f"error path left RDDs pinned: {leaked}"


def test_minhash_probe_pairs_batch_vs_corpus(spark):
    """Probe-shaped incremental near-dup: batch docs match corpus docs
    only (never batch-batch or corpus-corpus) and verified Jaccard is
    exact."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        minhash_probe_pairs,
    )

    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="an entirely different document about spark plans"),
            Row(doc_id=3, text="the quick brown fox leaps over the lazy dog"),
        ]
    )
    batch = spark.createDataFrame(
        [
            Row(doc_id=10, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=11, text="nothing like anything in the corpus whatsoever"),
            Row(doc_id=12, text=""),  # empty -> null signature, never probes
        ]
    )
    got = minhash_probe_pairs(batch, corpus, k=16, bands=4, threshold=0.5)
    rows = {(r.new_id, r.old_id): r.jaccard for r in got.collect()}
    assert (10, 1) in rows and rows[(10, 1)] == 1.0   # exact duplicate
    assert all(nid in (10,) for nid, _ in rows)       # 11/12 match nothing
    assert all(oid in (1, 3) for _, oid in rows)      # doc 2 never matches


def test_pq_train_encode_adc_vs_pure_python(spark):
    """Product quantization: exact-mode codebooks, codes, and ADC
    distances all match a pure-Python PQ on the same data; encode is
    zero-shuffle; guards are loud; k=N codebooks quantize losslessly."""
    import numpy as np
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.RandomState(3)
    n, dim, m_sub, k = 40, 8, 2, 4
    d = dim // m_sub
    vecs = rng.randn(n, dim).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )

    # pure-Python PQ: min-id seeding, one L2 Lloyd round (double math,
    # same fold order guarantees since numpy ops here are per-element)
    xs = vecs.astype(np.float64)
    cb = [
        [list(xs[j][s * d : (s + 1) * d]) for j in range(k)]
        for s in range(m_sub)
    ]

    def assign(x_sub, sub_cb):
        dists = [sum((a - b) * (a - b) for a, b in zip(x_sub, cw)) for cw in sub_cb]
        return dists.index(min(dists))

    nxt = [[list(cw) for cw in sub] for sub in cb]
    for s in range(m_sub):
        members: dict[int, list[int]] = {}
        for i in range(n):
            c = assign(xs[i][s * d : (s + 1) * d], cb[s])
            members.setdefault(c, []).append(i)
        for c, ids in members.items():
            for t in range(d):
                acc = 0.0
                for i in sorted(ids):  # ordered fold, as exact mode does
                    acc += xs[i][s * d + t]
                nxt[s][c][t] = acc / len(ids)
    cb = nxt

    got_cb = {
        (r.sub, r.code): [float(x) for x in r.codeword]
        for r in pq_train(df, m_sub=m_sub, k=k, n_iter=1, exact=True).collect()
    }
    for s in range(m_sub):
        for j in range(k):
            assert got_cb[(s, j)] == cb[s][j], (s, j)

    cb_df = pq_train(df, m_sub=m_sub, k=k, n_iter=1, exact=True)
    enc = pq_encode(df, cb_df)
    # encode is a pure map-side expression: no exchange anywhere
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got_codes = {r.vec_id: list(r.pq_codes) for r in enc.collect()}
    want_codes = {
        i: [assign(xs[i][s * d : (s + 1) * d], cb[s]) for s in range(m_sub)]
        for i in range(n)
    }
    assert got_codes == want_codes

    # ADC: distances equal the LUT-sum reference; ranking respects ties
    queries = df.filter("vec_id < 3")
    got = pq_adc_topk(queries, enc, cb_df, topk=4).collect()
    for r in got:
        q = xs[r.query_id]
        want = sum(
            sum(
                (a - b) * (a - b)
                for a, b in zip(
                    q[s * d : (s + 1) * d], cb[s][want_codes[r.vec_id][s]]
                )
            )
            for s in range(m_sub)
        )
        assert r.adc_dist == _pytest.approx(want, rel=1e-12)
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert len(rows) == 4
        assert all(
            (a.adc_dist, a.vec_id) <= (b.adc_dist, b.vec_id)
            for a, b in zip(rows, rows[1:])
        )

    # guards
    with _pytest.raises(ValueError, match="divisible"):
        pq_train(df, m_sub=3, k=2)
    with _pytest.raises(ValueError, match="max_model"):
        pq_train(df, m_sub=2, k=4, max_model=8)
    with _pytest.raises(ValueError, match="max_queries"):
        pq_adc_topk(df, enc, cb_df, topk=1, max_queries=5)
    with _pytest.raises(ValueError, match="need >= k"):
        pq_train(df.filter("vec_id < 2"), m_sub=2, k=4)


def test_review_fix_guards(spark):
    """Round-8 review fixes: probe k/bands validation, empty-rules
    audit, corrupt IMG: resize header, negative Y4M geometry."""
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.curation import (
        validate_constraints,
    )
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        minhash_probe_pairs,
    )
    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _parse_y4m,
        resize_images,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="positive multiple"):
        minhash_probe_pairs(df, df, k=16, bands=20)
    with _pytest.raises(ValueError, match="positive multiple"):
        minhash_probe_pairs(df, df, k=16, bands=3)
    with _pytest.raises(ValueError, match="non-empty"):
        validate_constraints(df, [])
    with _pytest.raises(ValueError, match="geometry"):
        _parse_y4m(b"YUV4MPEG2 W-2 H3 Cmono\nFRAME\n" + bytes(60))
    media = spark.createDataFrame(
        [(1, "image", bytearray(b"IMG:AxB:junk"))],
        "media_id long, kind string, content binary",
    )
    with _pytest.raises(Exception, match="bad IMG"):
        resize_images(media, 2, 2).collect()

    # default lifecycle: ROLLING release — each default-mode probe
    # releases the previous probe's checkpoint blocks, so a long-lived
    # one-probe-per-batch driver holds at most one probe's blocks and
    # no release ever depends on garbage-collection timing
    from coronavirus_dashboard_pipeline_etl_spark.store import _persistent_rdd_ids

    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    # method CHAINING off the result must be safe (the GC-finalizer
    # design this replaced crashed here: the intermediate was
    # collected and its truncated-lineage blocks released before the
    # derived frame ran)
    import pyspark.sql.functions as _F

    chained = minhash_probe_pairs(df, df, k=16, bands=4).filter(
        _F.col("jaccard") >= 0.0
    )
    assert chained.count() >= 0
    during = _persistent_rdd_ids(sc)
    assert during - before, "probe should pin checkpoint blocks"
    out3 = minhash_probe_pairs(df, df, k=16, bands=4)
    out3.count()
    after2 = _persistent_rdd_ids(sc)
    # the first probe's blocks are gone; only the second's remain
    assert (during - before) & after2 == set(), "previous probe leaked"
    assert after2 - before, "current probe should hold its own blocks"


def test_winnow_fingerprints_selection_and_pairs(spark):
    """Winnowing (dedup.winnow_fingerprints, SIGMOD 2003 MOSS scheme):
    the guarantee — two documents sharing a token run of length
    >= w + k - 1 share at least one SELECTED fingerprint; short docs
    select nothing; selection is deterministic; the max_pos encoding
    guard raises loudly; pair counts are over distinct fp values."""
    import random

    import pyspark.sql.functions as F
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    rng = random.Random(5)
    words = [f"w{i}" for i in range(50)]
    shared = " ".join(rng.choices(words, k=12))  # 12 >= w+k-1 = 8
    da = (
        " ".join(rng.choices(words, k=30))
        + " " + shared + " "
        + " ".join(rng.choices(words, k=20))
    )
    db = " ".join(rng.choices(words, k=15)) + " " + shared
    dc = " ".join(rng.choices(words, k=40))
    df = spark.createDataFrame(
        [(1, da), (2, db), (3, dc), (4, "a b c")],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=5, w=4)
    rows = fps.collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    assert 4 not in by_doc  # 3 tokens < k -> no grams, no selection
    # guarantee: the planted 12-token run forces a shared fingerprint
    fp1 = {fp for _, fp in by_doc[1]}
    fp2 = {fp for _, fp in by_doc[2]}
    assert fp1 & fp2
    # density: winnowing keeps roughly 2/(w+1) of gram hashes
    n_grams_1 = 63 - 5 + 1
    assert len(by_doc[1]) < n_grams_1 / 2
    # positions decode into the gram index range
    assert all(0 <= p < n_grams_1 for p, _ in by_doc[1])
    # deterministic re-run
    again = winnow_fingerprints(df, k=5, w=4)
    assert fps.exceptAll(again).count() == 0
    assert again.exceptAll(fps).count() == 0
    # candidate pairs rank by DISTINCT shared fp values
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_candidate_pairs(fps).collect()
    }
    assert pairs[(1, 2)] == len(fp1 & fp2)
    # encoding guard: too many grams for the position field -> loud
    with _pytest.raises(Exception, match="max_pos"):
        winnow_fingerprints(df, k=5, w=4, max_pos=8).collect()
    with _pytest.raises(ValueError, match="must be >= 1"):
        winnow_fingerprints(df, k=0)
    # the position field is FIXED at 20 bits: a larger cap cannot be
    # honoured and must be rejected, not silently wrap
    with _pytest.raises(ValueError, match="20-bit position encoding"):
        winnow_fingerprints(df, max_pos=1 << 21)


def test_winnow_assert_unique_ids(spark):
    """The unique-id precondition (round-11 advice): duplicate id_col
    rows silently merge their selections downstream, so the opt-in
    guard must raise loudly on dup ids and be a no-op on clean
    input."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        winnow_fingerprints,
    )

    clean = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "k l m n o p q r s t")],
        "doc_id long, text string",
    )
    base = {
        (r.doc_id, r.pos, r.fp)
        for r in winnow_fingerprints(clean, k=5, w=4).collect()
    }
    guarded = {
        (r.doc_id, r.pos, r.fp)
        for r in winnow_fingerprints(
            clean, k=5, w=4, assert_unique_ids=True
        ).collect()
    }
    assert guarded == base and base

    dup = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (1, "k l m n o p q r s t")],
        "doc_id long, text string",
    )
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="unique-id"
    ):
        winnow_fingerprints(
            dup, k=5, w=4, assert_unique_ids=True
        ).collect()


def test_shared_spans_hand_values(spark):
    """Maximal-run semantics on constructed docs: exact start/length,
    separate diagonals for a repeated substring, runs below min_len
    dropped, and the loud hot-gram guard."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        shared_spans,
    )

    run = " ".join(f"s{i}" for i in range(6))  # 6 shared tokens
    docs = spark.createDataFrame(
        [
            # doc 1: run at pos 2; doc 2: same run at pos 0 AND pos 8
            (1, "a b " + run + " c d"),
            (2, run + " x y " + run),
            (3, "unrelated words only here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    out = sorted(
        (r.id_a, r.id_b, r.start_a, r.start_b, r.len_tokens)
        for r in shared_spans(
            docs, k=3, min_len=4, max_gram_docs=50
        ).collect()
    )
    # two maximal runs (one per diagonal), each 6 tokens long
    assert out == [(1, 2, 2, 0, 6), (1, 2, 2, 8, 6)]
    # doc2's self-repeat is not a pair (id_a < id_b), doc3 never appears

    # min_len >= k validation and the hot-gram guard
    with pytest.raises(ValueError, match="min_len"):
        shared_spans(docs, k=8, min_len=4)
    hot = spark.createDataFrame(
        [(i, "same gram everywhere always here") for i in range(5)],
        "doc_id long, text string",
    )
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="more than"
    ):
        shared_spans(hot, k=3, min_len=3, max_gram_docs=3).collect()


def test_cut_hot_spans_semantics(spark):
    """Boilerplate cut: tokens covered by hot-gram occurrences drop,
    straddling grams survive, docs reduced to nothing carry '', and
    the composition with shared_spans converges where the raw call
    aborts (the pipe20 contract)."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        cut_hot_spans,
        shared_spans,
    )

    hdr = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11"  # 12 tokens, 5 8-grams
    shared_tail = " ".join(f"s{j}" for j in range(20))
    rows = []
    for i in range(6):
        body = f"b{i} " + " ".join(f"w{i}x{j}" for j in range(10))
        if i in (0, 1):
            body += " " + shared_tail
        rows.append((i, hdr + " " + body))
    rows.append((6, hdr))          # pure boilerplate -> cut to nothing
    rows.append((7, ""))           # empty doc survives as ''
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r.doc_id: r.text for r in cut_hot_spans(df, k=8, max_docs=3).collect()}
    assert len(got) == 8
    # header removed everywhere, bodies intact
    for i in range(6):
        assert got[i].startswith(f"b{i} ") and "t0" not in got[i]
    assert got[6] == "" and got[7] == ""

    # raw span pass aborts on this corpus; cut -> span converges and
    # equals the span pass over the header-free bodies
    with _pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="more than"
    ):
        shared_spans(df, k=8, min_len=16, max_gram_docs=3).collect()
    cleaned = cut_hot_spans(df, k=8, max_docs=3)
    a = {
        tuple(r)
        for r in shared_spans(
            cleaned, k=8, min_len=16, max_gram_docs=3
        ).collect()
    }
    plain = spark.createDataFrame(
        [(i, t.removeprefix(hdr).strip()) for i, t in rows],
        "doc_id long, text string",
    )
    b = {
        tuple(r)
        for r in shared_spans(
            plain, k=8, min_len=16, max_gram_docs=3
        ).collect()
    }
    assert a == b and a  # the 20-token shared tail between docs 0 and 1

    with _pytest.raises(ValueError, match="k must be >= 1"):
        cut_hot_spans(df, k=0)
    with _pytest.raises(ValueError, match="max_docs"):
        cut_hot_spans(df, max_docs=0)

    # checkpoint lifecycle (round-12 advice): calls use the
    # rolling-release protocol — the second call frees the first
    # call's gram-index blocks; the stats_out frame reads the call's
    # rolling pin
    from coronavirus_dashboard_pipeline_etl_spark.store import _persistent_rdd_ids

    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    cut_hot_spans(df, k=8, max_docs=3).count()
    first = _persistent_rdd_ids(sc) - before
    assert first, "cut should pin its gram-index checkpoint"
    cut_hot_spans(df, k=8, max_docs=3).count()
    after2 = _persistent_rdd_ids(sc)
    assert first & after2 == set(), "previous cut's blocks leaked"
    assert after2 - before, "current cut should hold its own blocks"
    stats: list = []
    out = cut_hot_spans(df, k=8, max_docs=3, stats_out=stats)
    out.count()
    assert len(stats) == 1 and stats[0].count() > 0


def test_minhash_index_upsert_replaces(spark):
    """Band-index maintenance: a re-crawled doc's stale rows are
    REPLACED (not appended), an empty re-crawl deletes the doc from
    the index, and probe-after-upsert equals probe-after-rebuild."""
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        minhash_band_index,
        minhash_index_upsert,
        minhash_probe_pairs,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus_v1 = docs(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six"),
            (3, "red green blue cyan magenta yellow"),
        ]
    )
    idx = minhash_band_index(corpus_v1, k=8, bands=2)
    assert {tuple(r) for r in idx.select("doc_id", "band").collect()} == {
        (1, 0), (1, 1), (2, 0), (2, 1), (3, 0), (3, 1)
    }

    # wave: doc 2 re-crawled with new text, doc 3 came back EMPTY,
    # doc 4 is new
    wave = docs(
        [
            (2, "one two three four five six seven"),
            (3, ""),
            (4, "lorem ipsum dolor sit amet consectetur"),
        ]
    )
    updated = minhash_index_upsert(idx, wave, k=8, bands=2)
    by_doc = {
        r.doc_id: r.n
        for r in updated.groupBy("doc_id").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert by_doc == {1: 2, 2: 2, 4: 2}  # 3 deleted, 2 replaced not doubled

    # probe-after-upsert == probe-after-rebuild
    corpus_v2 = docs(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (4, "lorem ipsum dolor sit amet consectetur"),
        ]
    )
    rebuilt = minhash_band_index(corpus_v2, k=8, bands=2)
    assert {tuple(r) for r in updated.collect()} == {
        tuple(r) for r in rebuilt.collect()
    }
    batch = docs([(10, "one two three four five six seven")])
    via_updated = {
        (r.new_id, r.old_id)
        for r in minhash_probe_pairs(
            batch, corpus_v2, k=8, bands=2, threshold=0.5,
            corpus_bands=updated,
        ).collect()
    }
    via_rebuild = {
        (r.new_id, r.old_id)
        for r in minhash_probe_pairs(
            batch, corpus_v2, k=8, bands=2, threshold=0.5,
        ).collect()
    }
    assert via_updated == via_rebuild == {(10, 2)}

    with _pytest.raises(ValueError, match="must carry"):
        minhash_index_upsert(idx.drop("sig"), wave, k=8, bands=2)
    with _pytest.raises(ValueError, match="multiple of bands"):
        minhash_band_index(corpus_v1, k=8, bands=3)

    # round-12 advice: a structurally wrong corpus_bands is rejected
    # up front, and the detectable k/bands mismatch (index band ids
    # >= the probe's bands) raises instead of silently returning no
    # candidates
    with _pytest.raises(ValueError, match="corpus_bands must carry"):
        minhash_probe_pairs(
            batch, corpus_v2, k=8, bands=2, corpus_bands=updated.drop("sig")
        )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    idx_b4 = minhash_band_index(corpus_v2, k=8, bands=4)
    with _pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="different bands"
    ):
        minhash_probe_pairs(
            batch, corpus_v2, k=8, bands=2, corpus_bands=idx_b4
        ).collect()


def test_partitioned_store_pruning(spark, tmp_path):
    """Partitioned store layouts (round-12 verdict item 4): the band
    index and fingerprint table write hash-bucket partition
    directories; pruned probe reads carry PartitionFilters and return
    EXACTLY the full-scan results (pruning is lossless for the equi-/
    anti-join keys); legacy unpartitioned stores fall back to the full
    scan; the reserved bucket column is rejected."""
    import re

    import pytest as _pytest
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_pruned,
        band_index_read,
        band_index_write,
        dedup_incremental,
        fp_store_pruned,
        fp_store_write,
        minhash_band_index,
        minhash_probe_pairs,
    )
    from coronavirus_dashboard_pipeline_etl_spark.store import STORE_BUCKET

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = docs(
        [(i, f"w{i}a w{i}b w{i}c common tail tokens here {i % 7}") for i in range(40)]
        + [(100, "probe target one two three four five six")]
    )
    batch = docs([(200, "probe target one two three four five six")])

    # --- band index ---
    idx_path = str(tmp_path / "bidx")
    band_index_write(minhash_band_index(corpus, k=8, bands=2), idx_path, buckets=16)
    assert any(
        p.name.startswith(f"{STORE_BUCKET}=")
        for p in (tmp_path / "bidx").iterdir()
    )
    pruned = band_index_pruned(
        spark, idx_path, batch, k=8, bands=2, buckets=16
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[bucket#\d+ IN", plan)
    # pruning really drops partitions for a small batch
    assert pruned.count() < band_index_read(spark, idx_path).count()
    via_pruned = {
        tuple(r)
        for r in minhash_probe_pairs(
            batch, corpus, k=8, bands=2, threshold=0.5, corpus_bands=pruned
        ).collect()
    }
    via_full = {
        tuple(r)
        for r in minhash_probe_pairs(
            batch,
            corpus,
            k=8,
            bands=2,
            threshold=0.5,
            corpus_bands=band_index_read(spark, idx_path),
        ).collect()
    }
    assert via_pruned == via_full and (200, 100, 1.0) in via_pruned

    # legacy unpartitioned store: falls back to the full scan
    legacy = str(tmp_path / "legacy_idx")
    minhash_band_index(corpus, k=8, bands=2).write.parquet(legacy)
    fb = band_index_pruned(spark, legacy, batch, k=8, bands=2, buckets=16)
    assert fb.count() == band_index_read(spark, legacy).count()

    with _pytest.raises(ValueError, match="reserved"):
        band_index_write(
            minhash_band_index(corpus, k=8, bands=2).withColumn(
                STORE_BUCKET, F.lit(0)
            ),
            str(tmp_path / "nope"),
        )

    # --- fingerprint store ---
    fp_path = str(tmp_path / "fps")
    seen = corpus.filter("doc_id % 2 = 0").selectExpr(
        "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' ')) AS fp"
    )
    fp_store_write(seen.distinct(), fp_path, buckets=16)
    wave = corpus.filter("doc_id % 2 = 1").unionByName(
        docs([(300, corpus.filter("doc_id = 0").first().text)])
    )
    pruned_seen = fp_store_pruned(spark, fp_path, wave, buckets=16)
    fplan = pruned_seen._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[bucket#\d+ IN", fplan)
    got_pruned = {
        r.doc_id for r in dedup_incremental(wave, pruned_seen).collect()
    }
    got_full = {
        r.doc_id
        for r in dedup_incremental(wave, spark.read.parquet(fp_path).drop(
            STORE_BUCKET
        )).collect()
    }
    assert got_pruned == got_full and 300 not in got_pruned
    # append advances state inside bucket directories
    fp_store_write(
        spark.createDataFrame([("00000000000000000000000000000000",)], "fp string"),
        fp_path,
        buckets=16,
    )
    assert spark.read.parquet(fp_path).count() == seen.distinct().count() + 1
    with _pytest.raises(ValueError, match="reserved"):
        fp_store_write(
            seen.withColumn(STORE_BUCKET, F.lit(1)), str(tmp_path / "nope2")
        )


def test_dedup_incremental_bloom_equals_plain(spark):
    """The Bloom-prefiltered incremental dedup must return EXACTLY the
    plain operator's rows (no false negatives end-to-end), handle
    NULL-fp rows identically, and raise loudly when the maybe set
    exceeds the broadcast guard."""
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        dedup_incremental,
        dedup_incremental_bloom,
    )
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    seen = docs.filter("doc_id % 3 = 0").selectExpr(
        "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' ')) AS fp"
    )
    batch = docs.filter("doc_id % 3 != 0")
    plain = {
        tuple(r)
        for r in dedup_incremental(batch, seen)
        .select("doc_id", "fp")
        .collect()
    }
    bloom = {
        tuple(r)
        for r in dedup_incremental_bloom(batch, seen, m_bits=1 << 14)
        .select("doc_id", "fp")
        .collect()
    }
    assert bloom == plain and plain

    # a tiny filter (m_bits=2) makes every fp a "maybe": the guard must
    # trip when that exceeds max_maybe_fps
    with _pytest.raises(RuntimeError, match="maybe set"):
        dedup_incremental_bloom(
            batch, seen, m_bits=2, k_hashes=1, max_maybe_fps=3
        )

    # the production path: a PERSISTED sketch (bits=) skips the
    # corpus-sized sketch build and must give identical output; a
    # structurally wrong frame is rejected up front; a sketch built
    # with a LARGER bit table (the detectable parameter mismatch —
    # silent false negatives otherwise) raises loudly
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from coronavirus_dashboard_pipeline_etl_spark.functions.sketches import (
        bloom_bits,
    )
    from pyspark.sql import functions as F

    pre = bloom_bits(seen, F.col("fp"), 1 << 14)
    via_bits = {
        tuple(r)
        for r in dedup_incremental_bloom(
            batch, seen, m_bits=1 << 14, bits=pre
        )
        .select("doc_id", "fp")
        .collect()
    }
    assert via_bits == plain
    with _pytest.raises(ValueError, match="set-bit table"):
        dedup_incremental_bloom(
            batch, seen, m_bits=1 << 14, bits=seen
        )
    big = bloom_bits(seen, F.col("fp"), 1 << 20)
    with _pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="larger bit table"
    ):
        dedup_incremental_bloom(
            batch, seen, m_bits=1 << 10, bits=big
        ).collect()


def test_band_index_upsert_write_is_batch_sized(spark, tmp_path):
    """The tombstone upsert (round-13 verdict item 1): advancing the
    band index by one wave must ONLY append wave-sized files — every
    pre-existing data file survives byte-identical — while readers
    still see exact replace-by-document semantics (read == rebuilt,
    pruned probe == full probe, empty re-crawl deletes)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_pruned,
        band_index_read,
        band_index_upsert_write,
        minhash_band_index,
        minhash_probe_pairs,
    )
    from coronavirus_dashboard_pipeline_etl_spark.store import meta_read

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = docs(
        [(i, f"w{i}a w{i}b w{i}c common tail tokens here {i % 7}") for i in range(40)]
        + [(100, "probe target one two three four five six")]
    )
    path = str(tmp_path / "bidx")
    # bootstrap (absent store) writes meta with the full identity
    band_index_upsert_write(corpus, path, k=8, bands=2, buckets=16)
    meta = meta_read(path)
    # the store schema is recorded alongside the identity (r15); the
    # data bytes a reseed is sized from are on disk, not in the sidecar
    assert sum(os.path.getsize(p) for p in glob.glob(path + "/bucket=*/*.parquet")) > 0
    assert [f["name"] for f in meta.pop("schema")["fields"]] == [
        "doc_id", "band", "sig", "__epoch", "bucket"
    ]
    assert meta == {
        "bands": 2, "base_hash": "md5", "buckets": 16, "epoch": 1,
        "id_col": "doc_id", "k": 8, "kind": "band_index",
    }

    def data_files():
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(path + "/bucket=*/*.parquet")
        }

    before = data_files()
    # wave: re-crawl 100 with new text, add 200, delete 7 (empty text)
    wave = docs(
        [
            (100, "probe target one two three four five six seven"),
            (200, "brand new document tokens alpha beta gamma"),
            (7, ""),
        ]
    )
    band_index_upsert_write(wave, path, k=8, bands=2, buckets=16)
    after = data_files()
    # batch-sized write: every pre-existing file untouched, additions
    # bounded by the wave's touched buckets (2 docs x 2 bands)
    assert set(before) <= set(after)
    assert all(after[p] == mt for p, mt in before.items())
    assert 1 <= len(after) - len(before) <= 4
    assert os.path.isdir(path + "/_tombstones")
    # logical view equals the rebuilt-from-scratch index
    final_corpus = corpus.filter("doc_id NOT IN (100, 7)").unionByName(
        wave.filter("doc_id = 100 OR doc_id = 200")
    )
    got = {tuple(r) for r in band_index_read(spark, path).collect()}
    want = {
        tuple(r)
        for r in minhash_band_index(final_corpus, k=8, bands=2).collect()
    }
    assert got == want
    assert band_index_read(spark, path).filter("doc_id IN (7, 200)").groupBy(
        "doc_id"
    ).count().count() == 1  # 200 present, 7 deleted
    # pruned probe over the upserted store == full probe
    batch = docs([(300, "probe target one two three four five six seven")])
    kw = dict(k=8, bands=2, threshold=0.5)
    via_pruned = {
        tuple(r)
        for r in minhash_probe_pairs(
            batch, final_corpus,
            corpus_bands=band_index_pruned(spark, path, batch, k=8, bands=2),
            **kw,
        ).collect()
    }
    via_full = {
        tuple(r)
        for r in minhash_probe_pairs(
            batch, final_corpus,
            corpus_bands=band_index_read(spark, path), **kw,
        ).collect()
    }
    assert via_pruned == via_full and any(p[1] == 100 for p in via_pruned)
    # upserting a legacy (pre-sidecar) store raises loudly
    legacy = str(tmp_path / "legacy")
    minhash_band_index(corpus, k=8, bands=2).write.parquet(legacy)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="predates"):
        band_index_upsert_write(wave, legacy, k=8, bands=2, buckets=16)


def test_compact_dedup_store_folds_and_merges(spark, tmp_path):
    """compact_dedup_store (round-13 verdict item 2): the tombstone
    FOLD rewrites the band store to its logical view (tombstones dir
    cleared, meta/epoch preserved, later upserts keep working); the
    bucket-scoped small-file MERGE folds only fat buckets, leaving
    other buckets' files byte-identical; under-threshold stores no-op."""
    import glob
    import os

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_read,
        band_index_upsert_write,
        compact_dedup_store,
        fp_store_write,
        minhash_band_index,
    )
    from coronavirus_dashboard_pipeline_etl_spark.store import meta_read

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = docs(
        [(i, f"w{i}a w{i}b w{i}c shared suffix tokens {i % 5}") for i in range(30)]
    )
    path = str(tmp_path / "bidx")
    band_index_upsert_write(corpus, path, k=8, bands=2, buckets=16)
    band_index_upsert_write(
        docs([(3, "entirely new text for document three")]),
        path, k=8, bands=2, buckets=16,
    )
    logical = {tuple(r) for r in band_index_read(spark, path).collect()}
    rep = compact_dedup_store(spark, path)
    assert rep["tombstones_folded"] == 1 and rep["buckets_rewritten"] > 0
    assert not os.path.isdir(path + "/_tombstones")
    assert meta_read(path)["epoch"] == 2  # bootstrap 1, upsert 2; the fold keeps it
    assert {tuple(r) for r in band_index_read(spark, path).collect()} == logical
    # the store stays upsertable after the fold
    band_index_upsert_write(
        docs([(4, "another refresh of document four")]),
        path, k=8, bands=2, buckets=16,
    )
    assert meta_read(path)["epoch"] == 3
    want = {
        tuple(r)
        for r in minhash_band_index(
            corpus.filter("doc_id NOT IN (3, 4)").unionByName(
                docs(
                    [
                        (3, "entirely new text for document three"),
                        (4, "another refresh of document four"),
                    ]
                )
            ),
            k=8, bands=2,
        ).collect()
    }
    assert {tuple(r) for r in band_index_read(spark, path).collect()} == want

    # fp store: 1 seed + 4 appends -> one hot bucket holds 5 files
    fpp = str(tmp_path / "fps")
    fp_store_write(
        corpus.selectExpr("md5(text) AS fp"), fpp, buckets=8, mode="overwrite"
    )
    for _ in range(4):
        fp_store_write(
            docs([(1, "xx")]).selectExpr("md5(text) AS fp"), fpp, buckets=8
        )
    rows_before = spark.read.parquet(fpp).count()
    files = lambda: {  # noqa: E731
        p: os.path.getmtime(p) for p in glob.glob(fpp + "/bucket=*/*.parquet")
    }
    before = files()
    rep2 = compact_dedup_store(spark, fpp, max_files_per_bucket=2)
    after = files()
    assert rep2["buckets_rewritten"] == 1
    assert rep2["files_after"] < rep2["files_before"]
    assert spark.read.parquet(fpp).count() == rows_before
    # untouched buckets keep their exact files
    hot = {p for p in before if p not in after}
    cold = set(before) - hot
    assert cold <= set(after)
    assert all(after[p] == before[p] for p in cold)
    # second pass is a no-op
    rep3 = compact_dedup_store(spark, fpp, max_files_per_bucket=2)
    assert rep3["buckets_rewritten"] == 0
    assert files() == after


def test_compact_dedup_store_incremental_fold(spark, tmp_path, monkeypatch):
    """Incremental BUCKET-SCOPED tombstone fold (round-14): a per-run
    ``bucket_budget`` folds only the dirtiest buckets — untouched
    buckets keep their files byte-identical, the tombstone table stays
    (still needed by the unfolded buckets, harmless over folded ones) —
    and the moment no dead row remains anywhere the tombstones clear
    and the store is physically clean. The logical view is invariant
    through every step."""
    import glob
    import os

    from coronavirus_dashboard_pipeline_etl_spark import store
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_read,
        band_index_upsert_write,
        compact_dedup_store,
    )
    from coronavirus_dashboard_pipeline_etl_spark.store import meta_read

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = docs(
        [(i, f"w{i}a w{i}b w{i}c shared suffix tokens {i % 5}") for i in range(30)]
    )
    path = str(tmp_path / "bidx")
    band_index_upsert_write(corpus, path, k=8, bands=2, buckets=16)
    # re-crawl six docs -> dead rows spread over several buckets
    wave = docs([(i, f"fresh crawl of document {i} tokens") for i in range(6)])
    band_index_upsert_write(wave, path, k=8, bands=2, buckets=16)
    logical = {tuple(r) for r in band_index_read(spark, path).collect()}

    files = lambda: {  # noqa: E731
        p: os.path.getmtime(p) for p in glob.glob(path + "/bucket=*/*.parquet")
    }
    before = files()
    rep1 = compact_dedup_store(spark, path, incremental=True, bucket_budget=2)
    after1 = files()
    # partial by construction: 2 of the dirty buckets folded, debt remains
    assert rep1["buckets_rewritten"] == 2
    assert 0 < rep1["dead_rows_folded"] < rep1["dead_rows_before"]
    assert rep1["dead_rows_remaining"] > 0
    assert rep1["tombstones_cleared"] is False
    assert os.path.isdir(path + "/_tombstones")
    # exactly the 2 folded bucket dirs changed; every other file intact
    changed = {
        os.path.dirname(p)
        for p in set(before) | set(after1)
        if before.get(p) != after1.get(p)
    }
    assert len(changed) == 2
    assert all(
        after1[p] == mt
        for p, mt in before.items()
        if os.path.dirname(p) not in changed
    )
    # merge-on-read view invariant after the partial fold
    assert {tuple(r) for r in band_index_read(spark, path).collect()} == logical

    # second run, no budget: folds the rest and clears the tombstones
    rep2 = compact_dedup_store(spark, path, incremental=True)
    assert rep2["dead_rows_folded"] == rep1["dead_rows_remaining"]
    assert rep2["tombstones_cleared"] is True
    assert rep2["tombstones_folded"] > 0
    assert not os.path.isdir(path + "/_tombstones")
    assert {tuple(r) for r in band_index_read(spark, path).collect()} == logical
    # physically clean: the raw store IS the logical view now
    assert spark.read.parquet(path).count() == len(logical)
    # meta survives dynamic overwrites; the store stays upsertable
    assert meta_read(path)["epoch"] == 2  # bootstrap 1, upsert 2; folds keep it
    band_index_upsert_write(
        docs([(9, "another refresh nine")]), path, k=8, bands=2, buckets=16
    )
    assert meta_read(path)["epoch"] == 3

    # budget-less incremental == complete fold: one more run drains the
    # doc-9 wave's debt in a single pass and clears its tombstones too
    rep3 = compact_dedup_store(spark, path, incremental=True)
    assert rep3["tombstones_cleared"] is True
    assert not os.path.isdir(path + "/_tombstones")

    # broadcast-size guard: a tiny threshold makes the read path warn
    import pytest as _pytest

    band_index_upsert_write(
        docs([(10, "refresh ten")]), path, k=8, bands=2, buckets=16
    )
    monkeypatch.setattr(store, "_TOMB_WARN_BYTES", 1)
    with _pytest.warns(RuntimeWarning, match="compact_dedup_store"):
        band_index_read(spark, path).collect()


def test_compact_incremental_folds_fat_buckets_without_dead_rows(spark, tmp_path):
    """The incremental fold's candidate set also includes buckets whose
    FILE COUNT exceeds max_files_per_bucket even when they hold no dead
    rows (waves of brand-new docs tombstone but kill nothing), so one
    maintenance call serves both kinds of debt on a tombstoned store."""
    import glob
    import os

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_read,
        band_index_upsert_write,
        compact_dedup_store,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    path = str(tmp_path / "bidx")
    band_index_upsert_write(
        docs([(i, f"w{i}a w{i}b w{i}c tokens {i % 3}") for i in range(20)]),
        path, k=8, bands=2, buckets=16,
    )
    # three waves of NEW docs: tombstones accumulate but no row dies,
    # while the touched buckets pile up append files
    for j in range(3):
        band_index_upsert_write(
            docs([(100 + j, f"brand new doc {j} alpha beta gamma")]),
            path, k=8, bands=2, buckets=16,
        )
    logical = {tuple(r) for r in band_index_read(spark, path).collect()}
    fat_before = sum(
        1
        for d in os.listdir(path)
        if d.startswith("bucket=")
        and len(glob.glob(os.path.join(path, d, "*.parquet"))) > 1
    )
    assert fat_before > 0
    rep = compact_dedup_store(
        spark, path, incremental=True, max_files_per_bucket=1
    )
    assert rep["dead_rows_before"] == 0
    assert rep["buckets_rewritten"] == fat_before
    assert rep["tombstones_cleared"] is True  # zero debt -> clears
    assert not os.path.isdir(path + "/_tombstones")
    fat_after = sum(
        1
        for d in os.listdir(path)
        if d.startswith("bucket=")
        and len(glob.glob(os.path.join(path, d, "*.parquet"))) > 1
    )
    assert fat_after == 0
    assert {tuple(r) for r in band_index_read(spark, path).collect()} == logical


def test_compact_incremental_folds_files_not_buckets(spark, tmp_path):
    """FILE-scoped fold (round-15): inside a folded bucket only the
    files that actually hold dead rows rewrite — clean files (e.g. the
    re-crawl wave's own appends) keep their bytes even when their
    bucket is selected, so the fold's write volume tracks dead-file
    bytes, not touched-bucket bytes."""
    import glob
    import os

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_read,
        band_index_upsert_write,
        compact_dedup_store,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    path = str(tmp_path / "bidx")
    band_index_upsert_write(
        docs([(i, f"w{i}a w{i}b w{i}c tokens {i % 7}") for i in range(24)]),
        path, k=8, bands=2, buckets=8,
    )
    # re-crawl four docs: their epoch-0 rows die (in the seed files),
    # the re-crawl's own epoch-1 append files stay fully live
    band_index_upsert_write(
        docs([(i, f"fresh crawl {i} alpha beta gamma") for i in range(4)]),
        path, k=8, bands=2, buckets=8,
    )
    logical = {tuple(r) for r in band_index_read(spark, path).collect()}
    files = lambda: {  # noqa: E731
        p: os.path.getmtime(p) for p in glob.glob(path + "/bucket=*/*.parquet")
    }
    before = files()
    rep = compact_dedup_store(spark, path, incremental=True)
    after = files()
    assert rep["tombstones_cleared"] is True
    assert rep["dead_rows_folded"] == rep["dead_rows_before"] > 0
    # exactly the dirty files were deleted (rewritten as appends)
    deleted = set(before) - set(after)
    assert rep["files_rewritten"] == len(deleted) > 0
    # the folded buckets still hold PRE-fold files, byte-untouched —
    # the whole-bucket fold would have rewritten these too
    folded_dirs = {os.path.dirname(p) for p in deleted}
    kept_in_folded = [
        p
        for p in set(before) & set(after)
        if os.path.dirname(p) in folded_dirs
    ]
    assert kept_in_folded
    assert all(after[p] == before[p] for p in kept_in_folded)
    # every file outside the folded buckets is untouched
    assert all(
        after[p] == before[p]
        for p in set(before) & set(after)
        if os.path.dirname(p) not in folded_dirs
    )
    # merge-on-read view invariant; store physically clean
    assert {tuple(r) for r in band_index_read(spark, path).collect()} == logical
    assert spark.read.parquet(path).count() == len(logical)


def test_store_buckets_auto_derive_from_size(spark, tmp_path, monkeypatch):
    """``buckets=None`` (the default) derives the store layout from the
    writer frame's size estimate: a KB-scale frame lands at the
    8-bucket floor (not 64 near-empty files), the count is recorded in
    the sidecar and governs appends/upserts, an overwrite whose size
    cannot be estimated keeps the recorded layout, an explicit caller
    count still wins, and a reseed of a sidecar'd store is sized from
    the bytes of the store it replaces."""
    import os

    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_read,
        band_index_upsert_write,
        band_index_write,
        fp_store_write,
        minhash_band_index,
    )
    from coronavirus_dashboard_pipeline_etl_spark.store import meta_read
    from coronavirus_dashboard_pipeline_etl_spark import store
    from coronavirus_dashboard_pipeline_etl_spark.store import (
        _AUTO_BUCKET_MAX,
        _AUTO_BUCKET_MIN,
        _auto_buckets,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = docs([(i, f"a{i} b{i} c{i % 3} shared") for i in range(30)])
    # parquet-backed so plan stats are known (createDataFrame local
    # relations also estimate, but pin the production shape)
    src = str(tmp_path / "src")
    corpus.write.parquet(src)
    corpus = spark.read.parquet(src)
    idx = minhash_band_index(corpus, k=8, bands=2)
    assert _auto_buckets(idx) == _AUTO_BUCKET_MIN

    path = str(tmp_path / "auto_store")
    band_index_write(idx, path, k=8, bands=2)
    meta = meta_read(path)
    assert meta["buckets"] == _AUTO_BUCKET_MIN
    dirs = [d for d in os.listdir(path) if d.startswith("bucket=")]
    assert 0 < len(dirs) <= _AUTO_BUCKET_MIN

    # the recorded count governs the upsert append (files land in the
    # same hash mapping) and merge-on-read equals rebuilt-from-scratch
    wave = docs([(5, "changed text entirely"), (31, "brand new doc")])
    band_index_upsert_write(wave, path, k=8, bands=2)
    latest = corpus.filter(~F.col("doc_id").isin(5)).unionByName(wave)
    got = {tuple(r) for r in band_index_read(spark, path).collect()}
    want = {
        tuple(r)
        for r in minhash_band_index(latest, k=8, bands=2).collect()
    }
    assert got == want

    # explicit caller count still wins over auto
    path2 = str(tmp_path / "fixed_store")
    band_index_write(idx, path2, k=8, bands=2, buckets=16)
    assert meta_read(path2)["buckets"] == 16

    # when no size estimate is available the overwrite keeps the
    # store's recorded layout instead of guessing (Spark 4 propagates
    # stats through localCheckpoint, so force the no-stats branch)
    class _NoStats:
        pass

    from coronavirus_dashboard_pipeline_etl_spark.store import (
        _LEGACY_BUCKETS,
    )

    assert _auto_buckets(_NoStats(), meta_read(path2)) == 16
    assert _auto_buckets(_NoStats(), None) == _LEGACY_BUCKETS

    # fp store: same auto floor + sidecar record
    fpp = str(tmp_path / "auto_fps")
    fp_store_write(
        corpus.select(F.md5("text").alias("fp")), fpp, mode="overwrite"
    )
    assert meta_read(fpp)["buckets"] == _AUTO_BUCKET_MIN

    # a reseed is sized from the store's OBSERVED on-disk bytes (r15:
    # the estimate-overshoot hardening's ground-truth figure), listed
    # when it replaces the store; no write records a byte count
    assert "data_bytes" not in meta_read(fpp)
    disk = sum(map(sum, store.bucket_files(path).values()))
    assert disk > 0

    # observed bytes GOVERN a reseed when the writer frame has stats:
    # a 10x-overshooting plan estimate cannot re-fragment the store
    # (r14 verdict item: sizeInBytes compounds selectivity guesses).
    # spark.range(2^31) estimates ~16 GiB — est-derived would be 32
    # buckets; the KB-scale fp store on disk pins the floor instead,
    # and a path without a sidecar sizes from the estimate.
    big_est = spark.range(1 << 31).selectExpr("cast(id as string) fp")
    assert _auto_buckets(big_est, None) > _AUTO_BUCKET_MIN
    assert _auto_buckets(big_est, meta_read(fpp), fpp) == _AUTO_BUCKET_MIN
    assert _auto_buckets(big_est, None, fpp) == _auto_buckets(big_est, None)
    # and a genuinely grown store derives MORE buckets from disk truth
    # than its tiny writer-frame estimate would suggest: at a disk
    # target of 1/12 of the store's bytes, its reseed takes 16 buckets
    monkeypatch.setattr(store, "_AUTO_BUCKET_TARGET_DISK_BYTES", disk // 12)
    assert _auto_buckets(idx) == _AUTO_BUCKET_MIN
    band_index_write(idx, path, k=8, bands=2)
    assert meta_read(path)["buckets"] == 16

    # clamp sanity on the pure helper bounds
    assert _AUTO_BUCKET_MIN >= 1 and _AUTO_BUCKET_MAX >= _AUTO_BUCKET_MIN


def test_band_index_append_bootstrap_records_sidecar(spark, tmp_path):
    """Bootstrapping a NEW band-index path via mode='append' records the
    derived bucket count in the sidecar (r14 advice): before the fix the
    next append fell back to the legacy fixed count and rows hashed with
    different moduli made pruned probes silently lossy."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_pruned,
        band_index_read,
        band_index_write,
        minhash_band_index,
    )
    from coronavirus_dashboard_pipeline_etl_spark.store import meta_read

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    a = docs([(i, f"alpha{i} beta{i} shared token") for i in range(20)])
    b = docs([(100 + i, f"gamma{i} delta{i} other words") for i in range(20)])
    path = str(tmp_path / "append_bootstrap")
    band_index_write(minhash_band_index(a, k=8, bands=2), path, mode="append")
    meta = meta_read(path)
    assert meta is not None and isinstance(meta["buckets"], int)
    first = meta["buckets"]
    band_index_write(minhash_band_index(b, k=8, bands=2), path, mode="append")
    # second append must have used the recorded mapping: every probe
    # over the pruned read equals the probe over the full read
    assert meta_read(path)["buckets"] == first
    both = a.unionByName(b)
    full = {tuple(r) for r in band_index_read(spark, path).collect()}
    want = {
        tuple(r) for r in minhash_band_index(both, k=8, bands=2).collect()
    }
    assert full == want
    pruned = {
        tuple(r)
        for r in band_index_pruned(spark, path, both, k=8, bands=2).collect()
    }
    assert pruned == want  # batch touches every doc => prune is total


def test_store_overwrite_refuses_dynamic_partition_mode(spark, tmp_path):
    """A layout-changing overwrite under dynamic partitionOverwriteMode
    would leave stale bucket dirs from the previous layout — both store
    writers refuse loudly (r14 advice)."""
    import pytest
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_write,
        fp_store_write,
        minhash_band_index,
    )

    d = spark.createDataFrame(
        [(1, "one two three"), (2, "four five six")], "doc_id long, text string"
    )
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "STATIC")
    spark.conf.set(conf_key, "dynamic")
    try:
        with pytest.raises(ValueError, match="dynamic"):
            band_index_write(
                minhash_band_index(d, k=8, bands=2),
                str(tmp_path / "bi"),
                mode="overwrite",
            )
        with pytest.raises(ValueError, match="dynamic"):
            fp_store_write(
                d.select(F.md5("text").alias("fp")),
                str(tmp_path / "fp"),
                mode="overwrite",
            )
    finally:
        spark.conf.set(conf_key, prev)
    # append stays allowed under dynamic mode (it never truncates)
    band_index_write(
        minhash_band_index(d, k=8, bands=2), str(tmp_path / "bi2"), mode="append"
    )


@pytest.mark.parametrize("bands", [0, -4, 3, 32])
@pytest.mark.parametrize(
    "op",
    ["lsh_candidate_pairs", "minhash_band_index", "minhash_probe_pairs", "probe_neardup_stream"],
)
def test_band_guard_raises_before_any_job(spark, op, bands):
    """Every banded-MinHash entry point refuses a ``bands`` that does
    not split ``k=16`` into whole positive bands, before a Spark job
    runs."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_band_index,
        minhash_probe_pairs,
        minhash_signatures,
    )
    from coronavirus_dashboard_pipeline_etl_spark.streaming.neardup import (
        probe_neardup_stream,
    )
    from tests.test_store import _jobs

    df = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    call = {
        "lsh_candidate_pairs": lambda: lsh_candidate_pairs(
            minhash_signatures(df), k=16, bands=bands
        ),
        "minhash_band_index": lambda: minhash_band_index(df, k=16, bands=bands),
        "minhash_probe_pairs": lambda: minhash_probe_pairs(df, df, k=16, bands=bands),
        "probe_neardup_stream": lambda: probe_neardup_stream(df, df, k=16, bands=bands),
    }[op]

    def refused():
        with pytest.raises(ValueError, match="positive multiple"):
            call()

    assert _jobs(spark, refused)[1] == []


#: the modules that may build MinHash band signatures and exact-Jaccard
#: verifies: the toolkit, and the gate registry, whose SQL oracles and
#: pipe7 verify are references of their own
_MINHASH_TOOLKIT = ("functions/dedup.py", "plans/gate_queries.py")


def _call_name(call: ast.Call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _minhash_copies(source: str) -> list[int]:
    """Lines of ``source`` that build a band signature (a ``_``-joined
    ``concat_ws`` in a function naming ``mh`` columns) or an exact
    Jaccard (the size of an ``array_intersect``)."""
    found = set()
    for fn in ast.walk(ast.parse(source)):
        if not isinstance(fn, ast.FunctionDef):
            continue
        nodes = list(ast.walk(fn))
        names_mh = any(
            isinstance(n, ast.Constant) and str(n.value).startswith("mh") for n in nodes
        )
        for n in nodes:
            if not (isinstance(n, ast.Call) and n.args):
                continue
            arg = n.args[0]
            if names_mh and _call_name(n) == "concat_ws" and getattr(arg, "value", None) == "_":
                found.add(n.lineno)
            if _call_name(n) == "size" and isinstance(arg, ast.Call):
                if _call_name(arg) == "array_intersect":
                    found.add(n.lineno)
    return sorted(found)


def test_minhash_building_blocks_are_written_once():
    """Band rows and the Jaccard verify live in ``functions/dedup.py``;
    no other library module may grow its own copy again."""
    from tests.test_store import PKG, _package_sources

    planted = '''
def band_rows(sigs, bands, width):
    cols = [
        F.concat_ws("_", *[F.col(f"mh{i}") for i in range(b * width, (b + 1) * width)])
        for b in range(bands)
    ]
    inter = F.size(F.array_intersect("__ta", "__tb"))
    return sigs.select(*cols), inter
'''
    assert _minhash_copies(planted) == [4, 7]
    # a shared-bucket test and a non-band key join are not copies
    assert _minhash_copies('''
def bucket_pairs(df):
    key = F.concat_ws("|", F.col("area_type"), F.col("mh_code"))
    return df.filter(F.col("b") == F.array_min(F.array_intersect("__bl", "__br")))
''') == []
    with open(os.path.join(PKG, "functions/dedup.py")) as fh:
        assert _minhash_copies(fh.read())
    for rel in _package_sources(skip=_MINHASH_TOOLKIT):
        with open(os.path.join(PKG, rel)) as fh:
            assert _minhash_copies(fh.read()) == [], rel
