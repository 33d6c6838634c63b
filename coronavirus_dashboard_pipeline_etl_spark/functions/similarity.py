"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query
  set against the corpus, score with JVM higher-order functions
  (zip_with + aggregate → sequential left-fold, bit-for-bit deterministic
  and oracle-matchable), rank with a per-query window. At 100 TB the
  corpus side stays partitioned; only queries broadcast.
* ``cosine_topk_ivf`` — IVF-style scale path: a coarse partition column
  (cluster/label id) prunes the search to matching buckets, turning the
  cross join into an equi-join on the bucket key. With balanced buckets
  this is a 1/n_buckets cost cut with identical in-bucket ranking.

All math in double precision with sequential fold order, so results are
IEEE-identical across engines (no rounding fudge needed for the oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast

from ..store import materialised, rolling_checkpoint


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity_col(a: Column, b: Column) -> Column:
    a, b = _to_double(a), _to_double(b)
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k neighbours per query: (query_id, rank, neighbor_id, score).

    Scale design: the query matrix is collected once (queries are the
    small side by construction — if they weren't, this would be the wrong
    algorithm) and shipped to executors as a broadcast numpy array; each
    corpus partition scores itself against ALL queries with one float64
    matmul (Arrow-batched mapInPandas) and emits only its LOCAL top-k per
    query. The global top-k is then a window over ≤ k·|queries| rows per
    partition — the shuffle is tiny no matter how big the corpus is.
    Ties break by (score desc, neighbor_id asc) at both levels, so the
    local prune is exactly global-consistent.

    ``max_queries`` guards the small-side contract: collecting an
    unbounded query side would OOM the driver, so the collect is capped
    and over-limit inputs fail loudly (swap sides or batch the queries).
    """
    import numpy as np
    import pandas as pd

    q_rows = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"cosine_topk: query side exceeds max_queries={max_queries}; "
            "it must be the SMALL side (swap sides, batch the queries, or "
            "raise max_queries explicitly)"
        )
    if not q_rows:
        spark = corpus.sparkSession
        return spark.createDataFrame(
            [], "query_id long, rank long, neighbor_id long, score double"
        )
    q_ids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["qv"] for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, q_mat, q_norm))

    from ..operators.util import spread

    # the matmul stage is map-only and inherits the corpus scan layout
    # — spread off a narrow local scan (no-op at real file counts)
    c = spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
        )
    )

    def score_batches(batches):
        ids_b, mat_b, norm_b = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cmat = np.array(list(pdf["__cvec"]), dtype=np.float64)
            cnorm = np.sqrt((cmat * cmat).sum(axis=1))
            # scores[i, j] = cos(corpus_i, query_j)
            scores = (cmat @ mat_b.T) / np.outer(cnorm, norm_b)
            out_q, out_n, out_s = [], [], []
            for j in range(len(ids_b)):
                col = scores[:, j]
                mask = cids != ids_b[j] if exclude_self else slice(None)
                cand_ids, cand_s = cids[mask], col[mask]
                if len(cand_ids) == 0:
                    continue
                # local top-k, tie-break by neighbor id (matches the
                # global window's ordering)
                order = np.lexsort((cand_ids, -cand_s))[:k]
                out_q.extend([ids_b[j]] * len(order))
                out_n.extend(cand_ids[order])
                out_s.extend(cand_s[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "score": out_s}
            )

    candidates = c.mapInPandas(
        score_batches, "query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "score"
        )
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    bucket_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
    max_queries: int = 100_000,
    probe_col: str | None = None,
) -> DataFrame:
    """IVF-bucketed top-k: search the query's coarse bucket(s).

    The bucket column plays the role of the IVF centroid assignment (a
    real deployment computes it with k-means once and stores it; here the
    label column stands in). Same broadcast-queries + batched-matmul +
    local-top-k shape as cosine_topk (including the ``max_queries``
    small-side guard), but each corpus batch only scores against queries
    sharing its bucket — the IVF pruning happens inside the kernel with
    a bucket membership mask, cutting FLOPs by ~nprobe/n_buckets without
    any extra shuffle.

    ``probe_col`` (multi-probe IVF): names an array column on the QUERY
    side holding the nprobe bucket ids to search (from ``probe_assign``)
    instead of the single ``bucket_col`` — the standard recall lever;
    nprobe = number of cells searched per query.
    """
    import numpy as np
    import pandas as pd

    qb_expr = F.col(probe_col) if probe_col else F.array(F.col(bucket_col))
    q_rows = (
        queries.select(
            F.col(id_col).alias("qid"),
            qb_expr.alias("qb"),
            F.col(vec_col).alias("qv"),
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"cosine_topk_ivf: query side exceeds max_queries={max_queries}; "
            "it must be the SMALL side (swap sides, batch the queries, or "
            "raise max_queries explicitly)"
        )
    if not q_rows:
        spark = corpus.sparkSession
        return spark.createDataFrame(
            [], "query_id long, rank long, neighbor_id long, score double"
        )
    q_ids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    # per-query PROBE SET (singleton without probe_col)
    q_buckets = [np.asarray(list(r["qb"])) for r in q_rows]
    q_mat = np.array([r["qv"] for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, q_buckets, q_mat, q_norm))

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(bucket_col).alias("__cb"),
        F.col(vec_col).alias("__cvec"),
    )

    def score_batches(batches):
        ids_b, buckets_b, mat_b, norm_b = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cbuckets = pdf["__cb"].to_numpy()
            cmat = np.array(list(pdf["__cvec"]), dtype=np.float64)
            cnorm = np.sqrt((cmat * cmat).sum(axis=1))
            scores = (cmat @ mat_b.T) / np.outer(cnorm, norm_b)
            out_q, out_n, out_s = [], [], []
            for j in range(len(ids_b)):
                mask = np.isin(cbuckets, buckets_b[j])
                if exclude_self:
                    mask = mask & (cids != ids_b[j])
                cand_ids, cand_s = cids[mask], scores[mask, j]
                if len(cand_ids) == 0:
                    continue
                order = np.lexsort((cand_ids, -cand_s))[:k]
                out_q.extend([ids_b[j]] * len(order))
                out_n.extend(cand_ids[order])
                out_s.extend(cand_s[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "score": out_s}
            )

    candidates = c.mapInPandas(
        score_batches, "query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "score"
        )
    )


def _collect_centroids(
    centroids: DataFrame,
    centroid_id_col: str,
    centroid_vec_col: str,
    max_centroids: int,
    caller: str,
) -> list:
    """Shared small-side centroid collection: guard, collect, and sort
    by centroid id (so 'first index wins' tie-breaks resolve to the
    smallest id) — used by every literal-centroid expression builder."""
    rows = (
        centroids.select(
            F.col(centroid_id_col).alias("cid"),
            _to_double(F.col(centroid_vec_col)).alias("cvec"),
        )
        .limit(max_centroids + 1)
        .collect()
    )
    if len(rows) > max_centroids:
        raise ValueError(
            f"{caller}: centroid side exceeds max_centroids="
            f"{max_centroids}; it must be the small side"
        )
    if not rows:
        raise ValueError(f"{caller}: empty centroid set")
    return sorted(rows, key=lambda r: r["cid"])


def assign_centroids(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    max_centroids: int = 10_000,
) -> DataFrame:
    """Nearest-centroid assignment by cosine — the IVF coarse quantiser /
    k-means assignment step as a ZERO-SHUFFLE map-side expression.

    The centroid set (small by definition: k centroids, not corpus data)
    is collected under a ``max_centroids`` guard and inlined as a literal
    array of structs; each row scores all k centroids with the same
    sequential-fold dot product the rest of this module uses and takes
    the argmax via ``array_position(scores, array_max(scores))`` — first
    index on ties, so assignment is total and deterministic. No join, no
    exchange: the whole operator fuses into the scan's codegen stage.

    Returns the input plus ``centroid_id`` and ``centroid_score``.
    """
    from ..operators.util import spread

    rows = _collect_centroids(
        centroids, centroid_id_col, centroid_vec_col, max_centroids,
        "assign_centroids",
    )
    # k cosines per row with no exchange anywhere: the scoring stage
    # inherits the scan layout, so spread off a narrow local scan
    # (no-op at real file counts)
    df = spread(df)
    # single ARRAY literals (python lists), NOT F.array(*[F.lit(x)...]):
    # per-element literals build a k*dim-node CreateArray tree that
    # Catalyst re-analyses on every plan compile — at k=8, dim=64
    # that's ~512 nodes per call and was the dominant first-run
    # plan-compile cost of the ANN pipeline gates
    cid_arr = F.lit([int(r["cid"]) for r in rows])
    cent_arr = F.lit([[float(x) for x in r["cvec"]] for r in rows])
    v = _to_double(F.col(vec_col))
    # zero-norm vectors make every cosine NULL and centroid_id NULL —
    # which crashes kmeans_lloyd's NEXT round in _collect_centroids
    # (int(None)); fail loudly here instead, like probe_assign
    vnorm_raw = _norm(v)
    vnorm = F.when(vnorm_raw > 0, vnorm_raw).otherwise(
        F.assert_true(
            F.lit(False), F.lit("assign_centroids: zero-norm vector")
        ).cast("double")
    )
    scores = F.transform(
        cent_arr, lambda c: _dot(v, c) / (vnorm * _norm(c))
    )
    best = F.array_position(scores, F.array_max(scores)).cast("int")
    return df.select(
        "*",
        F.element_at(cid_arr, best).cast("long").alias("centroid_id"),
        F.element_at(scores, best).alias("centroid_score"),
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeding: str = "min_id",
    exact: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over an embedding column (cosine assignment,
    mean update), the iterative-algorithm companion to the one-shot
    ``assign_centroids``.

    Seeding is deterministic either way (no RNG — re-runs and engines
    agree): ``"min_id"`` takes the k smallest-``id_col`` rows (cheapest,
    one scan); ``"farthest"`` uses ``kmeans_seeds_farthest`` (k extra
    scans, spreads seeds when ids correlate with content). Each round: map-side
    assignment (zero shuffle), then the centroid update as
    posexplode -> groupBy (cluster, dim) mean -> re-collect — one
    shuffle per round keyed on (cluster, dimension), k*dim rows out.
    Each round's k centroids come back to the driver as a local table,
    which truncates the lineage per round (the plan stays bounded) and
    pins no blocks.

    Returns ``(assigned, centroids)`` — the corpus with final
    ``centroid_id``/``centroid_score``, and the centroid table.

    ``exact=True`` switches the centroid update to the decimal-exact
    form used by the pipe11 gate: per-(cluster, dim) SUM over
    ``decimal(30,15)`` (exact, order/partitioning-independent) cast to
    double, divided by the count. Centroids are then identical across
    partition layouts and AQE decisions — the driver-verifiable mode.
    Across ENGINES they can still drift by one final-bit ulp: Spark's
    double→decimal cast rounds HALF_UP where DuckDB's truncates, so
    the decimal SUMS differ in the last decimal digit (measured in
    pq_train's development — see its ordered-fold exact mode). The c2
    gate stays green because its output is ASSIGNMENTS, which a
    last-ulp centroid flip essentially never changes; don't oracle-hash
    raw centroid values from this mode. Assignment decisions on top of them compare
    double cosines computed with the same sequential fold order in both
    engines, exact ties broken by smallest centroid id; an
    epsilon-near-tie between two centroids could in principle resolve
    differently across engines (not observed at any tested scale).
    Plain ``exact=False`` keeps double ``avg`` (faster; low-order bits
    may vary with aggregation order).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if seeding == "farthest":
        centroids = kmeans_seeds_farthest(df, k, id_col=id_col, vec_col=vec_col)
    elif seeding == "min_id":
        centroids = (
            df.orderBy(id_col)
            .limit(k)
            .select(
                F.col(id_col).cast("long").alias("centroid_id"),
                _to_double(F.col(vec_col)).alias("centroid"),
            )
        )
        # re-key 0..k-1 for stable ids across updates
        centroids = centroids.select(
            (F.row_number().over(Window.orderBy("centroid_id")) - 1)
            .cast("long")
            .alias("centroid_id"),
            "centroid",
        )
    else:
        raise ValueError(
            f"seeding must be 'min_id' or 'farthest', got {seeding!r}"
        )
    for _ in range(n_iter):
        assigned = assign_centroids(
            df, centroids, id_col=id_col, vec_col=vec_col
        )
        dims = assigned.select(
            F.col("centroid_id"),
            F.posexplode(_to_double(F.col(vec_col))).alias("dim", "x"),
        )
        if exact:
            mean_expr = (
                F.sum(F.col("x").cast("decimal(30,15)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        else:
            mean_expr = F.avg("x").alias("m")
        rows = (
            dims.groupBy("centroid_id", "dim")
            .agg(mean_expr)
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s.m,
                ).alias("centroid")
            )
            .limit(k)
            .collect()
        )
        centroids = df.sparkSession.createDataFrame(
            rows, "centroid_id long, centroid array<double>"
        )
    return assign_centroids(df, centroids, id_col=id_col, vec_col=vec_col), centroids


def negative_pairs(
    df: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    index_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    row draws ``k`` pseudo-random partners from the corpus via the
    md5-coin (``hash(id, j, salt) mod N``), never itself — reproducible
    across runs and engines, no RNG state, no cross join.

    ``index_col`` names an existing DENSE [0, N) column (shard-assigned
    at ingest, or ids that are already dense — pass ``id_col`` itself
    then). Without one, a global rank window derives it: fine for eval
    sets, a deliberate single-partition sort at corpus scale — ingest
    should own the dense id, not this operator.

    Plan: each row explodes to k draws map-side; one equi-join on the
    drawn index maps back to ids (plain shuffle join — the lookup is
    corpus-sized, never broadcast). Self-draws shift to the next index
    mod N, so every row gets exactly k negatives when N > 1.
    """
    from ..functions.dedup import md5_prefix_long

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n_rows = df.count()
    if n_rows < 2:
        raise ValueError("negative_pairs: need at least 2 rows")
    if index_col is None:
        w = Window.orderBy(id_col)
        indexed = df.select(F.col(id_col)).withColumn(
            "__idx", F.row_number().over(w) - 1
        )
    else:
        indexed = df.select(
            F.col(id_col), F.col(index_col).cast("long").alias("__idx")
        )
    lookup = indexed.select(
        F.col("__idx").alias("__nidx"), F.col(id_col).alias("neg_id")
    )
    drawn = indexed.select(
        id_col,
        "__idx",
        F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("neg_rank"),
    ).withColumn(
        "__draw",
        md5_prefix_long(
            F.concat(
                F.col(id_col).cast("string"),
                F.lit("_"),
                F.col("neg_rank").cast("string"),
                F.lit(salt),
            )
        )
        % n_rows,
    )
    # avoid self-pairing: shift by one position, mod N
    drawn = drawn.withColumn(
        "__nidx",
        F.when(
            F.col("__draw") == F.col("__idx"),
            (F.col("__draw") + 1) % n_rows,
        ).otherwise(F.col("__draw")),
    )
    return drawn.join(lookup, "__nidx").select(
        id_col, F.col("neg_rank").cast("long").alias("neg_rank"), "neg_id"
    )


def probe_assign(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    out_col: str = "probe_buckets",
    max_centroids: int = 10_000,
) -> DataFrame:
    """The multi-probe half of IVF search: attach the ids of the
    ``nprobe`` NEAREST centroids (cosine, ties by smaller id) as an
    array column — real IVF recall comes from searching several nearby
    cells, not just the assigned one.

    Same zero-shuffle literal-centroid design as ``assign_centroids``:
    centroids inline as literals, scores compute per row inside
    codegen, and the top-nprobe selection is an array sort on
    (-score, cid) structs — no join, no exchange, no UDF.

    A zero-norm query vector would make every cosine NULL and
    sort_array would then pick an arbitrary probe set; instead the
    norm is guarded and such rows fail loudly at execution time.
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    from ..operators.util import spread

    rows = _collect_centroids(
        centroids, centroid_id_col, centroid_vec_col, max_centroids,
        "probe_assign",
    )
    # k cosines per row, exchange-free — spread off a narrow local
    # scan layout (no-op at real file counts)
    df = spread(df)
    v = _to_double(F.col(vec_col))
    vnorm_raw = _norm(v)
    vnorm = F.when(vnorm_raw > 0, vnorm_raw).otherwise(
        F.assert_true(
            F.lit(False), F.lit("probe_assign: zero-norm query vector")
        ).cast("double")
    )
    # single ARRAY literals + an index transform, NOT per-element
    # F.lit trees (same plan-compile rationale as assign_centroids:
    # k*dim literal nodes per call dominate first-run compile time).
    # Fold order inside _dot is unchanged, so scores are bit-identical.
    cid_arr = F.lit([int(r["cid"]) for r in rows])
    cent_arr = F.lit([[float(x) for x in r["cvec"]] for r in rows])
    cnorm_arr = F.lit(
        [float(sum(float(x) ** 2 for x in r["cvec"]) ** 0.5) for r in rows]
    )
    idx = F.sequence(F.lit(1), F.lit(len(rows)))
    scored = F.transform(
        idx,
        lambda i: F.struct(
            (
                -_dot(v, F.element_at(cent_arr, i))
                / (vnorm * F.element_at(cnorm_arr, i))
            ).alias("neg_score"),
            F.element_at(cid_arr, i).cast("long").alias("cid"),
        ),
    )
    # sort_array on (neg_score asc, cid asc) = score desc, cid asc
    top = F.slice(F.sort_array(scored), 1, nprobe)
    return df.withColumn(
        out_col, F.transform(top, lambda s: s.cid.cast("long"))
    )


def _probe_exploded_guarded(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
    centroid_id_col: str,
    centroid_vec_col: str,
    max_bucket: int,
    caller: str,
) -> DataFrame:
    """Shared candidate-generation preamble of the two embedding-neardup
    kernels: ``probe_assign`` -> explode onto probe buckets -> ONE lazy
    ``localCheckpoint`` (the guard collect doubles as the eager
    materialisation; the k-wide probe scoring would otherwise re-execute
    per downstream consumer) -> the loud never-all-pairs bucket guard.
    Returns the checkpointed exploded frame (id, __v, __bs, __b).

    Degenerate input: a ZERO-NORM vector raises loudly inside
    ``probe_assign`` (its assert fires before any scoring), so neither
    kernel ever evaluates a 0/0 cosine — the expression path and the
    BLAS path cannot diverge on NaN because the NaN is unreachable
    (pinned by ``test_zero_norm_raises_identically_in_both_kernels``)."""
    probed = probe_assign(
        df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("__v")),
        centroids,
        nprobe=nprobe,
        vec_col="__v",
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
    )
    x = probed.select(
        F.col(id_col),
        "__v",
        F.col("probe_buckets").alias("__bs"),
        F.explode("probe_buckets").alias("__b"),
    )
    # the caller's next call releases it (rolling)
    x = rolling_checkpoint(x, caller)
    oversized = (
        x.groupBy("__b")
        .count()
        .filter(F.col("count") > max_bucket)
        .limit(1)
        .collect()
    )
    if oversized:
        raise ValueError(
            f"{caller}: probe bucket {oversized[0]['__b']} "
            f"holds {oversized[0]['count']} > max_bucket={max_bucket} "
            "vectors; train more centroids (k ~ corpus/1e4) or raise "
            "max_bucket explicitly"
        )
    return x


def embedding_neardup_pairs(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    max_bucket: int = 100_000,
    round_digits: int = 6,
    join_slices: int = 32,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the semantic-dedup mode
    of the family (MinHash/SimHash/Jaccard catch lexical dups; this
    catches paraphrases that share an embedding neighbourhood). Never
    all-pairs: candidates come from IVF probe buckets.

    Plan: ``probe_assign`` attaches each vector's ``nprobe`` nearest
    centroid ids (zero-shuffle codegen); vectors explode onto their
    probe buckets; the self-join is an equi-join ON THE BUCKET ID with
    ``id_l < id_r``. A pair sharing several probe buckets would surface
    once per shared bucket, so only the smallest shared bucket keeps
    the pair (``bucket == array_min(array_intersect(l, r))``) — dedup
    by construction, no distinct shuffle (the interval_overlap_join
    first-shared-cell trick in embedding space). Cosine is computed on
    the surviving candidates only and ROUNDED to ``round_digits``
    before the threshold test so the engine's low-order summation bits
    cannot flip an inclusion decision at the boundary.

    Scale: in-bucket candidate cost is sum(bucket²) — size ``k`` (the
    centroid count) so buckets hold roughly corpus/k vectors (k ~ N /
    1e4 keeps buckets joinable at any corpus size; train centroids with
    ``kmeans_lloyd``). A bucket above ``max_bucket`` raises loudly
    (skewed/undertrained centroids) rather than silently running an
    all-pairs-sized join; the check is one bounded aggregate.
    Measured at 10x corpus with k held FIXED at 8 (the gate's pinned
    oracle configuration): wall time grows ~18x — exactly the
    quadratic-in-bucket prediction; growing k with N restores linear
    behaviour, which is the documented production contract above.

    ``join_slices`` salts the in-bucket join so its parallelism is
    k * join_slices tasks instead of k (output pairs are identical;
    see the inline comment). Leave the default unless the corpus is
    tiny (slices below ~1k rows just add scheduling overhead).
    """
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    if join_slices < 1:
        raise ValueError(f"join_slices must be >= 1, got {join_slices}")
    x = _probe_exploded_guarded(
        df,
        centroids,
        nprobe,
        id_col,
        vec_col,
        centroid_id_col,
        centroid_vec_col,
        max_bucket,
        "embedding_neardup_pairs",
    )
    # Salt the in-bucket self-join: with few trained centroids the join
    # key (__b) has cardinality k, so the quadratic in-bucket pair work
    # would land on at most k tasks no matter how many cores exist (and
    # AQE's skew split never fires — the INPUT partitions are tiny, the
    # blow-up is in the join OUTPUT). Slice the right side into
    # join_slices deterministic sub-keys and explode the left over all
    # of them: the key becomes (__b, slice) with k*join_slices values,
    # the pair set is UNCHANGED (every left row still meets every right
    # row of its bucket exactly once), and the only cost is a
    # join_slices-fold duplication of the (id, vec) rows on the left —
    # linear and tiny next to the quadratic pair work it spreads out.
    s = F.pmod(F.xxhash64(F.col(id_col)), F.lit(join_slices))
    # Precompute each row's norm ONCE (linear) instead of inside the
    # per-pair cosine (quadratic): same expression on the same data, so
    # the resulting doubles — and the rounded threshold decisions — are
    # bit-identical to the inline form.
    x = x.withColumn("__n", _norm(F.col("__v")))
    l = x.select(
        F.col(id_col).alias("id_l"),
        F.col("__v").alias("__vl"),
        F.col("__n").alias("__nl"),
        F.col("__bs").alias("__bl"),
        "__b",
        F.explode(
            F.sequence(F.lit(0), F.lit(join_slices - 1))
        ).alias("__sl"),
    )
    # Round-robin the exploded left across the cluster: when the right
    # side is small enough to auto-broadcast, the join's parallelism is
    # exactly the LEFT side's partitioning — and a small corpus read
    # from one parquet file would otherwise run the whole quadratic
    # pair evaluation in ONE task. The shuffle moved is the linear
    # (id, vec) x join_slices rows, never the pair blow-up.
    l = l.repartition(df.sparkSession.sparkContext.defaultParallelism)
    r = x.select(
        F.col(id_col).alias("id_r"),
        F.col("__v").alias("__vr"),
        F.col("__n").alias("__nr"),
        F.col("__bs").alias("__br"),
        "__b",
        s.cast("int").alias("__sl"),
    )
    cos = F.round(
        _dot(F.col("__vl"), F.col("__vr"))
        / (F.col("__nl") * F.col("__nr")),
        round_digits,
    )
    return (
        l.join(r, ["__b", "__sl"])
        .filter(
            (F.col("id_l") < F.col("id_r"))
            & (
                F.col("__b")
                == F.array_min(F.array_intersect("__bl", "__br"))
            )
        )
        .select("id_l", "id_r", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_pairs_blas(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    max_bucket: int = 50_000,
    round_digits: int = 6,
    block_rows: int = 512,
) -> DataFrame:
    """Vectorised kernel for ``embedding_neardup_pairs``: identical
    candidate generation (probe_assign -> explode onto buckets ->
    in-bucket pairs with id_l < id_r and first-shared-bucket dedup ->
    rounded-cosine threshold), but the in-bucket scoring runs as ONE
    float64 BLAS matmul per bucket inside ``applyInPandas`` instead of
    per-pair JVM higher-order folds. At the gate's sf1 configuration
    this is the difference between ~35 s of interpreted per-element
    lambdas (6.4e9 evaluations) and ~2 s of matrix math — the kernel a
    production 100 TB semantic-dedup run wants.

    Decisions only: the output is (id_l, id_r) WITHOUT the cosine —
    matmul accumulates in a different order than a sequential fold, so
    low-order float bits differ from the expression path / a SQL
    oracle (the s1/c1 "decisions only" precedent). The inclusion
    decision itself uses the same HALF_UP rounding as ``F.round`` (a
    sign-aware floor(|x|*1e6 + 0.5), not numpy's half-even) so the
    kept pair set matches ``embedding_neardup_pairs`` except for pairs
    whose cosine differs across summation orders at exactly the
    ``round_digits`` boundary — measure-zero for real data and pinned
    by the gate's value hash on this corpus.

    Memory: scoring is blocked (``block_rows`` corpus rows at a time,
    default 512 -> a 512 x max_bucket float64 block caps at ~200 MB);
    the per-group matrix itself is bucket_size x dim. Parallelism is
    one task per bucket — with the documented k ~ corpus/1e4 centroid
    contract that is plenty of tasks at scale, and BLAS threads fill
    the cores within each task.

    Ids: the output schema is derived from ``df.schema[id_col]`` — any
    orderable id type works, same as the expression path. Inside the
    kernel the ``id_l < id_r`` orientation uses numpy/pandas ordering,
    which matches Spark's for integers/floats/dates AND for strings:
    Spark compares strings as UTF-8 bytes, UTF-8 byte order equals
    code-point order for well-formed text, and Python ``str`` compares
    by code point — so non-ASCII ids orient identically (pinned by
    ``test_blas_pairs_non_ascii_ids``). Only ill-formed data (lone
    surrogates smuggled through a decoder) could diverge.
    """
    import numpy as np
    import pandas as pd

    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    if block_rows < 1:
        raise ValueError(f"block_rows must be >= 1, got {block_rows}")
    id_type = df.schema[id_col].dataType.simpleString()
    x = _probe_exploded_guarded(
        df,
        centroids,
        nprobe,
        id_col,
        vec_col,
        centroid_id_col,
        centroid_vec_col,
        max_bucket,
        "embedding_neardup_pairs_blas",
    )
    scale = 10.0 ** round_digits

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        empty = pdf[id_col].iloc[:0]
        if n < 2:
            return pd.DataFrame({"id_l": empty, "id_r": empty})
        pdf = pdf.sort_values(id_col, kind="mergesort")
        bkt = int(pdf["__b"].iloc[0])
        ids = pdf[id_col].to_numpy()
        mat = np.array(list(pdf["__v"]), dtype=np.float64)
        probe_sets = [frozenset(b) for b in pdf["__bs"]]
        norm = np.sqrt((mat * mat).sum(axis=1))
        out_l: list = []
        out_r: list = []
        for i0 in range(0, n, block_rows):
            i1 = min(i0 + block_rows, n)
            s_blk = (mat[i0:i1] @ mat.T) / np.outer(norm[i0:i1], norm)
            # HALF_UP at round_digits, matching F.round / the oracle
            r_blk = (
                np.copysign(np.floor(np.abs(s_blk) * scale + 0.5), s_blk)
                / scale
            )
            # ids are sorted, so id_l < id_r == column index > row index
            bi, cj = np.nonzero(r_blk >= threshold)
            keep = cj > (bi + i0)
            for gi, j in zip((bi[keep] + i0), cj[keep]):
                shared = probe_sets[gi] & probe_sets[j]
                if min(shared) == bkt:  # first-shared-bucket dedup
                    out_l.append(ids[gi])
                    out_r.append(ids[j])
        return pd.DataFrame(
            {
                "id_l": pd.Series(out_l, dtype=empty.dtype),
                "id_r": pd.Series(out_r, dtype=empty.dtype),
            }
        )

    return x.groupBy("__b").applyInPandas(
        score, f"id_l {id_type}, id_r {id_type}"
    )


def kmeans_seeds_farthest(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic farthest-point seeding (the k-means++ idea without
    RNG): seed 0 is the smallest-id row; each next seed is the corpus
    row LEAST similar to its nearest existing seed (ties by smallest
    id). Smallest-id seeding can pick k co-located vectors when ids
    correlate with content; farthest-point spreads seeds across the
    data's extent, and determinism survives re-runs and engines.

    Cost: k-1 rounds of one zero-shuffle assignment scan + a
    TakeOrdered(1) each — O(k) corpus scans, the standard price of
    farthest-point; the selected seed rows come back to the driver one
    at a time (k rows total). Returns a (centroid_id 0..k-1, centroid)
    frame ready for ``assign_centroids`` / ``kmeans_lloyd``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # materialise the input once before the k-round loop: each round
    # re-evaluates `df`, so an uncached upstream (join/agg/source scan)
    # would be recomputed k times — localCheckpoint makes every round
    # a scan of the materialised blocks and truncates lineage so the
    # loop's plan stays bounded; the seeds come back as a local table,
    # so the blocks are released on return
    with materialised(df.select(id_col, vec_col)) as df:
        return _farthest_seeds(df, k, id_col, vec_col)


def _farthest_seeds(df: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    first = (
        df.orderBy(id_col)
        .limit(1)
        .select(F.col(id_col), _to_double(F.col(vec_col)).alias("centroid"))
        .collect()
    )
    if not first:
        raise ValueError("kmeans_seeds_farthest: empty input")
    seed_rows = [(0, first[0]["centroid"])]
    seed_ids = {first[0][id_col]}
    spark = df.sparkSession
    for i in range(1, k):
        seeds = spark.createDataFrame(
            seed_rows, "centroid_id long, centroid array<double>"
        )
        cand = assign_centroids(
            df.filter(~F.col(id_col).isin(list(seed_ids))), seeds,
            id_col=id_col, vec_col=vec_col,
        )
        nxt = (
            cand.orderBy(
                F.col("centroid_score").asc(), F.col(id_col).asc()
            )
            .limit(1)
            .select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
            .collect()
        )
        if not nxt:  # fewer distinct rows than k
            break
        seed_rows.append((i, nxt[0]["v"]))
        seed_ids.add(nxt[0][id_col])
    return spark.createDataFrame(
        seed_rows, "centroid_id long, centroid array<double>"
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, TPAMI — public algorithm).
# The memory-compression scale path for embedding search: a 64-dim
# float32 vector (256 bytes) compresses to m_sub code bytes, so a
# 100 TB embedding corpus's searchable index fits in a fraction of the
# footprint, and asymmetric-distance (ADC) scoring costs O(m_sub) table
# lookups per candidate instead of O(dim) multiplies.
# ---------------------------------------------------------------------------


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 as a sequential left-fold — bit-identical to the
    oracle's ordered ``list_reduce`` (``0.0 + t1`` is exact, squares
    are non-negative)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _pq_collect_codebooks(
    codebooks: DataFrame, max_model: int, caller: str
) -> list:
    """Collect a (sub, code, codeword) table into ``cb[s][j] -> list``
    under a loud size guard; validates the grid is dense."""
    rows = codebooks.select("sub", "code", "codeword").limit(
        max_model + 1
    ).collect()
    if len(rows) > max_model:
        raise ValueError(
            f"{caller}: codebook exceeds max_model={max_model} rows"
        )
    if not rows:
        raise ValueError(f"{caller}: empty codebook")
    m = max(int(r["sub"]) for r in rows) + 1
    k = max(int(r["code"]) for r in rows) + 1
    cb: list = [[None] * k for _ in range(m)]
    for r in rows:
        cb[int(r["sub"])][int(r["code"])] = [float(x) for x in r["codeword"]]
    if any(cw is None for sub in cb for cw in sub):
        raise ValueError(f"{caller}: codebook grid has holes")
    return cb


def pq_train(
    df: DataFrame,
    m_sub: int = 4,
    k: int = 16,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    max_model: int = 1 << 16,
) -> DataFrame:
    """Train product-quantization codebooks: split each vector into
    ``m_sub`` subvectors and run Lloyd k-means with squared-L2
    assignment independently per subspace.

    Distributed shape: seeding collects the ``k`` smallest-id vectors
    (deterministic, no RNG); each round is ONE map-side assignment over
    the subvector explode (codebooks inlined as a literal — zero
    shuffle, the ``assign_centroids`` pattern) plus ONE shuffle keyed
    on (subspace, code, dim) whose output is the fixed-size model
    (``m_sub*k*sub_dim`` rows, loud-guarded), re-collected per round.
    Corpus size never appears in shuffle keys or collect sizes.

    ``exact=True`` uses an ORDERED-FOLD centroid update: per
    (subspace, code, dim) the member values are sorted by ``id_col``
    and summed as a sequential double left-fold, so codebooks are
    bit-identical across engines AND partition layouts by
    construction. (A decimal(30,15) sum — ``kmeans_lloyd``'s exact
    mode — is partition-order-independent but NOT cross-engine exact:
    Spark's double→decimal cast rounds HALF_UP while DuckDB's
    truncates, so last-decimal-digit drift flips the final double's
    low bit; k-means assignment output absorbs that, PQ's distance
    output does not.) The fold buffers one group's members via
    collect_list — fine for verification runs; production keeps the
    default ``avg``. Empty clusters keep their previous codeword (the
    oracle mirrors with COALESCE).

    Returns a codebook DataFrame ``(sub, code, codeword)``.
    """
    if m_sub < 1 or k < 1 or n_iter < 0:
        raise ValueError(f"bad PQ shape m_sub={m_sub} k={k} n_iter={n_iter}")
    probe = df.select(
        F.size(_to_double(F.col(vec_col))).alias("d")
    ).limit(1).collect()
    if not probe:
        raise ValueError("pq_train: empty input")
    dim = int(probe[0]["d"])
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    d = dim // m_sub
    if m_sub * k * d > max_model:
        raise ValueError(
            f"pq_train: model size {m_sub * k * d} exceeds "
            f"max_model={max_model}"
        )

    seed_rows = (
        df.orderBy(id_col)
        .limit(k)
        .select(_to_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"pq_train: need >= k={k} rows, got {len(seed_rows)}")
    cb = [
        [[float(x) for x in r["v"][s * d : (s + 1) * d]] for r in seed_rows]
        for s in range(m_sub)
    ]

    v = _to_double(F.col(vec_col))
    subrows = df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("__s"),
        v.alias("__v"),
    ).select(
        id_col,
        "__s",
        F.slice("__v", F.col("__s") * d + 1, F.lit(d)).alias("__x"),
    )
    for _ in range(n_iter):
        cb_lit = F.lit(cb)
        scores = F.transform(
            F.element_at(cb_lit, F.col("__s") + 1),
            lambda cw: _sq_l2(F.col("__x"), cw),
        )
        code = (F.array_position(scores, F.array_min(scores)) - 1).cast("long")
        assigned = subrows.select(
            F.col(id_col), "__s", code.alias("__code"), "__x"
        )
        dims = assigned.select(
            F.col(id_col),
            "__s",
            "__code",
            F.posexplode("__x").alias("__dim", "__val"),
        )
        if exact:
            mean_expr = (
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col(id_col).alias("i"),
                                    F.col("__val").alias("x"),
                                )
                            )
                        ),
                        lambda st: st.x,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count(F.lit(1))
            ).alias("__m")
        else:
            mean_expr = F.avg("__val").alias("__m")
        model_rows = (
            # small by construction: m_sub * k * dim model cells
            dims.groupBy("__s", "__code", "__dim").agg(mean_expr).collect()
        )
        nxt = [[list(cw) for cw in sub] for sub in cb]
        for r in model_rows:
            nxt[int(r["__s"])][int(r["__code"])][int(r["__dim"])] = float(
                r["__m"]
            )
        cb = nxt

    spark = df.sparkSession
    return spark.createDataFrame(
        [(s, j, cb[s][j]) for s in range(m_sub) for j in range(k)],
        "sub long, code long, codeword array<double>",
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_model: int = 1 << 16,
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the squared-L2-nearest
    codeword index (first index on exact ties — total and
    deterministic). Codebooks inline as one nested literal, so the
    whole operator is a zero-shuffle map-side expression that fuses
    into the scan. Adds ``pq_codes array<int>`` (m_sub entries)."""
    cb = _pq_collect_codebooks(codebooks, max_model, "pq_encode")
    m, d = len(cb), len(cb[0][0])
    cb_lit = F.lit(cb)
    v = _to_double(F.col(vec_col))
    # two nested transforms: the inner builds each subspace's k-score
    # array ONCE, the outer argmins over it as a BOUND lambda variable
    # — referencing `scores` twice inside array_position/array_min is
    # free because lambda variables are evaluated once, whereas
    # repeating the transform expression would double the O(k*d)
    # squared-L2 work per row (Catalyst does not CSE HOF trees)
    all_scores = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.element_at(cb_lit, s + 1),
            lambda cw: _sq_l2(F.slice(v, s * d + 1, F.lit(d)), cw),
        ),
    )
    codes = F.transform(
        all_scores,
        lambda scores: (
            F.array_position(scores, F.array_min(scores)) - 1
        ).cast("int"),
    )
    return df.select("*", codes.alias("pq_codes"))


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: DataFrame,
    topk: int = 10,
    id_col: str = "vec_id",
    query_id_col: str | None = None,
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
    max_queries: int = 10_000,
    max_model: int = 1 << 16,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: each query precomputes
    its (m_sub × k) lookup table of squared-L2 distances to every
    codeword ONCE — the LUT projection sits under the
    BroadcastExchange, so it is evaluated per query at broadcast build,
    not per candidate pair — then every candidate scores in O(m_sub)
    array lookups (a sequential fold over subspaces, so distances are
    bit-identical to the oracle's ordered reduce). Ranking is the same
    per-query window every ANN gate here uses; ties break by id.

    The corpus side touches only ``(id, pq_codes)`` — the compressed
    index, ~m_sub bytes per vector instead of the raw embedding — which
    is the whole point of PQ at 100 TB."""
    if topk < 1:
        raise ValueError(f"topk must be >= 1, got {topk}")
    qid = query_id_col or id_col
    if queries.limit(max_queries + 1).count() > max_queries:
        raise ValueError(
            f"pq_adc_topk: query side exceeds max_queries={max_queries}; "
            "it must be the small (broadcast) side"
        )
    cb = _pq_collect_codebooks(codebooks, max_model, "pq_adc_topk")
    m, d = len(cb), len(cb[0][0])
    cb_lit = F.lit(cb)
    qv = _to_double(F.col(vec_col))
    lut = F.transform(
        cb_lit,
        lambda sub_cb, s: F.transform(
            sub_cb, lambda cw: _sq_l2(F.slice(qv, s * d + 1, F.lit(d)), cw)
        ),
    )
    qdf = queries.select(F.col(qid).alias("query_id"), lut.alias("__lut"))
    pairs = encoded.select(F.col(id_col), F.col(codes_col)).crossJoin(
        broadcast(qdf)
    )
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at("__lut", (s + 1).cast("int")),
            F.element_at(F.col(codes_col), (s + 1).cast("int")) + 1,
        ),
    )
    win = Window.partitionBy("query_id").orderBy(
        F.asc("__adc"), F.asc(id_col)
    )
    return (
        pairs.withColumn("__adc", dist)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            id_col,
            F.col("__adc").alias("adc_dist"),
            "rank",
        )
    )
