"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
* exact dedup is a hash-groupBy — one shuffle on the fingerprint;
* MinHash/SimHash signatures are computed per-row with JVM higher-order
  functions (no Python, no shuffle);
* candidate generation is banded LSH: explode (doc, band) rows, ONE
  groupBy on the bucket key, and in-bucket pair expansion — only
  genuinely colliding docs ever meet. A full pairwise compare never
  happens; pathological buckets route through a size-gated join path.
* every step is deterministic (seeded affine hash family over a shared
  md5-based base hash) so a SQL oracle can verify signatures exactly.

Base hash: ``int(md5(token)[:15], 16)`` — 60 bits, identical in any
engine with md5 (Spark ``conv(substring(md5(x),1,15),16,10)``, DuckDB
list_reduce over hex digits). Affine family: h_i = (a_i * (h mod P) +
b_i) mod P with P = 2^31 - 1 (Mersenne), keeping every intermediate
< 2^62 so 64-bit signed arithmetic never overflows in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from .. import store
from ..store import pins, rolling_checkpoint
from .text import fingerprint, tokens

MERSENNE_P = 2_147_483_647  # 2^31 - 1


def hash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic affine coefficients (a odd, non-zero; b) for k hashes.
    Fixed linear-congruential derivation — NOT random at call time, so
    Spark and the SQL oracle agree by construction."""
    params = []
    a, b = 1_103_515_245, 12_345
    x = 42
    for _ in range(k):
        x = (a * x + b) % MERSENNE_P
        ai = (x | 1) % MERSENNE_P or 1
        x = (a * x + b) % MERSENNE_P
        bi = x % MERSENNE_P
        params.append((ai, bi))
    return params


def md5_prefix_long(col: Column) -> Column:
    """60-bit integer from the first 15 hex chars of md5 — the shared
    cross-engine base hash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact near-identity dedup on the normalised fingerprint: one row
    per distinct content with the representative (min id) and the
    duplicate count."""
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(
            F.min(F.col(id_col)).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _shingles(text_col: str) -> Column:
    """Distinct non-empty word shingles of ``text_col``: the set every
    MinHash signature is hashed from and every exact-Jaccard verify
    intersects."""
    # drop empty-string tokens: split("", " ") yields [""], which would
    # give empty/whitespace-only docs a real signature built from the
    # '' token — they would then all collide as spurious 'near-dups'.
    # With '' removed their hash set is empty and the signature is NULL
    # (array_min([]) / size-guard), which the pair generators drop.
    return F.filter(F.array_distinct(tokens(text_col)), lambda t: t != F.lit(""))


def _jaccard(a: str, b: str) -> Column:
    """Exact Jaccard of the distinct-element array columns ``a`` and
    ``b``: |a ∩ b| / (|a| + |b| - |a ∩ b|)."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter).cast("double")


def _token_hashes(text_col: str, base_hash: str = "md5") -> Column:
    """Distinct word-shingle base hashes, reduced mod P.

    ``base_hash="md5"`` is the cross-engine default (a SQL oracle can
    reproduce it exactly); ``"xxhash64"`` is the production fast path —
    Spark's native non-cryptographic hash, one codegen'd long op per
    token versus md5's hex round-trip (digest → hex string → conv).
    Signatures differ between the two families, but any MinHash theory
    guarantee (collision prob = Jaccard) holds identically for either.
    """
    toks = _shingles(text_col)
    if base_hash == "xxhash64":
        # xxhash64 is signed 64-bit: pmod keeps the residue non-negative
        return F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(MERSENNE_P)))
    if base_hash != "md5":
        raise ValueError(f"base_hash must be 'md5' or 'xxhash64', got {base_hash!r}")
    return F.transform(toks, lambda t: md5_prefix_long(t) % MERSENNE_P)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    base_hash: str = "md5",
) -> DataFrame:
    """k-wide MinHash signature columns mh0..mh{k-1} over distinct word
    shingles. Pure expression work — scales embarrassingly.

    ``base_hash="xxhash64"`` swaps the md5 base hash for Spark's native
    xxhash64 (~the dominant cost of signature computation at corpus
    scale); keep the md5 default where a SQL oracle must replay the
    exact signatures."""
    from ..operators.util import spread

    hashes = _token_hashes(text_col, base_hash)
    # map-only plan: signature work inherits the SCAN layout, so a
    # low-partition local scan would hash on a handful of cores;
    # spread() is a no-op at real file counts
    df = spread(df).withColumn("__th", hashes)
    cols = {}
    for i, (a, b) in enumerate(hash_params(k)):
        cols[f"mh{i}"] = F.array_min(
            F.transform(F.col("__th"), lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE_P)
        )
    return df.withColumns(cols).drop("__th")


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banded LSH over a minhash_signatures frame: docs sharing any band
    become a candidate pair (id_a < id_b, distinct).

    Shuffle profile: one explode (bands rows per doc), one bucket-count
    window, then per bucket size:

    * buckets <= ``max_bucket`` (the overwhelming majority): pairs expand
      inside the bucket via posexplode + slice — streamed row-at-a-time,
      never materialising an O(n^2) array, and the groupBy reuses the
      window's exchange (no extra shuffle);
    * giant buckets (> ``max_bucket``): a conventional equi-join on the
      bucket key, restricted to those buckets, where AQE's skew-join
      splitting applies — a single collect_list task would OOM there.

    Docs with no shingles (null signature — empty/stop-word-only text)
    are dropped up front: every such doc would otherwise collide into one
    degenerate '' bucket in every band, and minhash similarity is
    undefined for an empty set anyway.
    """
    return _bucket_pairs(_band_rows(sigs, id_col, id_col, k, bands), id_col, max_bucket)


def _band_rows(
    sigs: DataFrame,
    id_col: str,
    out_id: str,
    k: int,
    bands: int,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Explode a MinHash signature table into LSH band rows
    ``(out_id, *keep, band, sig)``, band ``b``'s sig joining its
    ``k // bands`` minhash columns with ``_`` — the one banding of the
    pair generator, the band index and its pruned read, and the batch
    and stream probes (``keep`` carries the stream probe's token array
    through the explode). Empty-token docs (NULL ``mh0``) emit no rows.
    Raises before any Spark job runs unless ``k`` is a positive
    multiple of ``bands``."""
    if bands < 1 or k % bands:
        raise ValueError(
            f"k={k} must be a positive multiple of bands={bands} "
            "(bands > k would make every band signature empty — the "
            "whole corpus in ONE bucket, an all-pairs join; k % bands "
            "would silently ignore the trailing minhash columns)"
        )
    rows = k // bands
    cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *[F.col(f"mh{i}") for i in range(b * rows, (b + 1) * rows)])
            .alias("sig"),
        )
        for b in range(bands)
    ]
    return (
        sigs.filter(F.col("mh0").isNotNull())
        .select(F.col(id_col).alias(out_id), *keep, F.explode(F.array(*cols)).alias("b"))
        .select(out_id, *keep, F.col("b.band").alias("band"), F.col("b.sig").alias("sig"))
    )


def _banded_pairs(
    exploded: DataFrame, id_col: str, max_bucket: int
) -> DataFrame:
    """(band, id_a, id_b) candidates of rows sharing a (band, sig)
    bucket — the shared expansion core for every banded-LSH family
    (MinHash bands, SimHash bit chunks). Within ONE band each row sits
    in exactly one bucket, so a pair appears at most once per band;
    cross-band duplicates are the caller's to resolve (``_bucket_pairs``
    distincts; ``simhash_candidate_pairs`` keeps only the first shared
    band, which needs the band carried through — hence this split).
    See ``lsh_candidate_pairs`` for the small/giant routing rationale."""
    counted = exploded.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("band", "sig"))
    )

    small = (
        counted.filter(F.col("__n") <= max_bucket)
        .groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # Spread the quadratic in-bucket expansion explicitly: the pair
    # blow-up happens AFTER this exchange, so AQE — which sizes stages
    # by their INPUT bytes — would coalesce the tiny bucket-list rows
    # into one or two tasks and serialize the expansion (observed 2
    # tasks for a 2.2M-pair simhash expansion at sf0.1). One linear
    # round-robin shuffle of the id arrays buys even expansion
    # parallelism at every scale.
    small = small.repartition(
        exploded.sparkSession.sparkContext.defaultParallelism
    )
    small_pairs = small.select(
        "band", "ids", F.posexplode("ids").alias("__i", "id_a")
    ).select(
        "band",
        "id_a",
        F.explode(
            F.slice("ids", F.col("__i") + F.lit(2), F.size("ids"))
        ).alias("id_b"),
    )

    giant = counted.filter(F.col("__n") > max_bucket)
    left, right = giant.alias("l"), giant.alias("r")
    giant_pairs = left.join(
        right,
        on=[
            F.col("l.band") == F.col("r.band"),
            F.col("l.sig") == F.col("r.sig"),
            F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
        ],
    ).select(
        F.col("l.band").alias("band"),
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
    )

    return small_pairs.unionByName(giant_pairs)


def _bucket_pairs(exploded: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """Distinct (id_a, id_b) pairs of rows sharing any (band, sig)
    bucket — ``_banded_pairs`` with cross-band dedup by ``distinct``."""
    return (
        _banded_pairs(exploded, id_col, max_bucket)
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(
    df: DataFrame, text_col: str = "text", out: str = "simhash", bits: int = 32
) -> DataFrame:
    """SimHash over distinct word shingles: bit j is 1 iff the sum of
    (2*bit_j(h)-1) over token hashes is positive. 32-bit by default —
    enough for word-level near-dup at corpus scale, and safely inside
    64-bit signed arithmetic for the oracle.

    An empty/null shingle set yields a NULL signature (similarity of an
    empty set is undefined; a 0 signature would make every empty doc a
    hamming-0 'near-dup' of every other) — ``simhash_candidate_pairs``
    drops those rows."""
    from ..operators.util import spread

    # bits x |shingles| vote folds per row on a map-only plan — spread
    # off the scan layout (no-op when the scan is already wide)
    df = spread(df).withColumn("__th", _token_hashes(text_col))
    acc = F.lit(0).cast("long")
    for j in range(bits):
        vote = F.aggregate(
            F.col("__th"),
            F.lit(0).cast("long"),
            lambda a, h: a + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1),
        )
        acc = acc + F.when(vote > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0))
    sig = F.when(F.size("__th") > 0, acc)
    return df.withColumn(out, sig).drop("__th")


def simhash_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup candidates over a ``simhash`` frame: band the signature
    into ``bands`` contiguous bit chunks, bucket-join docs sharing any
    chunk, then keep pairs with Hamming distance <= ``max_hamming``.

    Pigeonhole guarantee: a pair differing in fewer than ``bands`` bits
    must agree on at least one whole chunk, so with the default
    max_hamming = bands - 1 recall is EXACT (no candidate is missed) —
    unlike MinHash LSH this banding has no probabilistic miss. Shuffle
    profile matches ``lsh_candidate_pairs``: one explode, one bucket
    window/groupBy, size-gated giant buckets; the final Hamming filter
    is two shuffle equi-joins of the candidate pairs against the
    signature frame keyed by id (well-distributed, AQE-handled), then a
    codegen'd xor/bit_count per candidate.

    Null signatures (empty/stop-word-only docs — ``simhash`` yields
    null for an empty shingle set) are dropped up front: every such doc
    would otherwise collide into one degenerate bucket per band, same
    rationale as ``lsh_candidate_pairs``.

    Cross-band dedup is the FIRST-SHARED-BAND rule, not a ``distinct``:
    a pair colliding in several bands survives only from its earliest
    colliding band, decided by comparing the two signatures' earlier
    chunks — pure codegen'd bit ops on rows the hamming join already
    produced. This removes the full shuffle of the multi-band candidate
    stream (the pair blow-up is the dominant volume in this operator;
    at sf0.1 it is 11M candidate rows for a 5k corpus).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) for the "
            "pigeonhole recall guarantee; raise bands instead"
        )
    # Materialise the (id, signature) projection ONCE: it feeds three
    # consumers (the band explode and both sides of the hamming join),
    # and without a checkpoint each would recompute the full signature
    # scan — the token hashing + bit votes dominate this operator's
    # cost. The materialised rows are linear and tiny (id + 64-bit sig);
    # the next call releases them (rolling).
    sigs = rolling_checkpoint(
        sigs.filter(F.col(sim_col).isNotNull()).select(F.col(id_col), F.col(sim_col)),
        "simhash_candidate_pairs",
    )
    width = bits // bands
    mask = (1 << width) - 1
    chunks = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col(sim_col), b * width)
            .bitwiseAND(F.lit(mask))
            .cast("string")
            .alias("sig"),
        )
        for b in range(bands)
    ]
    exploded = sigs.select(
        F.col(id_col), F.explode(F.array(*chunks)).alias("b")
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.sig").alias("sig"))
    pairs = _banded_pairs(exploded, id_col, max_bucket)

    hashes = sigs.select(F.col(id_col), F.col(sim_col))
    ha = hashes.select(
        F.col(id_col).alias("id_a"), F.col(sim_col).alias("__ha")
    )
    hb = hashes.select(
        F.col(id_col).alias("id_b"), F.col(sim_col).alias("__hb")
    )
    hamming = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))

    def _chunk(col: Column, j: int) -> Column:
        return F.shiftright(col, j * width).bitwiseAND(F.lit(mask))

    # collided in some band earlier than the one this candidate came
    # from? then that earlier band already emitted the pair — drop it
    collided_before = F.lit(False)
    prior = F.lit(False)
    for j in range(bands - 1):
        prior = prior | (
            _chunk(F.col("__ha"), j) == _chunk(F.col("__hb"), j)
        )
        collided_before = F.when(
            F.col("band") == j + 1, prior
        ).otherwise(collided_before)

    return (
        pairs.join(ha, on="id_a")
        .join(hb, on="id_b")
        .filter(~collided_before)
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    threshold: float = 0.5,
    max_block: int | None = 100_000,
) -> DataFrame:
    """Blocked pairwise word-set Jaccard. Emits (id_a, id_b, jaccard).
    EXACT — candidate generation never drops a qualifying pair; only
    the verified-true pairs are returned.

    PPJoin-style prefix filtering (Bayardo WWW'07 / Vernica SIGMOD'10,
    the standard distributed exact set-similarity join). Tokens get a
    global rarity order (one corpus-wide frequency aggregate); each doc
    keeps only its ``|d| - ceil(t*|d|) + 1`` RAREST tokens as its
    prefix (if two sets share no prefix token, their overlap is
    < t*|union|, so Jaccard < t — no false negatives); candidates form
    by equi-join on (block, prefix-token) with the |b| in
    [ceil(t*|a|), floor(|a|/t)] length filter, then exact Jaccard
    verification on the full arrays. Every stage is linear in corpus
    size except pair verification, which is linear in CANDIDATES —
    bounded by prefix-token co-occurrence (rare tokens), not by block
    cardinality. This is what survives a block with millions of docs,
    where any length-band scheme is still quadratic per cell.

    ``max_block`` is a loud guard, not a silent cap: if any prefix-token
    posting list exceeds it the operator raises (one cheap aggregate
    action — far cheaper than the quadratic join it prevents) and names
    the offenders; route such corpora through the LSH path.
    """
    from ..operators.util import spread

    # spread the RAW rows first so tokenise + array_distinct run on
    # the wide layout (a spread placed after the projection would run
    # the tokenise on the scan's map side); the token arrays also feed
    # the exact-verify sides downstream. No-op at real file counts.
    sized = (
        spread(
            df.select(
                F.col(id_col), *[F.col(c) for c in block_cols], F.col(text_col)
            )
        )
        .select(
            F.col(id_col),
            *[F.col(c) for c in block_cols],
            F.array_distinct(tokens(text_col)).alias("toks"),
        )
        .select("*", F.size("toks").alias("__sz"))
        .filter(F.col("__sz") > 0)
    )
    # prefix length p = sz - ceil(t*sz) + 1: if two sets share no
    # prefix token under a TOTAL global order, every common token sits
    # in both suffixes, so overlap <= ceil(t*sz)-1 < t*sz <= t*|union|
    p_len = (
        F.col("__sz") - F.ceil(F.col("__sz") * F.lit(threshold)) + 1
    ).cast("int")
    exploded = sized.select(
        F.col(id_col), *block_cols, "__sz", p_len.alias("__p"),
        F.explode("toks").alias("__tok"),
    )
    freq = (
        exploded.groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__freq"))
    )
    ranked = exploded.join(freq, "__tok").withColumn(
        "__rank",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy("__freq", "__tok")
        ),
    )
    prefix = ranked.filter(F.col("__rank") <= F.col("__p")).select(
        *block_cols, "__tok", F.col(id_col), "__sz"
    )
    if max_block is not None:
        oversized = (
            prefix.groupBy(*block_cols, "__tok")
            .count()
            .filter(F.col("count") > max_block)
            .limit(5)
            .collect()
        )
        if oversized:
            raise RuntimeError(
                "ngram_jaccard_pairs: posting list(s) over "
                f"max_block={max_block}: {[r.asDict() for r in oversized]}; "
                "use lsh_candidate_pairs for corpora with shared-prefix "
                "hubs this size"
            )
    a, b = prefix.alias("a"), prefix.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    cond += [
        F.col("a.__tok") == F.col("b.__tok"),
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        # J >= t forces t*|a| <= |b| <= |a|/t
        F.col("b.__sz") * F.lit(threshold) <= F.col("a.__sz"),
        F.col("a.__sz") * F.lit(threshold) <= F.col("b.__sz"),
    ]
    cand = (
        a.join(b, on=cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    arrays = sized.select(F.col(id_col), "toks")
    la = arrays.select(
        F.col(id_col).alias("id_a"), F.col("toks").alias("__ta")
    )
    lb = arrays.select(
        F.col(id_col).alias("id_b"), F.col("toks").alias("__tb")
    )
    return (
        cand.join(la, "id_a")
        .join(lb, "id_b")
        .select("id_a", "id_b", _jaccard("__ta", "__tb").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve candidate pairs into connected components: every doc maps
    to its component's minimum id (``canonical_id``) — the drop list for
    near-dup removal is then ``doc_id != canonical_id``.

    Iterative min-label propagation: each round is one join + one
    aggregation (two shuffles), and labels converge in O(component
    diameter) rounds — LSH components are unions of bucket-cliques, so
    diameters are small. ``localCheckpoint`` truncates the lineage each
    round (an unbounded iterative plan would otherwise grow per round and
    re-execute from the scan on every action). The fixpoint is unique
    regardless of iteration order, so the result is engine-independent
    (the oracle computes the same closure with a recursive CTE — note
    the CTE is gate-scale only: at ~2M edges its working set explodes
    while this operator resolves the same graph in seconds; measured at
    sf0.1, 1.94M pairs -> 16s here vs >25min for the SQL closure).

    Checkpoint lifecycle: the resolve runs in one ``store.pins`` scope
    owned by ``dedup_components``. Each checkpoint is released once its
    last consumer has run, so a round holds one label table; the two
    the RETURNED lazy frame reads (initial and fixpoint labels) stay
    pinned until the next ``dedup_components`` call on the same
    SparkContext releases them (finish consuming one result before the
    next call), and an error releases every pin the call took.
    """
    # Drop pairs touching ids absent from `ids` (a stale/broader pair
    # list): a foreign endpoint could otherwise win a min-label race and
    # become the canonical_id of real docs — every doc paired with it
    # would then land on the drop list with no surviving representative.
    sc = pairs.sparkSession.sparkContext
    id_set = ids.select(F.col(id_col).alias("__id"))
    with pins("dedup_components") as pin:
        # Materialise the UNDIRECTED pair list once, evenly spread (the
        # repartition matters: with broadcast labels the passes inherit
        # this frame's partitioning, and an AQE-coalesced layout would
        # serialize them onto one task). The BIDIRECTIONAL edge view is
        # never checkpointed — it streams out of these blocks for exactly
        # two passes (initial label aggregate, contraction map) and the
        # iteration then runs on the CONTRACTED graph only. At 10x scale
        # the old 2x-pairs edge checkpoint was a third of the resolve.
        kept = pin(
            pairs.select("id_a", "id_b")
            .join(id_set, F.col("id_a") == F.col("__id"), "left_semi")
            .join(id_set, F.col("id_b") == F.col("__id"), "left_semi")
            .repartition(sc.defaultParallelism)
        )
        fwd = kept.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        rev = kept.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        edges = fwd.unionByName(rev)

        # Iterate ONLY over nodes that appear in an edge: a doc with no
        # candidate pair is its own canonical id by definition and must not
        # pay per-round join cost. At corpus scale the edge-node set is a
        # small fraction of |ids| (near-dup candidates are rare), so this
        # shrinks every round's working set from |corpus| to |candidates|.
        # Initial label = min(node, min direct neighbour): this IS the
        # first propagation round, fused into initialisation for free (one
        # aggregation replaces a full round's join + checkpoint + count).
        # Pinned past the call: the returned frame composes through these
        # labels.
        labels = pin(
            edges.groupBy("src")
            .agg(F.min("dst").alias("__mn"))
            .select(
                F.col("src").alias("node"),
                F.least(F.col("src"), F.col("__mn")).alias("label"),
            )
        )

        # When the edge-node set is modest, broadcast the label table into
        # the per-round join: the edge list — the big side — then never
        # shuffles (the checkpointed LogicalRDD has no stats, so the
        # optimizer would otherwise plan three full-edge exchanges EVERY
        # round). The count is already materialised by the eager
        # checkpoint. Above the cap (label row ~16 bytes; 2M nodes ~ 32 MB
        # broadcast) fall back to shuffle joins, which are the right plan
        # when candidates are that dense.
        n_nodes = labels.count()
        bcast = n_nodes <= 2_000_000

        # CONTRACT the graph through the initial labels before iterating:
        # the fused first round (min of node and direct neighbours) already
        # collapses every LSH bucket-clique onto its minimum, so mapping
        # each edge endpoint to its label and dropping self-loops +
        # duplicates shrinks the edge list from |candidate pairs| to
        # |cross-clique links|. Near-dup graphs are unions of bucket
        # cliques by construction, so this is typically a 10-1000x edge
        # reduction — every subsequent round then joins/aggregates the
        # CONTRACTED edges, not the full pair list (measured at 10x scale:
        # the per-round agg over 41M edge rows was the whole cost of the
        # resolve). Components are preserved: l(v) is a node of v's own
        # component, and the final per-node answer composes through l
        # (node -> l(node) -> fixpoint label of l(node)).
        node_to_init = labels.select(
            F.col("node").alias("__n"), F.col("label").alias("__l")
        )
        lm_a = F.broadcast(node_to_init) if bcast else node_to_init
        # map the UNDIRECTED pairs (half the rows of the edge view),
        # normalise each contracted pair to (min, max) so distinct halves
        # its input again, then symmetrise the (tiny) result for the loop
        cpair = (
            kept.join(lm_a, F.col("id_a") == F.col("__n"))
            .select(F.col("__l").alias("la"), "id_b")
            .join(
                lm_a.select(
                    F.col("__n").alias("__n2"), F.col("__l").alias("__l2")
                ),
                F.col("id_b") == F.col("__n2"),
            )
            .select(
                F.least(F.col("la"), F.col("__l2")).alias("src"),
                F.greatest(F.col("la"), F.col("__l2")).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        edges = pin(
            cpair.unionByName(
                cpair.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            ).repartition(sc.defaultParallelism)
        )
        round_labels = pin(
            edges.groupBy("src")
            .agg(F.min("dst").alias("__mn"))
            .select(
                F.col("src").alias("node"),
                F.least(F.col("src"), F.col("__mn")).alias("label"),
            )
        )
        # the undirected pair list has now fed its last consumers (the
        # contracted edges and the initial labels): release it before the
        # loop instead of pinning |pairs| rows for the session lifetime
        pin.release(kept)
        full_labels, labels = labels, round_labels
        bcast = labels.count() <= 2_000_000

        changed = -1
        for _ in range(max_iter):
            lbl = F.broadcast(labels) if bcast else labels
            nbr = (
                edges.join(lbl, edges.dst == lbl["node"])
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            # One propagate + a SQUARED pointer-jump per round: the jump
            # table is the previous round's labels composed with themselves
            # (node -> label-of-label, a label-sized self-join — tiny, no
            # broadcast needed for its build), so ONE lookup resolves two
            # hops and only one label-table broadcast ships per round.
            # Labels are monotone (label <= node, updates only decrease),
            # so min(p, jump_sq[p]) equals the sequential two-hop chain.
            # Chain compression makes convergence ~log(diameter) rounds
            # instead of diameter; round cost is dominated by fixed per-job
            # overhead (checkpoint + count), so fewer rounds is the lever
            # that matters.
            j_a = labels.select(
                F.col("node").alias("__jn"), F.col("label").alias("__l1")
            )
            j_b = labels.select(
                F.col("node").alias("__kn"), F.col("label").alias("__l2")
            )
            jump_sq = j_a.join(
                j_b, j_a["__l1"] == F.col("__kn"), "left"
            ).select(
                "__jn",
                F.least(
                    F.col("__l1"), F.coalesce("__l2", "__l1")
                ).alias("__jl"),
            )
            jmp = F.broadcast(jump_sq) if bcast else jump_sq
            prop = (
                labels.join(nbr, labels.node == nbr.src, "left")
                .select(
                    "node",
                    F.col("label").alias("__orig"),
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", "label")
                    ).alias("__p"),
                )
            )
            final = F.least(F.col("__p"), F.coalesce("__jl", "__p"))
            new = pin(
                prop.join(jmp, prop["__p"] == F.col("__jn"), "left").select(
                    "node",
                    final.alias("label"),
                    # convergence flag computed inside the same projection —
                    # no extra join per round just to count moved labels
                    (final < F.col("__orig")).alias("moved"),
                )
            )
            changed = new.filter("moved").count()
            # the previous round's label blocks fed this round's propagate
            # and are now dead — rolling release keeps ONE label table
            # pinned, not max_iter of them
            pin.release(round_labels)
            round_labels = new
            labels = new.drop("moved")
            if changed == 0:
                break
        if changed != 0:
            # returning intermediate labels would silently split
            # components; fail loudly instead (diameter > max_iter is a
            # data signal)
            raise RuntimeError(
                f"dedup_components did not converge in {max_iter} "
                f"iterations ({changed} labels still moving); raise "
                "max_iter for long-chain components"
            )
        # the contracted edge list has no consumer past the loop — the
        # returned frame composes full_labels with the fixpoint labels only
        pin.release(edges)

    # compose node -> initial label -> contracted-graph fixpoint (a
    # super-node with no contracted edge keeps its own id via the
    # left-join coalesce)
    fixpoint = labels.select(
        F.col("node").alias("__fl"), F.col("label").alias("__fx")
    )
    fx = F.broadcast(fixpoint) if bcast else fixpoint
    resolved = (
        full_labels.join(fx, full_labels.label == F.col("__fl"), "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("__fx", "label").alias("canonical_id"),
        )
    )
    # isolated docs (no candidate pair) re-join as their own canonical
    # id — one join at the end instead of |corpus| rows in every round
    return ids.select(id_col).join(resolved, on=id_col, how="left").select(
        id_col,
        F.coalesce("canonical_id", id_col).alias("canonical_id"),
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the MassiveText /
    RefinedWeb "remove repeated passages" pass): split every document
    into paragraphs, fingerprint each (md5 of trimmed, lowercased text),
    and keep only the globally FIRST occurrence of each fingerprint —
    first by ``(id, pos)``, so the operator is deterministic and
    idempotent. Documents are reassembled in original paragraph order;
    docs whose every paragraph was seen earlier come back with empty
    text rather than vanishing, so the output is total over input docs.

    Returns ``(id, text, n_kept, n_removed)``.

    Scale: two shuffles — a window over the paragraph fingerprint
    (hash-partitioned on ``fp``, the key is high-cardinality by
    construction) and the reassembly groupBy on ``id``. No self-join,
    no pairwise expansion; a paragraph duplicated a million times costs
    one window partition of a million short rows, which AQE skew-split
    handles. The conditional ``collect_list(when(keep, ...))`` relies on
    collect_list skipping NULLs, avoiding a second pass to count the
    removed rows.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(
            # NULL text would split to NULL and posexplode ZERO rows,
            # silently dropping the doc — coalesce to "" so the
            # totality contract ("docs come back, never vanish") holds
            F.split(
                F.coalesce(F.col(text_col), F.lit("")),
                "\\Q" + para_sep + "\\E",
            )
        ).alias("pos", "para"),
    ).withColumn("fp", F.md5(F.trim(F.lower(F.col("para")))))

    w = Window.partitionBy("fp").orderBy(id_col, "pos")
    flagged = paras.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("int")
    )
    ordered = F.transform(
        F.sort_array(
            F.collect_list(
                F.when(F.col("keep") == 1, F.struct("pos", "para"))
            )
        ),
        lambda s: s.para,
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(ordered, para_sep).alias(text_col),
        F.sum("keep").cast("long").alias("n_kept"),
        F.sum(1 - F.col("keep")).cast("long").alias("n_removed"),
    )


def dedup_incremental(
    new_batch: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fp",
) -> DataFrame:
    """Incremental exact dedup for a continuously-growing corpus: drop
    new docs whose normalised fingerprint already exists in the
    historical fingerprint set, then keep-first WITHIN the batch (min id
    per fp). The daily-crawl-vs-corpus pass; the historical side is a
    fingerprint TABLE (one slim column), not the corpus itself.

    Returns the surviving rows plus their ``fp`` (append it to the
    fingerprint table to advance the corpus state — the operator stays
    pure, state lives with the caller).

    Shuffle profile: the anti-join hashes both sides on fp once (sort-
    merge at corpus scale — the fingerprint table is data-sized, NOT
    broadcastable); the intra-batch keep-first groupBy reuses the same
    key. No window over the corpus, no full-corpus rewrite.
    """
    fps = seen_fingerprints.select(F.col(fp_col).alias("__seen_fp"))
    batch = new_batch.withColumn("fp", fingerprint(text_col))
    fresh = batch.join(
        fps, batch["fp"] == F.col("__seen_fp"), "left_anti"
    )
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    base_hash: str = "md5",
) -> DataFrame:
    """Build the PERSISTED LSH band index over a corpus: one
    ``(id_col, band, sig)`` row per document per band — the index
    state ``minhash_probe_pairs(corpus_bands=...)`` probes and
    ``minhash_index_upsert`` maintains across crawl waves. At corpus
    scale this table is written once per release (bands x |docs| slim
    rows, partition/bucket by ``sig`` for the probe equi-join) and
    every daily batch probes + upserts it instead of re-deriving
    corpus signatures — the signature build is the probe pipeline's
    dominant term, so the index turns a corpus-sized pass into a
    batch-sized one. The ``k``/``bands``/``base_hash`` the index was
    built with are part of its identity: probes and upserts must use
    the same values (the rows cannot express them — keep them with the
    table's metadata)."""
    sigs = minhash_signatures(df, id_col, text_col, k, base_hash)
    return _band_rows(sigs, id_col, id_col, k, bands)


def minhash_index_upsert(
    index: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    base_hash: str = "md5",
) -> DataFrame:
    """Maintain a band index across crawl waves: REPLACE-by-document
    semantics (the ``merge_upsert_store`` rule on the band table) —
    every batch document's existing index rows drop, its fresh band
    rows append. The anti-join keys on ALL batch ids, not just ids
    with fresh rows, so a re-crawl that came back EMPTY (tokenless)
    correctly deletes the document from the index rather than leaving
    stale bands behind. Guarantees probe-after-upsert equals
    probe-against-rebuilt-from-scratch (gated: d14b).

    Shuffle shape: one anti-join of the index against the batch's
    DISTINCT ids (broadcast when the batch is delta-sized) plus the
    batch-sized signature build — the index is never re-derived.
    Returns the new index; persistence stays with the caller like the
    other pure operators here. NOTE: persisting this result means a
    CORPUS-SIZED write every wave — for persisted stores prefer
    ``band_index_upsert_write`` (wave-sized appends + tombstones,
    merge-on-read; MERGE INTO on Delta/Iceberg), which this pure
    operator remains the semantic reference for (gated: d14b vs
    d14c share the rebuilt-from-scratch oracle)."""
    if id_col not in index.columns or not {"band", "sig"} <= set(
        index.columns
    ):
        raise ValueError(
            f"minhash_index_upsert: index must carry ({id_col!r}, "
            f"'band', 'sig'), got {index.columns}"
        )
    batch_ids = batch.select(F.col(id_col)).distinct()
    kept = index.join(batch_ids, on=id_col, how="left_anti")
    fresh = minhash_band_index(batch, id_col, text_col, k, bands, base_hash)
    return kept.unionByName(fresh)


#: the persisted dedup stores are ``store.py`` bucketed stores: the
#: band index hashes on (band, sig), the fingerprint table on its fp column
_BAND_KEYS = ["band", "sig"]


def _band_identity(index: DataFrame, **family) -> dict:
    """Sidecar identity of a band-index store: the signature family
    (``k``/``bands``/``base_hash``) the caller names and the id column
    its rows carry."""
    extra = [c for c in index.columns if c not in _BAND_KEYS]
    return {
        "kind": "band_index",
        **({"id_col": extra[0]} if len(extra) == 1 else {}),
        **{key: val for key, val in family.items() if val is not None},
    }


def band_index_write(
    index: DataFrame,
    path: str,
    buckets: int | None = None,
    mode: str = "overwrite",
    k: int | None = None,
    bands: int | None = None,
    base_hash: str | None = None,
) -> None:
    """Persist a band index PARTITIONED by the (band, sig)-hash bucket —
    the production layout for ``minhash_band_index``'s output. At
    corpus scale the band table is data-sized and a daily probe batch
    is delta-sized: with this layout ``band_index_pruned`` turns the
    probe's corpus scan into a partition-pruned one. ``k``/``bands``/
    ``base_hash``, when passed, join the sidecar's store identity
    (``store.write_bucketed``). Rows carry the store's write epoch so
    ``band_index_upsert_write`` can advance the store with appends +
    tombstones instead of rewriting it."""
    store.write_bucketed(
        index,
        path,
        _BAND_KEYS,
        _band_identity(index, k=k, bands=bands, base_hash=base_hash),
        buckets,
        mode,
        "band_index_write",
        epochs=True,
    )


def band_index_read(spark: SparkSession, path: str) -> DataFrame:
    """Read a persisted band index back as the plain
    ``(id, band, sig)`` frame every band-index consumer expects (the
    partition bucket and write epoch are layout, not data; tombstones
    from ``band_index_upsert_write`` waves are applied — merge-on-read).
    Tolerates legacy unpartitioned stores."""
    return store.read_bucketed(spark, path)


def band_index_pruned(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    base_hash: str = "md5",
    buckets: int = 64,
) -> DataFrame:
    """PRUNED probe-side read of a ``band_index_write`` store: returns
    only the index partitions the batch's band rows can possibly match
    — pass the result as ``minhash_probe_pairs(corpus_bands=...)``.
    Lossless for the probe's (band, sig) equi-join
    (``store.read_bucketed``); ``k``/``bands``/``base_hash`` must match
    the writer's, and a sidecar ENFORCES that (mismatch raises) and
    supplies the ``buckets`` the prune uses (round-13 advice)."""
    sigs = minhash_signatures(batch, id_col, text_col, k, base_hash)
    return store.read_bucketed(
        spark,
        path,
        {"k": k, "bands": bands, "base_hash": base_hash, "buckets": buckets},
        _band_rows(sigs, id_col, id_col, k, bands).select(*_BAND_KEYS),
    )


def band_index_upsert_write(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    base_hash: str = "md5",
    buckets: int | None = None,
) -> None:
    """BATCH-SIZED band-index upsert (round-13 verdict item 1): advance
    a persisted ``band_index_write`` store by one crawl wave writing
    only wave-sized data — fresh band rows APPEND into their hash
    buckets stamped with the wave's epoch, and one delta-sized
    TOMBSTONE row per batch document records that the document's
    earlier-epoch rows are dead. Readers (``band_index_read``/
    ``band_index_pruned``) fold tombstones in at read time
    (merge-on-read), so probe-after-upsert still equals
    probe-against-rebuilt-from-scratch — same REPLACE-by-document
    semantics as ``minhash_index_upsert`` (an EMPTY re-crawl emits no
    band rows but does tombstone, deleting the doc), without that
    path's corpus-sized read-modify-overwrite. ``compact_dedup_store``
    folds accumulated tombstones back into the data files.

    Write cost per wave: one batch-sized signature build + append
    (<= touched buckets files) + one id-sized tombstone append — never
    proportional to the store. Reference frame: the reference's
    release-snapshot upsert model (db_etl_upload/uploader.py:320-325
    idempotent re-release semantics), re-expressed as parquet
    merge-on-read; on Delta/Iceberg this whole function is MERGE INTO.

    Ordering/crash contract (plain parquet has no transaction): the
    store's one write protocol (``store.write_bucketed``) records the
    wave's epoch in the sidecar, then appends the data rows, then the
    tombstones, so a crash between the last two leaves the store with
    BOTH crawls of a re-crawled doc visible — the probe over-generates
    candidates (all exact-verified downstream, recall never lost) until
    the wave is re-run: the re-run takes a later epoch, so its
    tombstones kill the crashed attempt's rows too. First write
    bootstraps the store; a legacy store without the epoch/meta sidecar
    raises — rewrite it with ``band_index_write`` once.

    ``streaming.ingest.index_upsert_batch`` is this function under its
    foreachBatch-sink name: pass a closure over it to
    ``stream_release_files`` for a live crawl-wave stream. After the
    last wave the store equals ``minhash_band_index`` rebuilt over each
    document's latest crawl, however the waves were sliced (gated by
    st8)."""
    fresh = minhash_band_index(batch, id_col, text_col, k, bands, base_hash)
    store.write_bucketed(
        fresh,
        path,
        _BAND_KEYS,
        _band_identity(fresh, k=k, bands=bands, base_hash=base_hash),
        buckets,
        "append",
        "band_index_upsert_write",
        batch.select(id_col).distinct(),
        epochs=True,
    )


def compact_dedup_store(
    spark: SparkSession,
    path: str,
    max_files_per_bucket: int = 4,
    incremental: bool = False,
    bucket_budget: int | None = None,
) -> dict:
    """Maintenance pass for the persisted dedup stores: ``store.compact``
    over the bucketed layout. An upserted band index folds every bucket
    (the full fold) or, under ``incremental``/``bucket_budget``, the
    dirtiest buckets: whole when over ``max_files_per_bucket`` files,
    else only their dead-row files. An append-only fp table merges the
    buckets over ``max_files_per_bucket`` files. Every shape appends
    the live rows and then deletes the files it read; returns the
    fold's report."""
    return store.compact(
        spark, path, max_files_per_bucket, incremental, bucket_budget
    )


def fp_store_write(
    fps: DataFrame,
    path: str,
    fp_col: str = "fp",
    buckets: int | None = None,
    mode: str = "append",
) -> None:
    """Persist (or append to) the exact-dedup fingerprint table
    PARTITIONED by the fp-hash bucket — the production layout for the
    ``dedup_incremental`` loop's state (``pipe21``). Append mode adds
    files inside the touched partition directories and never rewrites
    existing ones, so the daily state-advance stays batch-sized; after
    many waves fold the per-bucket small files with
    ``compact_dedup_store``; the recorded ``buckets`` governs appends
    (``store.write_bucketed``). SEED writes to a path that may hold
    residue from a prior or crashed run should pass ``mode='overwrite'``
    (or ``'error'``) — the append default is for the in-loop state
    advance, where silently absorbing leftover fingerprints over-drops
    downstream (round-13 advice)."""
    store.write_bucketed(
        fps,
        path,
        [fp_col],
        {"kind": "fp_store", "fp_col": fp_col},
        buckets,
        mode,
        "fp_store_write",
    )


def fp_store_pruned(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    fp_col: str = "fp",
    buckets: int = 64,
) -> DataFrame:
    """PRUNED read of a ``fp_store_write`` fingerprint table: returns
    only the partitions the batch's own fingerprints hash into — pass
    the result as ``dedup_incremental(seen_fingerprints=...)``.
    Lossless for the anti-join (``store.read_bucketed``); a sidecar
    supplies the ``buckets`` the prune uses and a mismatched ``fp_col``
    raises (round-13 advice). NOTE: the Bloom
    path's SKETCH build (``dedup_incremental_bloom`` step 1) needs the
    FULL table — prune only the confirm scan, or persist the sketch
    next to the store as its docstring describes."""
    probe = (
        batch.select(fingerprint(text_col).alias(fp_col))
        if fp_col not in batch.columns
        else batch.select(fp_col)
    )
    return store.read_bucketed(
        spark, path, {"buckets": buckets, "fp_col": fp_col}, probe
    )


def minhash_probe_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    base_hash: str = "md5",
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup: probe a new batch against an indexed
    corpus — the daily-crawl-vs-corpus pass of ``dedup_incremental``,
    at MinHash granularity instead of exact fingerprints. Emits
    ``(new_id, old_id, jaccard)`` for every batch doc whose verified
    token-set Jaccard with some corpus doc is >= ``threshold``.

    PROBE-shaped for 100 TB: the corpus side is INDEX STATE — its
    exploded band-bucket table is computed once per release, persisted,
    and only ever equi-joined on the band key; pass it via
    ``corpus_bands`` to skip the corpus signature build
    (``(id_col, band, sig)`` rows — ``minhash_band_index`` builds it,
    ``minhash_index_upsert`` maintains it across crawl waves; the index
    MUST have been built with the same ``k``/``bands``/``base_hash``,
    which its rows cannot express — that contract is the caller's).
    Per-probe cost is then:

    * signature build over the BATCH only (map-side expressions);
    * one equi-join of batch band rows against the corpus band table —
      shuffle carries the batch bands plus matching corpus buckets,
      never the corpus (AQE's skew-join splits a degenerate bucket);
    * exact verification: token arrays are built for the CANDIDATE
      doc ids only (semi-join fetch), so the expensive tokenise +
      array_intersect work is candidate-sized, not corpus-sized.

    Within-batch duplicates are deliberately out of scope — run the
    standard ``lsh_candidate_pairs``/``dedup_components`` over the
    batch for those; keep-set policy (drop matched docs, or link them
    into the corpus component) stays with the caller, like the other
    pair generators here.

    Empty-token docs carry NULL signatures and never probe (minhash
    similarity is undefined for an empty set — same contract as
    ``lsh_candidate_pairs``); exact empty-text dups are
    ``dedup_incremental``'s job.

    The candidate-pair frame is materialised with a lazy
    ``localCheckpoint`` (three consumers would otherwise re-execute
    the corpus signature build). Checkpoint blocks are session-pinned
    by Spark, so the checkpoint is a rolling pin owned by
    ``minhash_probe_pairs`` (``store.rolling_checkpoint``): each probe
    call releases the PREVIOUS call's blocks once its own are taken —
    a long-lived driver running one probe per batch holds exactly one
    probe's blocks, with no garbage-collector timing in the loop (a
    GC-finalizer variant was tried and rejected:
    ``probe(...).filter(...)`` drops the intermediate immediately, and
    localCheckpoint lineage is truncated, so releasing at GC crashed
    ordinary method chains). Contract: finish consuming one probe's
    result (and everything derived from it) BEFORE issuing the next
    probe on the same SparkContext. The call-time before/after id
    snapshot shares the single-threaded-session contract documented on
    ``store._persistent_rdd_ids``.
    """
    sig_b = minhash_signatures(batch, id_col, text_col, k, base_hash)
    batch_band_rows = _band_rows(sig_b, id_col, "new_id", k, bands)
    if corpus_bands is not None:
        # structural sanity (round-12 advice): an index built with
        # different k/bands/base_hash silently yields false negatives
        # (band sigs never collide). The rows can't express those
        # parameters, but the common mismatch — a different `bands` —
        # IS detectable: band ids are 0..bands-1 by construction, so
        # any band >= bands proves the index disagrees. Woven into the
        # band join key itself so the check rides the probe scan free.
        if id_col not in corpus_bands.columns or not {"band", "sig"} <= set(
            corpus_bands.columns
        ):
            raise ValueError(
                f"minhash_probe_pairs: corpus_bands must carry "
                f"({id_col!r}, 'band', 'sig') rows like "
                f"minhash_band_index builds, got {corpus_bands.columns}"
            )
        band_checked = (
            F.when(F.col("band") < F.lit(bands), F.col("band"))
            .otherwise(
                F.assert_true(
                    F.lit(False),
                    F.lit(
                        f"minhash_probe_pairs: corpus_bands carries a "
                        f"band id >= bands={bands} — the index was "
                        "built with a different bands value; probing a "
                        "mismatched index silently returns no "
                        "candidates. Rebuild the index or pass the "
                        "k/bands/base_hash it was built with."
                    ),
                ).cast("int")
            )
            .alias("band")
        )
        corpus_band_rows = corpus_bands.select(
            F.col(id_col).alias("old_id"), band_checked, "sig"
        )
    else:
        sig_c = minhash_signatures(corpus, id_col, text_col, k, base_hash)
        corpus_band_rows = _band_rows(sig_c, id_col, "old_id", k, bands)

    # Materialise the candidate pairs ONCE (lazy localCheckpoint, the
    # simhash_candidate_pairs pattern): they feed three consumers — the
    # two semi-join fetch lists and the final verify join — and without
    # it each consumer re-executes the band join INCLUDING the corpus
    # signature build, the probe's dominant cost (measured 27.2 s ->
    # 11.5 s at sf1). The materialised rows are candidate-pair-sized;
    # the NEXT probe on this context releases them.
    cand = rolling_checkpoint(
        batch_band_rows.join(corpus_band_rows, ["band", "sig"])
        .select("new_id", "old_id")
        .distinct(),
        "minhash_probe_pairs",
    )

    def tok_arrays(df: DataFrame, out_id: str, out_toks: str) -> DataFrame:
        # candidate-sized fetch: only docs that appear in a candidate
        # pair are tokenised for verification
        return df.select(
            F.col(id_col).alias(out_id), _shingles(text_col).alias(out_toks)
        ).join(cand.select(out_id).distinct(), out_id, "left_semi")

    return (
        cand.join(tok_arrays(batch, "new_id", "__ta"), "new_id")
        .join(tok_arrays(corpus, "old_id", "__tb"), "old_id")
        .select("new_id", "old_id", _jaccard("__ta", "__tb").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def editdist_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    max_distance: int = 20,
    max_block: int | None = 100_000,
) -> DataFrame:
    """Blocked pairwise Levenshtein near-dup: emit (id_a, id_b, dist)
    for pairs within ``max_distance`` edits — the character-level member
    of the near-dup family (``ngram_jaccard_pairs`` is token-set level,
    MinHash/SimHash are the sketch paths). All JVM-side: the DP runs in
    Spark's built-in ``levenshtein`` with the threshold short-circuit
    (banded DP, cost O(n * d) not O(n^2), returns -1 above the bound).

    Blocking: Levenshtein >= |len_a - len_b|, so a qualifying pair's
    lengths differ by at most ``max_distance`` — bucket by
    ``length div max_distance`` and a qualifying pair sits at most one
    bucket apart; each left row probes {b-1, b, b+1} via a 3-element
    explode and the join is a pure equi-join on (block_cols, bucket)
    with an ``abs(len diff) <= d`` prefilter before the DP. Same
    never-all-pairs guarantee as the Jaccard blocker, same loud
    ``max_block`` guard (route over-dense corpora through LSH first).

    Scale note (measured at 10x corpus): candidate pairs grow
    QUADRATICALLY per (block, length-bucket) cell — 257k pairs at 50k
    docs -> 19.2M at 500k (75x for 10x data; ~30s wall on 32 cores).
    Levenshtein has no cheap exact pre-filter that beats the banded DP
    itself (a q-gram count filter was measured SLOWER: it ships
    n-gram arrays through the pair join), so unlike the Jaccard
    operator there is no prefix-filtering rescue — at corpora where
    cells exceed ``max_block``, pre-cluster with
    ``lsh_candidate_pairs`` and run this op per cluster, which is what
    the guard message directs.
    """
    if max_distance < 1:
        raise ValueError(f"max_distance must be >= 1, got {max_distance}")
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.col(text_col).alias("__txt"),
        F.length(text_col).alias("__len"),
    ).withColumn("__bucket", F.expr(f"__len div {max_distance}"))

    if max_block is not None:
        oversized = (
            base.groupBy(*block_cols, "__bucket")
            .count()
            .filter(F.col("count") > max_block)
            .limit(5)
            .collect()
        )
        if oversized:
            raise RuntimeError(
                f"editdist_pairs: block(s) over max_block={max_block}: "
                f"{[r.asDict() for r in oversized]}; pre-cluster with "
                "lsh_candidate_pairs for corpora with blocks this size"
            )

    b = F.col("__bucket")
    # The banded-DP evaluation happens in the JOIN OUTPUT, whose cost
    # AQE cannot see (it plans by input bytes, and a small corpus that
    # auto-broadcasts the right side leaves the left's file partitioning
    # — possibly ONE task — to run every DP). Round-robin the exploded
    # probes: linear rows, even DP spread at any scale.
    left = (
        base.withColumn("__probe", F.explode(F.array(b - 1, b, b + 1)))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .alias("l")
    )
    right = base.alias("r")
    cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in block_cols]
    cond.append(F.col("l.__probe") == F.col("r.__bucket"))
    cond.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    # cheap length prefilter before the DP
    cond.append(
        F.abs(F.col("l.__len") - F.col("r.__len")) <= F.lit(max_distance)
    )
    dist = F.levenshtein(F.col("l.__txt"), F.col("r.__txt"), max_distance)
    return (
        left.join(right, cond)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-level dedup: find every ``span_tokens``-token
    passage that recurs across >= ``min_docs`` distinct documents (the
    "deduplicating training data makes language models better" exact-
    substring pass, at token-window granularity instead of suffix-array
    byte granularity — the Spark-native equivalent: fixed-width token
    windows hash into a groupBy instead of a cross-partition suffix
    sort).

    Returns ``(fp, n_docs, n_occurrences, first_doc)`` — the duplicated
    span fingerprints with their spread; join back on a recomputed fp to
    locate/mask the passages in situ.

    Scale: the explode is x(tokens - span + 1) on the map side but each
    shingle row is just (id, 16-byte fp); ONE groupBy on the md5 key
    (uniform by construction, no skew), map-side combine collapses
    within-doc repeats first. No pairwise expansion anywhere — a span
    shared by a million docs is one reduce group, not 10^12 pairs.
    """
    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    from ..operators.util import spread

    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    # ~|tokens| md5 calls per row on the map side of the single
    # groupBy — spread the RAW rows, then tokenise on the wide layout
    # (no-op at real file counts)
    base = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), toks.alias("__toks")
    )
    n = F.size(F.col("__toks"))
    fps = F.when(
        n >= span_tokens,
        F.transform(
            F.sequence(F.lit(1), n - span_tokens + 1),
            lambda s: F.md5(
                F.array_join(F.slice(F.col("__toks"), s, span_tokens), " ")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = base.select(id_col, F.explode(fps).alias("fp"))
    return (
        spans.groupBy("fp")
        .agg(
            F.countDistinct(F.col(id_col)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.col(id_col)).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def build_shingle_arrays(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    shingle_k: int = 3,
    persist: bool = True,
) -> DataFrame:
    """Distinct word k-shingle arrays per doc: ``(id, *block_cols,
    toks array<string>, __sz int)``, empty-shingle docs dropped.

    This is the REUSABLE input of ``shingle_containment_pairs`` — at
    corpus scale the shingle build (tokenise + slide + concat + distinct
    per doc) is the operator's dominant linear cost (measured ~36 s of
    d12's ~46 s at sf1), so a release pipeline should build it ONCE and
    feed every consumer (containment dedup, novelty gates, Jaccard
    verification) the same persisted frame, then ``unpersist()`` when
    the release's curation stages are done. The caller owns the
    lifecycle; ``persist=True`` (default) uses evictable
    MEMORY_AND_DISK, never a session-pinned localCheckpoint.
    """
    from pyspark.storagelevel import StorageLevel

    from ..operators.util import spread
    from .text import tokens

    if shingle_k < 1:
        raise ValueError(f"shingle_k must be >= 1, got {shingle_k}")
    # spread the RAW rows (cheap: id + blocks + text) BEFORE the
    # shingle build: a repartition placed after the build runs the
    # build itself on the scan's map side — measured 38 of d12's 58 s
    # at sf1 on 2 of 32 cores (r7). No-op at real file counts.
    src = spread(
        df.select(F.col(id_col), *[F.col(c) for c in block_cols], F.col(text_col))
    )
    w = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    base = src.select(F.col(id_col), *[F.col(c) for c in block_cols], w.alias("__w"))
    n = F.size("__w")

    def shingle(x: Column, i: Column) -> Column:
        parts = [x] + [
            F.element_at(F.col("__w"), i + 1 + j) for j in range(1, shingle_k)
        ]
        return F.concat_ws(" ", *parts)

    sh = F.array_distinct(
        F.transform(
            F.slice("__w", 1, F.greatest(n - (shingle_k - 1), F.lit(0))), shingle
        )
    )
    toks = base.select(
        F.col(id_col), *block_cols, sh.alias("toks")
    ).withColumn("__sz", F.size("toks")).filter(F.col("__sz") > 0)
    if persist:
        # cache the shingle arrays ONCE: five downstream subtrees (freq
        # agg, rank window, postings, and both verification sides) would
        # otherwise each re-run the build — measured 5x ~36 s at sf1.
        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    return toks


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    threshold: float = 0.8,
    shingle_k: int = 3,
    max_block: int | None = 100_000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric set containment C(a->b) = |a ∩ b| / |a| over word
    k-shingles: emits ordered pairs where b nearly CONTAINS a — the
    quotation / near-superset signal symmetric Jaccard misses (a tiny
    doc embedded in a big one has high containment but low Jaccard).

    EXACT (no false negatives), prefix-filtered for scale:
    - probe side: each doc keeps its ``|a| - ceil(t*|a|) + 1`` RAREST
      shingles (global corpus-frequency order). If none of them occur
      in b, the overlap is at most ``ceil(t*|a|) - 1 < t*|a|``, so
      C(a->b) < t — pruning is lossless.
    - index side: ALL of b's shingles, but semi-joined down to shingles
      that occur in SOME probe prefix first — hub shingles that no
      prefix references never enter the join, and the ``max_block``
      guard (a loud raise, not a silent cap) applies to the PRUNED
      posting lists, the ones the join actually pays for.
    - size filter ``|b| >= t*|a|`` (overlap can't exceed |b|), then
      exact verification on the full distinct-shingle arrays.

    Every stage is linear in corpus size except candidate expansion,
    which is bounded by rare-shingle co-occurrence. Shingles (default
    k=3) rather than unigrams: unigram containment saturates on any
    corpus with a shared vocabulary; k-shingles keep the signal
    order-sensitive and selective.

    The freq/prefix/posting path carries 8-byte ``xxhash64`` shingle
    hashes, never the shingle strings — the posting join was the
    engine's largest non-d10 shuffle (16.05 MiB / 892k records at
    sf0.01) and strings dominated it. A 64-bit collision can only ADD
    a candidate pair (two distinct shingles hashing equal), never drop
    one, and every candidate is re-verified on the full STRING arrays,
    so the result is exact regardless.

    MEMORY NOTE: the shingle arrays are persisted (MEMORY_AND_DISK)
    because five downstream subtrees reuse them, and the ``max_block``
    guard materialises them eagerly at call time. The RELIABLE way to
    manage that memory is to build the arrays yourself with
    ``build_shingle_arrays`` and pass them via ``shingles=`` — the
    caller then owns the handle and can ``unpersist()`` at the end of
    the curation stage (and reuse the same frame for every other
    shingle consumer in the release). When built internally, the frame
    is attached as ``result.containment_cache`` for convenience, but
    that is a plain Python attribute on the RETURNED OBJECT ONLY — any
    subsequent transformation (.filter/.select) returns a new DataFrame
    without it, so long-lived sessions that transform the result should
    use the ``shingles=`` form. Evicted blocks recompute instead of
    pinning JVM storage forever.
    """
    from pyspark.sql import Window

    if shingles is not None:
        missing = {id_col, "toks", "__sz"} - set(shingles.columns)
        if missing:
            raise ValueError(
                "pre-built shingles frame is missing columns "
                f"{sorted(missing)}; build it with build_shingle_arrays("
                f"..., shingle_k={shingle_k})"
            )
        toks = shingles
    else:
        toks = build_shingle_arrays(
            df,
            id_col=id_col,
            text_col=text_col,
            block_cols=block_cols,
            shingle_k=shingle_k,
        )

    p_len = (
        F.col("__sz") - F.ceil(F.col("__sz") * F.lit(threshold)) + 1
    ).cast("int")
    # 8-byte hash domain for everything except the final verify: the
    # posting join shuffles longs, not shingle strings
    exploded = toks.select(
        F.col(id_col), *block_cols, "__sz", p_len.alias("__p"),
        F.explode(F.transform("toks", lambda t: F.xxhash64(t))).alias("__h"),
    )
    freq = exploded.groupBy("__h").agg(F.count(F.lit(1)).alias("__freq"))
    ranked = exploded.join(freq, "__h").withColumn(
        "__rank",
        F.row_number().over(Window.partitionBy(id_col).orderBy("__freq", "__h")),
    )
    prefix = ranked.filter(F.col("__rank") <= F.col("__p")).select(
        *block_cols, "__h", F.col(id_col), "__sz"
    )
    postings = exploded.select(*block_cols, "__h", F.col(id_col), "__sz").join(
        prefix.select("__h").distinct(), "__h", "left_semi"
    )
    if max_block is not None:
        oversized = (
            postings.groupBy(*block_cols, "__h")
            .count()
            .filter(F.col("count") > max_block)
            .limit(5)
            .collect()
        )
        if oversized:
            raise RuntimeError(
                "shingle_containment_pairs: pruned posting list(s) over "
                f"max_block={max_block}: {[r.asDict() for r in oversized]}; "
                "raise shingle_k or route through lsh_candidate_pairs"
            )
    a, b = prefix.alias("a"), postings.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    cond += [
        F.col("a.__h") == F.col("b.__h"),
        F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
        F.col("b.__sz").cast("double") >= F.col("a.__sz") * F.lit(threshold),
    ]
    cand = (
        a.join(b, on=cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    arrays = toks.select(F.col(id_col), "toks", "__sz")
    la = arrays.select(
        F.col(id_col).alias("id_a"), F.col("toks").alias("__ta"), F.col("__sz").alias("__sza")
    )
    lb = arrays.select(F.col(id_col).alias("id_b"), F.col("toks").alias("__tb"))
    inter = F.size(F.array_intersect("__ta", "__tb"))
    containment = inter.cast("double") / F.col("__sza").cast("double")
    result = (
        cand.join(la, "id_a")
        .join(lb, "id_b")
        .select("id_a", "id_b", containment.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )
    if shingles is None:
        # convenience handle for untransformed-result callers; see
        # MEMORY NOTE — prefer the shingles= form for reliable release
        result.containment_cache = toks
    return result


def editdist_pairs_fastss(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = (),
    max_block: int | None = 100_000,
) -> DataFrame:
    """Edit-distance <= 1 pairs via FastSS deletion neighborhoods
    (Bocek et al. 2007) — the LINEAR-candidate alternative to
    ``editdist_pairs``'s banded-DP join for the distance-1 case
    (entity resolution: near-identical names/codes/ids).

    Every string's neighborhood is {itself} + {each single-character
    deletion}. Two strings within one edit ALWAYS share a neighborhood
    member (equal -> the string itself; substitution -> deletion at
    the differing position; insert/delete -> the longer one's deletion
    IS the shorter), so an equi-join on neighborhood members finds
    every qualifying pair — no length-band cell is ever enumerated
    quadratically. Members ship as 60-bit md5 hashes (8 bytes each,
    not len-sized strings: the shuffle is O(total_chars * 8), not
    O(total_chars * len)); hash collisions only ADD candidates, and
    the final ``levenshtein`` verification keeps the result exact.

    Candidates per posting list are quadratic only in the number of
    strings sharing one specific variant (bounded by alphabet size for
    substitutions); ``max_block`` guards degenerate corpora (mass-
    duplicated strings) loudly — exact-dedup those first.

    FastSS is a SHORT-STRING algorithm (names, codes, identifiers):
    the neighborhood is O(len) members per string, so the texts
    themselves ride along with the posting rows (a few dozen bytes)
    and verification runs inline on the join output — no joins back to
    the corpus, no pre-verification distinct. Dense corpora emit
    output proportional to the true number of qualifying pairs, which
    for near-sequential identifier sets is itself large — that output
    volume, not the candidate generation, is the scale bound.
    """
    from ..operators.util import spread

    # O(len) md5 calls per row before the first exchange — spread off
    # the scan layout (no-op at real file counts)
    base = spread(
        df.select(
            F.col(id_col).alias("__id"),
            *[F.col(c) for c in block_cols],
            F.col(text_col).alias("__txt"),
        )
    )
    neighborhood = F.expr(
        """
        transform(
          sequence(0, length(__txt)),
          i -> cast(conv(substring(md5(
                 CASE WHEN i = 0 THEN __txt
                      ELSE concat(substring(__txt, 1, i-1),
                                  substring(__txt, i+1, length(__txt)))
                 END), 1, 15), 16, 10) as bigint)
        )
        """
    )
    members = base.select(
        "__id",
        "__txt",
        *[F.col(c) for c in block_cols],
        F.explode(F.array_distinct(neighborhood)).alias("__member"),
    )
    keys = list(block_cols) + ["__member"]

    if max_block is not None:
        oversized = (
            members.groupBy(*keys)
            .count()
            .filter(F.col("count") > max_block)
            .limit(5)
            .collect()
        )
        if oversized:
            raise RuntimeError(
                f"editdist_pairs_fastss: posting list(s) over "
                f"max_block={max_block}: {[r.asDict() for r in oversized]}; "
                "exact-dedup the corpus first (mass-duplicated strings)"
            )

    left = members.select(*[F.col(c).alias(f"__l_{c}") for c in keys],
                          F.col("__id").alias("id_a"),
                          F.col("__txt").alias("__ta"))
    right = members.select(*[F.col(c).alias(f"__r_{c}") for c in keys],
                           F.col("__id").alias("id_b"),
                           F.col("__txt").alias("__tb"))
    cond = [F.col(f"__l_{c}") == F.col(f"__r_{c}") for c in keys]
    # dedup candidates BEFORE the DP: a pair reachable through several
    # shared variants (and false candidates at distance 2, one deletion
    # each side) would otherwise be verified once per shared member —
    # the distinct carries the short texts so verification needs no
    # join back to the corpus
    cand = (
        left.join(right, cond)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ta", "__tb")
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.levenshtein("__ta", "__tb").alias("dist"),
        )
        .filter(F.col("dist") <= 1)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    max_pos: int = 1 << 20,
    assert_unique_ids: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting scheme, public
    algorithm): hash every k-token gram, slide a window of ``w``
    consecutive gram hashes, and select each window's MINIMUM hash,
    breaking ties by RIGHTMOST position (robust winnowing). The
    guarantee that makes it the plagiarism-detection standard: any
    shared token run of length >= w + k - 1 between two documents
    shares at least one SELECTED fingerprint, while only ~2/(w+1) of
    all gram hashes are kept.

    Returns DISTINCT ``(id, pos, fp)`` per input row — ``pos`` is the
    0-based k-gram start, ``fp`` the 40-bit md5-prefix gram hash (40
    bits so the combined order key below stays inside a BIGINT;
    cross-engine exact, same family as ``md5_prefix_long``).
    ``id_col`` must uniquely key ``df`` (one row per document — the
    table shape every caller has): the dedup is per-row
    ``array_distinct``, so duplicate input ids would emit their rows'
    selections independently rather than globally distinct, and
    downstream ``winnow_candidate_pairs`` would attribute the UNION of
    both rows' fingerprints to the one id (inflated ``n_shared``).
    ``assert_unique_ids=True`` enforces the precondition loudly — one
    count-over-id window exchange on the slim (id, selections) frame,
    so debug/first-run pipelines can pin the contract and drop the
    flag once the upstream key is trusted.

    Spark-first shape: the min-hash-with-rightmost-tie rule collapses
    to ``min(hash * 2^20 + (2^20-1-pos))`` per window — minimising the
    combined key minimises the hash first and, among equal hashes,
    maximises the position. Because winnowing is PER-DOCUMENT local,
    the whole selection runs as array higher-order functions inside
    the row (grams -> combined keys -> ``array_min`` over each
    w-slice -> decode -> ``array_distinct``) and only the selected
    fingerprints are exploded at the end: ZERO exchanges — no window
    shuffle, no distinct shuffle — where the naive plan ships every
    gram row through a sort exchange. No UDF, no self-join.
    ``max_pos`` (default 2^20 k-grams, ~1M tokens) bounds the position
    field so the encoding cannot collide — longer documents raise
    loudly rather than fingerprint wrongly (chunk them first:
    ``chunk_documents``); it equally bounds the in-row key array
    (<= 8 MB), the same per-doc locality the window form required of a
    partition.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    if max_pos > 1 << 20:
        # the position field is FIXED at 20 bits (the shiftright/mod
        # decode below) — a larger cap would not widen it, it would
        # silently wrap positions into the hash bits
        raise ValueError(
            f"max_pos={max_pos} exceeds the 20-bit position encoding "
            f"(max {1 << 20}); chunk longer documents instead"
        )
    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    n_grams = F.size(toks) - k + 1
    n_grams = F.when(
        n_grams > max_pos,
        F.raise_error(
            F.concat(
                F.lit(f"winnow_fingerprints: document exceeds max_pos={max_pos} "
                      f"k-grams ("),
                n_grams.cast("string"),
                F.lit(") — chunk it first"),
            )
        ).cast("int"),
    ).otherwise(n_grams)
    # sequence(1, n) DESCENDS when n < 1 (it would emit [1, 0] and a
    # 0-start slice error) — short docs get an explicit empty array
    idx = F.when(
        n_grams >= 1, F.sequence(F.lit(1), n_grams)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, k), " ")
    )
    enc = F.lit(1 << 20)
    # combined key per gram: hash40 * 2^20 + (2^20 - 1 - pos); the
    # two-arg transform lambda's i is the 0-BASED array index == pos
    keys = F.transform(
        grams,
        lambda g, i: F.conv(F.substring(F.md5(g), 1, 10), 16, 10).cast(
            "long"
        )
        * enc
        + (enc - 1 - i.cast("long")),
    )
    def _select(ka: Column) -> Column:
        # ka is a BOUND lambda variable (a value), so the n_windows
        # slice-min references below read the materialised array — the
        # md5 keys are hashed exactly ONCE per gram
        n_windows = F.size(ka) - w + 1  # full windows only (the definition)
        mins = F.when(
            n_windows >= 1,
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda i: F.array_min(F.slice(ka, i, w)),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        # decode + per-doc dedup INSIDE the row (selections are unique
        # across docs by id, so array_distinct is the whole distinct);
        # shiftright, NOT `/`: float division of a 60-bit key loses low
        # bits above 2^53 and would decode wrong positions
        return F.array_distinct(
            F.transform(
                mins,
                lambda m: F.struct(
                    (enc - 1 - m % enc).cast("long").alias("pos"),
                    F.shiftright(m, 20).alias("fp"),
                ),
            )
        )

    # transform(array(keys), ...) evaluates the keys expression once
    # and binds the result — without this, each window's lambda would
    # inline and RE-EVALUATE the whole hashing transform (O(n^2) md5)
    sel = F.element_at(F.transform(F.array(keys), _select), 1)
    if assert_unique_ids:
        # opt-in precondition check: one count window on the slim
        # (id, selections) frame; the assert is woven into the
        # selection column so it cannot be pruned unevaluated. Staged
        # through an intermediate projection — measured ~1.9x the
        # default path's per-row cost, which is why the default path
        # below explodes the selection expression DIRECTLY (the
        # intermediate Project re-materialises the struct array).
        base = df.select(F.col(id_col), sel.alias("__sel"))
        w_id = Window.partitionBy(id_col)
        ok = F.count(F.lit(1)).over(w_id) == 1
        base = base.select(
            F.col(id_col),
            F.when(ok, F.col("__sel"))
            .otherwise(
                F.assert_true(
                    F.lit(False),
                    F.lit(
                        "winnow_fingerprints: duplicate id_col rows "
                        "violate the unique-id precondition (one row "
                        "per document); dedup upstream first"
                    ),
                ).cast("array<struct<pos:bigint,fp:bigint>>")
            )
            .alias("__sel"),
        )
        exploded = base.select(
            F.col(id_col), F.explode("__sel").alias("__s")
        )
    else:
        exploded = df.select(F.col(id_col), F.explode(sel).alias("__s"))
    return exploded.select(
        id_col, F.col("__s.pos").alias("pos"), F.col("__s.fp").alias("fp")
    )


def winnow_candidate_pairs(
    fps: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Candidate plagiarism/overlap pairs from a winnowing fingerprint
    table: documents sharing ANY selected fingerprint, with the shared
    count (the match strength MOSS ranks by). Shared count is over
    DISTINCT fingerprint VALUES (a value selected at several positions
    counts once — MOSS semantics). Equi-join on ``fp`` — the shuffle
    carries fingerprints (~2/(w+1) of the gram count), never
    documents.

    Inherits ``winnow_fingerprints``' unique-id precondition: if the
    SAME id keyed two input rows upstream, their fingerprints merge
    into one document here and ``n_shared`` against other docs is
    inflated by the union — the (id, fp) distinct below cannot undo
    that. Run the fingerprint pass with ``assert_unique_ids=True`` to
    pin the contract when the upstream key is untrusted."""
    a = fps.select(F.col(id_col).alias("id_a"), "fp").distinct()
    b = fps.select(F.col(id_col).alias("id_b"), "fp").distinct()
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def shared_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 16,
    max_gram_docs: int = 50,
) -> DataFrame:
    """MAXIMAL exact shared token runs between document PAIRS — the
    span an exact-substring dedup actually cuts (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": their
    suffix-array pass re-expressed relationally). ``duplicated_spans``
    counts fixed-k spans corpus-wide; this returns, per (id_a, id_b,
    run), the maximal run: start token position in each document and
    its token length.

    Relational shape (the dotplot-diagonal trick): k-gram inverted
    index -> drop grams private to one doc -> pair positions via an
    equi-join ON THE GRAM HASH with ``id_a < id_b`` -> a run of
    consecutive matching grams lies on one DIAGONAL (``pos_a - pos_b``
    constant), so maximal runs are gaps-and-islands per (pair,
    diagonal): group on ``pos_a - row_number()`` within the diagonal,
    then ``len_tokens = gram_count + k - 1``. Every step is an
    equi-join or window — no suffix sort, no UDF; the DuckDB oracle
    replays it exactly.

    Scale guards: the join fans out quadratically per gram in its
    document frequency, so grams seen in more than ``max_gram_docs``
    documents raise LOUDLY (boilerplate that common should be cut by
    the corpus-level ``duplicated_spans``/frequency filters first —
    silently skipping hot grams would split maximal runs and corrupt
    the contract). The shuffle carries (gram hash, id, pos) index
    rows and the surviving pair positions only.
    """
    if k < 1:
        raise ValueError(f"shared_spans: k must be >= 1, got {k}")
    if min_len < k:
        raise ValueError(
            f"shared_spans: min_len must be >= k, got {min_len} < {k}"
        )
    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    n_grams = F.size(toks) - k + 1
    idx = F.when(
        n_grams >= 1, F.sequence(F.lit(1), n_grams)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, k), " ")
    )
    g = df.select(
        F.col(id_col).alias("id"), F.posexplode(grams).alias("pos", "gram")
    ).select("id", "pos", md5_prefix_long(F.col("gram")).alias("__h"))
    # ONE materialisation of the hashed gram index: the stats pass, the
    # shared-gram semi-join, and BOTH self-join sides read it — without
    # the checkpoint each consumer re-executes the explode + md5 over
    # the whole corpus (measured ~4x wall at sf1); lazy, so the stats
    # aggregation below doubles as the eager step (the
    # _probe_exploded_guarded pattern); the next call releases it
    g = rolling_checkpoint(g, "shared_spans")
    stats = g.groupBy("__h").agg(
        F.count_distinct("id").alias("__docs")
    )
    over = F.when(
        F.col("__docs") <= max_gram_docs, F.col("__docs")
    ).otherwise(
        F.assert_true(
            F.lit(False),
            F.lit(
                f"shared_spans: a gram appears in more than "
                f"{max_gram_docs} documents; cut corpus-level "
                "boilerplate first or raise max_gram_docs"
            ),
        ).cast("long")
    )
    shared = stats.select("__h", over.alias("__docs")).filter(
        F.col("__docs") >= 2
    )
    g = g.join(shared.select("__h"), "__h")
    a = g.select(
        F.col("__h"), F.col("id").alias("id_a"), F.col("pos").alias("pos_a")
    )
    b = g.select(
        F.col("__h"), F.col("id").alias("id_b"), F.col("pos").alias("pos_b")
    )
    m = a.join(b, "__h").filter(F.col("id_a") < F.col("id_b"))
    m = m.select(
        "id_a",
        "id_b",
        "pos_a",
        "pos_b",
        (F.col("pos_a") - F.col("pos_b")).alias("__diag"),
    )
    w = Window.partitionBy("id_a", "id_b", "__diag").orderBy("pos_a")
    runs = (
        m.withColumn(
            "__island", F.col("pos_a") - F.row_number().over(w)
        )
        .groupBy("id_a", "id_b", "__diag", "__island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).alias("len_tokens"),
        )
        .filter(F.col("len_tokens") >= min_len)
    )
    return runs.select(
        "id_a", "id_b", "start_a", "start_b", "len_tokens"
    )


def cut_hot_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_docs: int = 50,
    stats_out: list | None = None,
) -> DataFrame:
    """Corpus-level boilerplate cut — the documented PRECONDITION pass
    for ``shared_spans``: remove every token covered by an occurrence
    of a k-gram that appears in MORE than ``max_docs`` distinct
    documents (site templates, licence footers, navigation chrome —
    the text Lee et al. 2022 §4 note dominates a raw web corpus's
    duplicate mass). Running this with ``max_docs`` equal to
    ``shared_spans``' ``max_gram_docs`` guarantees the span pass's
    hot-gram guard cannot fire on the k-grams that survive the cut:
    every surviving ORIGINAL gram has document frequency <= max_docs
    by construction. (Cutting can create NEW grams where surviving
    tokens become adjacent across a cut; a pathological corpus whose
    re-concatenations are themselves boilerplate needs a second pass —
    the span pass's loud guard is what catches that, by design.)

    Returns ``(id_col, text_col)`` with the cleaned text (tokens
    re-joined with single spaces; docs reduced to nothing carry ``''``).

    Plan shape: ONE gram explode feeds both the document-frequency
    aggregation and the hot-occurrence lookup (shared lazy
    localCheckpoint, the ``shared_spans`` pattern); gram keys are the
    8-byte ``md5_prefix_long`` family (same as ``shared_spans``), so
    the frequency exchange carries (long, id) partial rows — measured
    4x fewer shuffle bytes than the 32-char md5-string key; the
    hot-gram set is tiny (boilerplate VALUES, not occurrences) and
    broadcasts; the per-doc hot-start lists are slim (id, array<int>)
    and join back on the id key. No UDF — the token drop is an
    index-aware ``filter`` HOF against the doc's own hot-start array.

    ``stats_out=[]`` receives the full per-gram document-frequency
    frame ``(fp, __d)`` — it reads the SAME checkpointed gram index,
    so a caller wanting corpus diagnostics (the hottest gram's spread,
    a boilerplate report) pays one extra pass over the slim index, not
    a second explode of the corpus.

    Checkpoint lifecycle: the gram index is a rolling pin owned by
    ``cut_hot_spans`` (``store.rolling_checkpoint``, the
    ``minhash_probe_pairs`` protocol) — each call releases the PREVIOUS
    call's blocks once its own are taken. The result and the
    ``stats_out`` frame both read this call's pin: finish consuming
    them before the next call on the same SparkContext.
    """
    if k < 1:
        raise ValueError(f"cut_hot_spans: k must be >= 1, got {k}")
    if max_docs < 1:
        raise ValueError(
            f"cut_hot_spans: max_docs must be >= 1, got {max_docs}"
        )
    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n_grams = F.size("__toks") - k + 1
    fps = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda s: md5_prefix_long(
                F.array_join(F.slice("__toks", s, k), " ")
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # one materialisation feeds the stats pass AND the occurrence join
    g = rolling_checkpoint(
        base.select(F.col(id_col), F.posexplode(fps).alias("pos", "fp")),
        "cut_hot_spans",
    )
    freq = g.groupBy("fp").agg(F.count_distinct(id_col).alias("__d"))
    if stats_out is not None:
        stats_out.append(freq)
    hot = freq.filter(F.col("__d") > max_docs).select("fp")
    starts = (
        g.join(F.broadcast(hot), "fp")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__hot"))
    )
    joined = base.join(starts, id_col, "left").withColumn(
        "__hot", F.coalesce("__hot", F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("__toks"),
        lambda t, i: ~F.exists(
            F.col("__hot"), lambda s: (s <= i) & (i < s + k)
        ),
    )
    return joined.select(
        F.col(id_col), F.array_join(kept, " ").alias(text_col)
    )


def dedup_incremental_bloom(
    new_batch: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fp",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    max_maybe_fps: int = 2_000_000,
    bits: DataFrame | None = None,
) -> DataFrame:
    """``dedup_incremental`` with a Bloom pre-filter — IDENTICAL output
    (gated: d8b shares d8's oracle), different 100 TB shape: the
    corpus-sized fingerprint table is only ever SCANNED, never
    shuffled.

    Why the plain operator doesn't scale symmetrically: its anti-join
    is sort-merge once ``seen_fingerprints`` outgrows the broadcast
    threshold, so every release shuffles the ENTIRE historical
    fingerprint table (corpus-sized) to dedup a delta-sized batch.
    Here:

    1. ``bloom_bits`` over the fingerprint table — a constant-size
       (<= ``m_bits`` rows) mergeable sketch; in production it is
       built once and persisted NEXT TO the fingerprint table, then
       merged incrementally (union+distinct) as releases append, so
       the per-release cost starts at step 2;
    2. the batch's DISTINCT fingerprints probe the sketch
       (``bloom_probe``: bit table broadcasts, the exchange carries
       fp values only). ``maybe_present = false`` is DEFINITIVE
       absence — those fps skip the corpus entirely;
    3. the surviving "maybe" set is (true-duplicates + false-positive
       rate x batch)-sized, i.e. delta-sized — it BROADCASTS against
       the fingerprint table (broadcast semi-join: one corpus SCAN,
       zero corpus shuffle) to confirm real hits;
    4. batch rows drop on the confirmed-hit set (broadcast anti-join),
       then the same keep-first-within-batch window as the plain
       operator.

    ``max_maybe_fps`` guards step 3's broadcast: a batch that is
    mostly duplicates makes the maybe set batch-sized, and silently
    broadcasting it would OOM executors at scale — raise loudly and
    point at the plain operator instead (its symmetric shuffle is the
    right plan exactly when the maybe set is not small). NULL-fp batch
    rows never probe (a NULL fingerprint matches nothing, as in the
    plain operator) and fall through to the keep-first window.

    ``bits`` is the production path step 1 describes: pass the
    PERSISTED set-bit table (``bloom_bits`` output, merged across
    releases by union+distinct) and the corpus-sized sketch build is
    skipped entirely — per-release cost starts at the probe. The
    sketch's ``m_bits``/``k_hashes`` are part of its identity (the
    rows cannot express them): a sketch built with different
    parameters yields silent FALSE NEGATIVES (dups slip through), so
    the detectable half — a stored bit >= this call's ``m_bits``,
    i.e. the sketch was built with a larger table — raises loudly via
    an assert woven into the bit column (the corpus_bands guard
    pattern); the smaller-table direction is undetectable from the
    rows and stays the caller's contract. Gated: ``pipe23_bloom_loop``
    runs the persisted-sketch daily loop with planted duplicates, so
    a sketch OR fingerprint store that fails to advance diverges from
    the sequential-waves oracle.
    """
    from .sketches import bloom_bits, bloom_probe

    if bits is None:
        bits = bloom_bits(seen_fingerprints, F.col(fp_col), m_bits, k_hashes)
    else:
        if "bit" not in bits.columns:
            raise ValueError(
                "dedup_incremental_bloom: bits must be a bloom_bits "
                f"set-bit table with a 'bit' column, got {bits.columns}"
            )
        bit_checked = (
            F.when(F.col("bit") < F.lit(m_bits), F.col("bit"))
            .otherwise(
                F.assert_true(
                    F.lit(False),
                    F.lit(
                        "dedup_incremental_bloom: persisted sketch "
                        f"carries a bit >= m_bits={m_bits} — it was "
                        "built with a larger bit table; probing with "
                        "mismatched parameters silently drops the "
                        "no-false-negatives guarantee. Rebuild the "
                        "sketch or pass the m_bits/k_hashes it was "
                        "built with."
                    ),
                ).cast("bigint")
            )
            .alias("bit")
        )
        bits = bits.select(bit_checked)
    batch = new_batch.withColumn("fp", fingerprint(text_col))
    probed = bloom_probe(
        bits,
        batch.filter(F.col("fp").isNotNull()).select("fp").distinct(),
        F.col("fp"),
        m_bits,
        k_hashes,
    )
    maybe = probed.filter(F.col("maybe_present")).select("fp")
    # materialise once: the guard count, the semi-join, and the final
    # anti-join all read it (lazy localCheckpoint; the count is the
    # eager step). The count itself is bounded by the LIMIT: it never
    # scans past max_maybe_fps + 1 rows. Checkpoint blocks are
    # session-pinned, so the rolling-release protocol from
    # ``minhash_probe_pairs`` applies: each call releases the PREVIOUS
    # call's blocks before pinning its own — a daily-release loop holds
    # at most one call's (<= max_maybe_fps rows of) blocks. Contract:
    # finish consuming one call's result before the next call on the
    # same SparkContext.
    maybe = rolling_checkpoint(maybe, "dedup_incremental_bloom")
    n_probe = maybe.limit(max_maybe_fps + 1).count()
    if n_probe > max_maybe_fps:
        raise RuntimeError(
            f"dedup_incremental_bloom: more than {max_maybe_fps} batch "
            "fingerprints survive the Bloom pre-filter — the maybe set "
            "is not broadcast-sized, so the pre-filter buys nothing "
            "here; use dedup_incremental (symmetric shuffle) or raise "
            "max_maybe_fps if the executors can hold the broadcast"
        )
    confirmed = seen_fingerprints.select(
        F.col(fp_col).alias("fp")
    ).join(F.broadcast(maybe), "fp", "left_semi").distinct()
    fresh = batch.join(
        F.broadcast(confirmed.withColumnRenamed("fp", "__seen_fp")),
        batch["fp"] == F.col("__seen_fp"),
        "left_anti",
    )
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
