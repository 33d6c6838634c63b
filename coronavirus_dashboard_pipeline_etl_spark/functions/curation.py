"""Corpus-curation operators for training-data pipelines: benchmark
contamination checking, reproducible stratified sampling, vocabulary /
document-frequency extraction, repetition signals, and embedding
normalisation + quantisation.

All JVM-side expressions (HOFs over token arrays, md5-based hashing) —
no Python UDFs — so everything stays inside WholeStageCodegen. Each op
has an exact ANSI-SQL oracle in ``__spark_entry__.oracle_sql``.

Scale notes per op:
* contamination: the benchmark side is an eval set (thousands of docs)
  — its distinct shingles broadcast; the corpus side explodes its
  shingles MAP-SIDE (explode is narrow) and the only shuffle is the
  per-doc hit count.
* stratified sampling: pure row filter on a deterministic md5 bucket —
  reproducible across runs/engines, no sampling-seed drift, no shuffle.
* vocabulary: explode + groupBy(token) with map-side partial
  aggregation; the top-k sort runs on the aggregated (small) side.
* repetition: per-row array expressions, O(n log n) in tokens.
* embeddings: elementwise transforms + sequential array folds (same
  evaluation order in Spark and the oracle, so doubles match exactly).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast

from .dedup import md5_prefix_long
from .text import tokens

SAMPLE_BUCKETS = 10_000


def word_shingles(col: Column | str, n: int) -> Column:
    """Array of word n-grams (space-joined); empty when the doc has
    fewer than n tokens."""
    toks = tokens(col) if isinstance(col, str) else tokens(col)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag corpus docs sharing any word n-gram with a benchmark set —
    the standard eval-set decontamination pass (n=8..13 word overlap).

    Returns the corpus ids + ``n_contaminated`` (distinct overlapping
    shingles) + ``contaminated``. The benchmark's distinct shingles are
    broadcast; corpus shingles explode map-side, so the only shuffle is
    the per-doc aggregation of hits.
    """
    bench = (
        benchmark.select(
            F.explode(word_shingles(text_col, n)).alias("__shingle")
        )
        .distinct()
    )
    corpus_sh = corpus.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("__shingle")
    )
    hits = (
        corpus_sh.join(F.broadcast(bench), "__shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("__shingle").alias("n_contaminated"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def sample_bucket(id_col: Column | str, salt: str = "") -> Column:
    """Deterministic [0, SAMPLE_BUCKETS) bucket from the md5 of the id —
    the reproducible replacement for seed-based random sampling."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return md5_prefix_long(F.concat(c.cast("string"), F.lit(salt))) % SAMPLE_BUCKETS


def stratified_sample(
    df: DataFrame,
    fractions: Mapping[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows.

    ``sampleBy`` is seed-random and irreproducible across engines and
    re-runs; training-data pipelines need the same doc kept every time,
    so the keep decision is ``md5(id + salt) % 10000 < fraction *
    10000``. Changing ``salt`` draws an independent sample.

    Scale note: few strata (languages/sources) compile to a when-chain;
    past 256 the thresholds ship as a map literal instead — a balanced
    lookup rather than a 10k-deep CaseWhen tree that would stall
    Catalyst. Both are map-side; the corpus never shuffles.
    """
    default = F.lit(int(default_fraction * SAMPLE_BUCKETS))
    if len(fractions) > 256:
        entries: list[Column] = []
        for stratum, frac in sorted(fractions.items()):
            entries.append(F.lit(stratum))
            entries.append(F.lit(int(frac * SAMPLE_BUCKETS)))
        lookup = F.create_map(*entries)
        threshold = F.coalesce(
            F.element_at(lookup, F.col(stratum_col)), default
        )
    else:
        expr = None
        for stratum, frac in sorted(fractions.items()):
            cond = F.col(stratum_col) == stratum
            val = F.lit(int(frac * SAMPLE_BUCKETS))
            expr = F.when(cond, val) if expr is None else expr.when(cond, val)
        threshold = expr.otherwise(default) if expr is not None else default
    return df.filter(sample_bucket(id_col, salt) < threshold)


def vocab_topk(
    df: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    by_doc_frequency: bool = True,
) -> DataFrame:
    """Top-k vocabulary: (token, doc_freq, total_freq), ranked by doc
    frequency (or total frequency), ties broken by token asc."""
    toks = F.explode(tokens(text_col)).alias("token")
    per_doc = df.select(F.col(id_col).alias("__doc"), toks)
    agg = per_doc.groupBy("token").agg(
        F.countDistinct("__doc").alias("doc_freq"),
        F.count("*").alias("total_freq"),
    )
    key = F.col("doc_freq") if by_doc_frequency else F.col("total_freq")
    return agg.orderBy(key.desc(), F.col("token").asc()).limit(k)


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals: fraction of duplicate tokens and
    of duplicate 3-gram shingles (1 - distinct/total; 0 for degenerate
    short docs)."""
    toks = tokens(text_col)
    sh3 = word_shingles(text_col, 3)

    def dup_ratio(arr: Column) -> Column:
        total = F.size(arr)
        return F.when(
            total > 0,
            1.0 - F.size(F.array_distinct(arr)).cast("double") / total.cast("double"),
        ).otherwise(F.lit(0.0))

    return df.withColumns(
        {
            "dup_token_ratio": dup_ratio(toks),
            "dup_3gram_ratio": dup_ratio(sh3),
        }
    )


def topgram_repetition(
    df: DataFrame,
    text_col: str = "text",
    top_ns: "tuple[int, ...]" = (2, 3),
    dup_n: int = 5,
) -> DataFrame:
    """The character-fraction repetition rules from Gopher/MassiveText
    (Rae et al. 2021, Table A1) that ``repetition_stats``'s count
    ratios don't capture — the signals that distinguish "one boiler-
    plate phrase stamped everywhere" from diffuse repetition:

    * ``top{n}_gram`` / ``top{n}_char_frac`` for each n in ``top_ns``:
      the document's most frequent word n-gram (ties broken by the
      lexicographically SMALLEST gram, so the argmax is deterministic)
      and the fraction of the document's characters its occurrences
      cover: ``count * len(gram) / len(text)``.
    * ``dup{dup_n}_char_frac``: characters across ALL occurrences of
      duplicated ``dup_n``-grams over total characters (the common
      public implementation of "fraction of characters in duplicate
      n-grams"; overlapping grams are each counted, so the ratio can
      exceed 1 on pathological inputs — it is a filter signal, not a
      probability).

    Shape: pure per-row array HOFs — per-doc distinct grams x instance
    counts is O(tokens²) bounded by document length, embarrassingly
    parallel, zero exchanges. Documents shorter than n grams get
    fraction 0.0 and a NULL gram.
    """
    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    chars = F.length(F.col(text_col)).cast("double")

    def grams(n: int) -> Column:
        cnt = F.size(toks) - n + 1
        idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i, n), " ")
        )

    def counted(g: Column) -> Column:
        # (count, gram) per distinct gram — bound the gram array once
        # so it isn't re-evaluated per distinct element
        return F.element_at(
            F.transform(
                F.array(g),
                lambda ga: F.transform(
                    F.array_distinct(ga),
                    lambda x: F.struct(
                        F.size(F.filter(ga, lambda y: y == x)).alias("c"),
                        x.alias("g"),
                    ),
                ),
            ),
            1,
        )

    def top_struct(st: Column) -> Column:
        """(gram, frac) from a BOUND stats array — st is a lambda
        variable, so the O(tokens²) counting behind it is evaluated
        once however many times this body references it. Sort by
        (-count, gram): max count first, lexicographic tie; F.get
        (NULL past the end), NOT element_at — ANSI mode throws on
        index 1 of the empty stats a too-short document produces."""
        top = F.get(
            F.array_sort(
                F.transform(
                    st,
                    lambda s: F.struct(
                        (-s["c"]).alias("nc"), s["g"].alias("g")
                    ),
                )
            ),
            0,
        )
        return F.struct(
            top["g"].alias("g"),
            F.when(
                F.size(st) > 0,
                (-top["nc"]).cast("double")
                * F.length(top["g"]).cast("double")
                / chars,
            )
            .otherwise(F.lit(0.0))
            .alias("frac"),
        )

    # each __ts{n} is materialised as its OWN column before the field
    # extraction below: the struct is referenced twice (gram + frac),
    # and CollapseProject refuses to inline a non-cheap expression used
    # more than once — without this the counting would re-run per field
    out = df
    for n in top_ns:
        out = out.withColumn(
            f"__ts{n}",
            F.get(F.transform(F.array(counted(grams(n))), top_struct), 0),
        )
    dup_stats = counted(grams(dup_n))  # referenced exactly once below
    dup_chars = F.aggregate(
        F.filter(dup_stats, lambda s: s["c"] > 1),
        F.lit(0.0),
        lambda acc, s: acc
        + s["c"].cast("double") * F.length(s["g"]).cast("double"),
    )
    cols: dict = {}
    for n in top_ns:
        cols[f"top{n}_gram"] = F.col(f"__ts{n}")["g"]
        cols[f"top{n}_char_frac"] = F.col(f"__ts{n}")["frac"]
    cols[f"dup{dup_n}_char_frac"] = F.when(
        chars > 0, dup_chars / chars
    ).otherwise(F.lit(0.0))
    return out.withColumns(cols).drop(
        *[f"__ts{n}" for n in top_ns]
    )


def normalize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out: str | None = None
) -> DataFrame:
    """L2-normalise an array<float|double> column (double output).
    Zero vectors stay zero."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    unit = F.when(norm > 0, F.transform(v, lambda x: x / norm)).otherwise(v)
    return df.withColumn(out or vec_col, unit)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out: str | None = None,
    bits: int = 8,
) -> DataFrame:
    """Symmetric integer quantisation: scale = (2^(bits-1)-1) / max|x|,
    q_i = floor(x_i * scale + 0.5) — floor-based rounding so every
    engine computes the identical integer. Adds ``{out}_scale`` for
    dequantisation. All-zero vectors quantise to zeros with scale 0."""
    qmax = float(2 ** (bits - 1) - 1)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = F.when(amax > 0, F.lit(qmax) / amax).otherwise(F.lit(0.0))
    q = F.transform(v, lambda x: F.floor(x * scale + 0.5).cast("int"))
    name = out or f"{vec_col}_q"
    return df.withColumns({name: q, f"{name}_scale": scale})


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 10,
    line_sep: str = "\n",
) -> DataFrame:
    """C4-style boilerplate removal: drop every line whose normalised
    fingerprint appears in >= ``min_docs`` distinct documents (cookie
    banners, nav menus, newsletter prompts), then reassemble documents
    in original line order. Docs left with zero lines disappear.

    Shuffle profile: one groupBy on the line fingerprint for document
    frequency, a BROADCAST anti-join against the boilerplate set (by
    construction tiny: only fingerprints passing the min_docs bar), and
    one groupBy to reassemble — the two big shuffles are both on
    well-distributed hash keys, and the quadratic trap (joining lines
    to lines) never occurs. The split+explode+md5 line subtree feeds
    both the frequency aggregate and the anti-join, so it EVALUATES
    TWICE — deliberate: it is cheap codegen'd expression work, and
    materialising the exploded corpus (cache/localCheckpoint) would
    cost more than recomputing it. Returns (id, text, n_lines kept).
    """
    from pyspark.sql import functions as F

    # F.split takes a Java regex; \Q...\E quotes the separator so any
    # metacharacter ('|', '.', '\r\n') splits literally
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + line_sep + "\\E")
        ).alias("pos", "line"),
    ).withColumn("fp", F.md5(F.trim(F.lower(F.col("line")))))

    boiler = (
        lines.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("fp")
    )

    kept = lines.join(F.broadcast(boiler), on="fp", how="left_anti")
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("pos", "line"))),
        lambda s: s.line,
    )
    return kept.groupBy(id_col).agg(
        F.array_join(ordered, line_sep).alias(text_col),
        F.count(F.lit(1)).alias("n_lines"),
    )


def assign_packs(
    df: DataFrame,
    tokens_col: str = "chunk_tokens",
    context_len: int = 2048,
    partition_cols: tuple[str, ...] = (),
    order_cols: tuple[str, ...] = ("doc_id", "chunk_index"),
) -> DataFrame:
    """Concat-and-split sequence packing: lay chunks end-to-end in
    deterministic ``order_cols`` order and cut every ``context_len``
    tokens — ``pack_id = floor(exclusive-prefix-sum / context_len)``,
    plus the chunk's offset inside its pack. The standard GPT-style
    pretraining pack; chunks longer than ``context_len`` are rejected
    loudly rather than silently truncated.

    ``partition_cols`` shards the packing (e.g. by source or shard key)
    so the prefix sum is a per-shard window, not a global sort: at
    corpus scale a global total order is one giant range exchange,
    while per-shard packing is embarrassingly parallel and equally
    valid training-wise. Empty ``partition_cols`` gives the exact
    single-stream layout for oracle parity at test scale.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy(*partition_cols) if partition_cols else Window.partitionBy()
    ).orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, -1)
    prefix = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    oversized = F.col(tokens_col) > context_len
    return df.select(
        "*",
        F.when(
            oversized,
            F.raise_error(
                F.concat(
                    F.lit(f"assign_packs: chunk exceeds context_len={context_len}: "),
                    F.col(tokens_col).cast("string"),
                )
            ),
        )
        .otherwise(F.floor(prefix / context_len))
        .cast("long")
        .alias("pack_id"),
        (prefix % context_len).cast("long").alias("pack_offset"),
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    temperature: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Quality-weighted importance sampling: keep each row with
    probability ``weight ** (1/temperature)`` (weights in [0, 1] —
    typically a quality score). ``temperature`` reshapes the mixture the
    way data-mixture tuning does: T > 1 flattens toward uniform, T < 1
    sharpens toward the high-weight head, T = 1 samples proportionally.

    The coin flip is ``md5(id + salt)`` — deterministic per doc, so the
    same corpus always yields the same sample (and ``salt`` draws an
    independent one); re-runs, retries, and other engines agree. One
    codegen'd filter, no shuffle, no RNG state.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    w = F.col(weight_col).cast("double")
    # NULL weights must fail the guard too — (w < 0) | (w > 1) is NULL
    # for NULL w, which would silently drop the row instead of erroring
    bad = w.isNull() | (w < 0) | (w > 1)
    prob = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(f"weighted_sample: {weight_col} outside [0,1]: "),
                F.coalesce(w.cast("string"), F.lit("NULL")),
            )
        ),
    ).otherwise(F.pow(w, F.lit(1.0 / temperature)))
    u = sample_bucket(id_col, salt).cast("double") / F.lit(float(SAMPLE_BUCKETS))
    return df.filter(u < prob)


def cardinality_stats(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("lang",),
    fingerprint_col: str = "fp",
    approx: bool = True,
    rsd: float = 0.02,
) -> DataFrame:
    """Per-group corpus cardinality: rows, distinct fingerprints, and the
    implied duplicate ratio — the dedup-rate monitor.

    ``approx=True`` (default) uses ``approx_count_distinct`` — a
    HyperLogLog++ sketch with relative standard deviation ``rsd`` and a
    few KB of fixed per-group state, mergeable map-side — which is the
    only viable form at corpus scale: exact COUNT(DISTINCT) re-shuffles
    every distinct value. ``approx=False`` is the small-data/audit form.
    """
    distinct = (
        F.approx_count_distinct(fingerprint_col, rsd)
        if approx
        else F.count_distinct(F.col(fingerprint_col))
    )
    n = F.count(F.lit(1))
    return df.groupBy(*group_cols).agg(
        n.alias("n_docs"),
        distinct.alias("n_distinct"),
        # the HLL estimate can exceed the row count within its rsd;
        # clamp so the monitor never reports a negative duplicate ratio
        F.greatest(
            F.lit(0.0),
            F.lit(1.0) - distinct.cast("double") / n.cast("double"),
        ).alias("dup_ratio"),
    )


def percentile_filter(
    df: DataFrame,
    score_col: str,
    keep_top: float = 0.5,
    partition_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Per-group quality gate: keep each group's top ``keep_top``
    fraction by ``score_col`` using ``cume_dist`` — kept iff the
    fraction of the group scoring at or below this row EXCEEDS
    ``1 - keep_top``. Distribution-based, so equal scores share a fate,
    the kept fraction is AT LEAST ``keep_top`` (a tie class spanning
    the cut is kept whole), and the top tie class is always kept —
    including the degenerate all-tied group, where percent_rank would
    rank everyone 0 and keep nothing (a real property-test find).
    Deterministic in every engine with no tiebreak column, since
    cume_dist depends only on the score ordering.

    Rows are RETAINED with a boolean ``kept`` rather than filtered, so
    callers can audit the cut before applying it (``.filter("kept")``).

    Scale: one window shuffle on ``partition_cols`` — per-language
    partitions at corpus scale are large but AQE-splittable; the
    alternative (a two-pass approx-quantile threshold + map-side
    filter) avoids the big window when the audit column is not needed:
    that variant is ``threshold_filter`` below.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not 0.0 < keep_top <= 1.0:
        raise ValueError(f"keep_top must be in (0, 1], got {keep_top}")
    w = Window.partitionBy(*partition_cols).orderBy(F.col(score_col).asc())
    cd = F.cume_dist().over(w)
    return df.select(
        "*",
        cd.alias("score_cume_dist"),
        (cd > 1.0 - keep_top).alias("kept"),
    )


def threshold_filter(
    df: DataFrame,
    score_col: str,
    keep_top: float = 0.5,
    partition_cols: tuple[str, ...] = ("lang",),
    relative_error: float = 0.001,
) -> DataFrame:
    """Scale path for ``percentile_filter``: compute each group's
    (1 - keep_top) quantile with ``approx_percentile`` (one small
    aggregate), broadcast the per-group thresholds back, and filter
    map-side — no full-width window, no rank shuffle of the corpus.
    Approximate at the boundary (by ``relative_error``), which is the
    standard trade for corpus-scale quality gates."""
    from pyspark.sql import functions as F

    if not 0.0 < keep_top <= 1.0:
        raise ValueError(f"keep_top must be in (0, 1], got {keep_top}")
    thresholds = df.groupBy(*partition_cols).agg(
        F.expr(
            f"approx_percentile({score_col}, {1.0 - keep_top}, "
            f"{int(1.0 / relative_error)})"
        ).alias("__score_threshold")
    )
    joined = df.join(F.broadcast(thresholds), list(partition_cols), "left")
    return joined.select(
        *df.columns,
        (F.col(score_col) >= F.col("__score_threshold")).alias("kept"),
    )


def extract_domain(url_col):
    """Registrable-host extraction from a URL column: strip scheme,
    userinfo, port, path. Plain RE2-compatible regex (no lookaround) so
    the same pattern runs in any engine."""
    from pyspark.sql import functions as F

    c = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    host = F.regexp_replace(host, r"^[^@]*@", "")   # userinfo
    host = F.regexp_replace(host, r":[0-9]+$", "")  # port
    return F.lower(host)


def cap_per_group(
    df: DataFrame,
    group_col: str = "domain",
    max_per_group: int = 1000,
    order_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Per-source volume cap (the C4/RefinedWeb "max N pages per
    domain" rule): keep at most ``max_per_group`` rows per group,
    chosen by ``order_cols`` (ascending — pass a negated score column
    to keep best-first). Rows are RETAINED with ``group_rank`` and a
    boolean ``kept`` so the cut is auditable before ``.filter("kept")``.

    One window shuffle on ``group_col``. A mega-domain (crawl dup farm)
    is exactly the case the cap exists for; its window partition is
    large but single-key, which AQE skew handling splits — and the
    output it feeds drops to ``max_per_group`` rows regardless.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if max_per_group < 1:
        raise ValueError(f"max_per_group must be >= 1, got {max_per_group}")
    w = Window.partitionBy(group_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    rn = F.row_number().over(w)
    return df.select(
        "*",
        rn.cast("long").alias("group_rank"),
        (rn <= max_per_group).alias("kept"),
    )


def histogram_fixed(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int,
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Equi-width histogram with FIXED bounds (dashboard distributions,
    drift monitors): bucket = clamp(floor((x - lo) / width)), counted
    per (partition, bucket). Fixed bounds keep the operator one pass
    and engine-exact — data-driven bounds would need a pre-scan (see
    ``with_scalars``) and IEEE-identical width derivation.

    Out-of-range rows clamp to the edge buckets, so mass is conserved.
    One groupBy shuffle on (partitions, bucket) — tiny output.
    """
    from pyspark.sql import functions as F

    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    width = (hi - lo) / bins
    x = F.col(value_col).cast("double")
    raw = F.floor((x - F.lit(lo)) / F.lit(width))
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("long")
    out = df.select(*partition_cols, bucket.alias("bucket"))
    return (
        out.groupBy(*partition_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *partition_cols,
            "bucket",
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("bucket_lo"),
            "n",
        )
    )


def ntile_summary(
    df: DataFrame,
    value_col: str,
    n_tiles: int = 10,
    tiebreak_cols: tuple[str, ...] = ("doc_id",),
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Equi-depth distribution summary: NTILE(n) over a totalised order
    (``tiebreak_cols`` break value collisions, so the tile boundaries
    are deterministic in every engine), reduced to one row per tile with
    count / min / max. The equal-mass companion to the equal-width
    ``histogram_fixed``.

    One rank-window shuffle + a tiny tile aggregate. The scale
    alternative when per-row tiles are not needed is approx_percentile
    boundaries (see ``threshold_filter``); this exact form is for
    audit-grade distribution tables.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if n_tiles < 1:
        raise ValueError(f"n_tiles must be >= 1, got {n_tiles}")
    w = Window.partitionBy(*partition_cols).orderBy(
        F.col(value_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]
    )
    tiled = df.select(
        *partition_cols,
        F.col(value_col).cast("double").alias("__v"),
        F.ntile(n_tiles).over(w).alias("tile"),
    )
    return tiled.groupBy(*partition_cols, "tile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__v").alias("tile_min"),
        F.max("__v").alias("tile_max"),
    ).select(
        *partition_cols, F.col("tile").cast("long").alias("tile"),
        "n", "tile_min", "tile_max",
    )


def key_skew_stats(
    df: DataFrame,
    key_cols: tuple[str, ...],
    top_k: int = 10,
) -> DataFrame:
    """Heavy-hitter diagnostics for a prospective shuffle/join key: the
    ``top_k`` keys by row count with their share of the total — the
    first thing to run before keying a 100 TB shuffle (a >1% single key
    means salting or AQE skew handling; see ``operators/skew.py``).

    One groupBy on the key (map-side partial agg), a 1-row total
    broadcast, and a TakeOrdered for the top-k — no global sort. Share
    is an integer/integer division, engine-exact.
    """
    from pyspark.sql import functions as F

    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("__total").cast("double"))
            .alias("share"),
        )
        .orderBy(F.col("n_rows").desc(), *[F.col(c).asc() for c in key_cols])
        .limit(top_k)
    )


def common_token_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-commonness quality signal: how "ordinary" a document's
    vocabulary is, scored as ``sum(term_df) / (n_tokens * N)`` — the
    mean per-token document-frequency share. Gibberish/rare-token docs
    score near 1/N; stopword-heavy prose scores high. The log-free
    cousin of a unigram-LM perplexity score, built so every intermediate
    is an INTEGER sum (order-independent, engine-exact) with a single
    final division.

    Plan: explode -> per-term df -> join back (vocabulary-sized side) ->
    per-doc integer sum; N rides a 1-row broadcast.
    """
    from pyspark.sql import functions as F

    from .text import tokens

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    dfreq = toks.groupBy("term").agg(F.countDistinct(id_col).alias("__df"))
    n_docs = df.agg(F.countDistinct(id_col).alias("__n"))
    per_doc = (
        toks.join(dfreq, "term")
        .groupBy(id_col)
        .agg(
            F.sum("__df").alias("__df_sum"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    return per_doc.crossJoin(F.broadcast(n_docs)).select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (
            F.col("__df_sum").cast("double")
            / (F.col("n_tokens") * F.col("__n")).cast("double")
        ).alias("commonness"),
    )


def profile_table(
    df: DataFrame,
    cols: tuple[str, ...],
    exact_distinct: bool = True,
) -> DataFrame:
    """Per-column data-quality profile: one output row per column with
    row count, null count, and distinct count — the QA table a release
    gate reads before publishing.

    All columns profile in ONE aggregate pass (count + conditional
    count + count_distinct per column in a single groupBy-less agg —
    partial aggregation map-side, one 1-row result), then the wide
    result unpivots to (column, n_rows, n_nulls, n_distinct) rows via a
    literal stack — no per-column scans, no shuffle beyond the grand
    agg. ``exact_distinct=False`` swaps approx_count_distinct in (HLL,
    mergeable) for corpus-scale profiling where exact uniques would
    dominate cost.
    """
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("profile_table: empty column list")
    distinct = (
        F.count_distinct if exact_distinct else F.approx_count_distinct
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}")
        )
        aggs.append(distinct(F.col(c)).alias(f"__dist_{c}"))
    wide = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', __nulls_{c}, __dist_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stacked}) AS (column_name, n_nulls, n_distinct)",
        "__n AS n_rows",
    ).select(
        "column_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


def mixture_rebalance(
    df: DataFrame,
    targets: Mapping[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "",
    max_strata: int = 10_000,
) -> DataFrame:
    """Resample a corpus to a TARGET mixture (the data-mixture tuning
    step): given desired output fractions per stratum, compute the
    per-stratum keep rate that achieves the mixture with maximal
    retained volume — scale ``C = min_l(n_l / p_l)``, keep rate
    ``C * p_l / n_l`` — then apply the md5-bucket coin from
    ``stratified_sample`` (deterministic, engine-independent, salted).

    Strata absent from ``targets`` drop entirely. All arithmetic is
    exact integer counts and one double ratio per stratum, computed on
    a tiny aggregate and broadcast back; the corpus itself sees one
    codegen'd filter. Rates are exact at the bucket granularity
    (1/10000) — the standard trade for reproducible sampling.

    The count aggregate is an ACTION: ``df``'s plan executes once for
    the counts and again for the filtered output. Fine over a scan;
    when ``df`` is an expensive upstream chain, cache or checkpoint it
    first so the chain runs once.
    """
    from pyspark.sql import functions as F

    if not targets:
        raise ValueError("mixture_rebalance: empty targets")
    total_p = sum(targets.values())
    if not 0.999 <= total_p <= 1.001:
        raise ValueError(
            f"mixture_rebalance: target fractions must sum to 1, got {total_p}"
        )
    if len(targets) > max_strata:
        raise ValueError(
            f"mixture_rebalance: {len(targets)} target strata exceeds "
            f"max_strata={max_strata}"
        )
    # LOUD driver-side bound (mirrors probe_hot_keys / the similarity
    # max_* guards): the per-stratum count dict is collected to the
    # driver, so a high-cardinality stratum column (a doc id passed by
    # mistake) must fail with a message, not OOM the driver.
    count_rows = (
        df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(max_strata + 1)
        .collect()
    )
    if len(count_rows) > max_strata:
        raise ValueError(
            f"mixture_rebalance: stratum column {stratum_col!r} has more "
            f"than max_strata={max_strata} distinct values — pass a "
            "coarser stratum (language/source), or raise max_strata if "
            "the cardinality is genuinely intended"
        )
    counts = {r[0]: r[1] for r in count_rows}
    missing = [s for s in targets if s not in counts]
    if missing:
        raise ValueError(
            f"mixture_rebalance: target strata absent from data: {missing}"
        )
    scale = min(counts[s] / p for s, p in targets.items() if p > 0)
    rates = {
        s: min(1.0, scale * p / counts[s]) for s, p in targets.items()
    }
    return stratified_sample(
        df, rates, stratum_col=stratum_col, id_col=id_col, salt=salt
    )


def split_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    val_fraction: float = 0.05,
    test_fraction: float = 0.05,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment via the md5-coin: each
    row lands in exactly one split by its id hash — reproducible across
    runs, engines, partitionings, and corpus growth (a doc's split
    NEVER changes when other docs arrive, the property seeded
    randomSplit lacks). Map-side expression, zero shuffle.

    Fractions are in bucket units of 1/SAMPLE_BUCKETS (10_000); the
    first ``val`` buckets are validation, the next ``test`` buckets are
    test, the rest train.
    """
    if val_fraction < 0 or test_fraction < 0 or val_fraction + test_fraction >= 1:
        raise ValueError(
            f"invalid fractions: val={val_fraction} test={test_fraction}"
        )
    b = sample_bucket(id_col, salt=salt)
    # round, not int(): 0.15 * 10000 is 1499.999... in binary floating
    # point and truncation would silently drop a bucket
    val_hi = round(val_fraction * SAMPLE_BUCKETS)
    test_hi = val_hi + round(test_fraction * SAMPLE_BUCKETS)
    split = (
        F.when(b < val_hi, F.lit("val"))
        .when(b < test_hi, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def assign_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shard",
) -> DataFrame:
    """Deterministic shard id + within-shard position for training-data
    output layout: shard = id-hash mod n_shards (map-side, stable under
    corpus growth within a shard count), position = rank of the shuffle
    key within the shard (the reproducible "global shuffle" — two docs'
    relative order is fixed by their hashes, not input order).

    ONE shuffle: the rank window hashes on shard id; each shard sorts
    locally. n_shards is the parallel unit a writer fans out on — at
    100 TB pick n_shards >> executor count and no single sort exceeds
    a shard's volume. The full corpus is never globally sorted.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = md5_prefix_long(
        F.concat(F.col(id_col).cast("string"), F.lit(salt))
    )
    w = Window.partitionBy("shard_id").orderBy("__key", id_col)
    return (
        df.withColumn("__key", key)
        .withColumn("shard_id", (F.col("__key") % n_shards).cast("long"))
        .withColumn(
            "shard_pos", (F.row_number().over(w) - 1).cast("long")
        )
        .drop("__key")
    )


def moment_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    scale: str = "decimal(38,8)",
) -> DataFrame:
    """Exact-moment second-order statistics per group: mean / sample
    stddev of ``x_col``, and sample covariance / Pearson correlation of
    (``x_col``, ``y_col``).

    Spark's ``stddev``/``corr`` accumulate doubles, so their low bits
    depend on partitioning — no exact cross-engine oracle. This
    operator instead aggregates the five raw moments (sum x, sum x^2,
    sum y, sum y^2, sum xy) as EXACT decimals (order- and
    partition-independent; inputs with <= 4 fractional digits make the
    products exact at scale 8, so no rounding ever occurs), then
    derives the statistics with one fixed double-arithmetic formula —
    the same operand values and operation order in any engine give
    bit-identical IEEE results. The shuffle carries five decimals + a
    count per group: constant state, map-side combined, the same cost
    as a plain sum.

    The decimal->double step goes THROUGH A STRING: sums exceed 2^53
    in scaled units, and engines disagree in the last ulp of a direct
    decimal->double cast (DuckDB's is not correctly rounded), while
    string->double parsing is correctly rounded everywhere — identical
    decimals therefore yield identical doubles.
    """
    x = F.col(x_col).cast("decimal(18,6)")
    y = F.col(y_col).cast("decimal(18,6)")
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(scale)).alias("__sx"),
        F.sum((x * x).cast(scale)).alias("__sxx"),
        F.sum(y.cast(scale)).alias("__sy"),
        F.sum((y * y).cast(scale)).alias("__syy"),
        F.sum((x * y).cast(scale)).alias("__sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("__sx").cast("string").cast("double")
    sxx = F.col("__sxx").cast("string").cast("double")
    sy = F.col("__sy").cast("string").cast("double")
    syy = F.col("__syy").cast("string").cast("double")
    sxy = F.col("__sxy").cast("string").cast("double")
    mss_x = sxx - sx * sx / nd          # n * var_pop(x)
    mss_y = syy - sy * sy / nd
    co = sxy - sx * sy / nd             # n * covar_pop
    n_gt1 = F.col("n") > 1
    return agg.select(
        *group_cols,
        "n",
        (sx / nd).alias("mean_x"),
        F.when(n_gt1, F.sqrt(mss_x / (nd - F.lit(1.0)))).alias("stddev_x"),
        F.when(n_gt1, co / (nd - F.lit(1.0))).alias("covar_xy"),
        F.when(
            n_gt1 & (mss_x > 0) & (mss_y > 0),
            co / (F.sqrt(mss_x) * F.sqrt(mss_y)),
        ).alias("corr_xy"),
    )


def zorder_key(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Z-order (Morton) interleave of the low ``bits`` bits of each
    column — the multi-dimensional clustering key for write layout.

    Sorting a table by this key before writing co-locates rows that are
    close in EVERY dimension, so per-file min/max statistics prune scans
    filtered on ANY of the interleaved columns (the data-skipping
    technique behind Delta/Iceberg OPTIMIZE ZORDER; at 100 TB the
    difference between reading one file group and all of them). Pure
    integer bit arithmetic — exact in any engine; inputs are taken
    modulo 2^bits (callers quantize wider domains first).
    """
    n = len(cols)
    if not 1 <= n * bits <= 63:
        raise ValueError(f"total interleaved bits must fit a long, got {n}x{bits}")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    out = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            out = out + F.shiftleft(
                F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)),
                i * n + j,
            )
    return out


def zorder_sql(col_names: Sequence[str], bits: int = 16) -> str:
    """The ANSI-SQL twin of ``zorder_key`` (same term order, exact
    integer arithmetic) for oracle queries."""
    n = len(col_names)
    terms = [
        f"((({c} >> {i}) & 1) << {i * n + j})"
        for i in range(bits)
        for j, c in enumerate(col_names)
    ]
    return "(" + " + ".join(terms) + ")"


def table_checksum(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Order-independent content checksum: per-row 60-bit md5 of the
    canonical row encoding, summed exactly per group — the integrity
    primitive for verifying a copy/migration/replication of a table
    without moving or sorting it (at 100 TB the ONLY affordable
    verification is a one-pass commutative digest on each side).

    Row encoding: LENGTH-PREFIXED tokens — NULL encodes as ``N``, a
    value as ``V<byte-length>:<value>`` — concatenated in column
    order. Each token self-delimits, so the encoding is injective for
    ANY string content: a sentinel-based scheme (NULL -> \\x00, \\x01
    separators) would collide a literal sentinel string with NULL and
    make values containing the separator ambiguous across columns —
    for an integrity primitive, a silent false-pass is the worst
    failure mode. Reproducible in any engine with md5 + a byte-length
    function (callers cast floats to a fixed-scale decimal first; raw
    float->string formatting is engine-specific). The sum rides a
    DECIMAL(38,0) (exact, commutative, constant state per group);
    emitted as a string so no downstream double conversion can clip it.
    """
    if cols is None:
        cols = [c for c in df.columns if c not in set(group_cols)]

    def token(c: str) -> Column:
        s = F.col(c).cast("string")
        return F.when(s.isNull(), F.lit("N")).otherwise(
            F.concat(
                F.lit("V"),
                F.octet_length(s).cast("string"),
                F.lit(":"),
                s,
            )
        )

    encoded = F.concat(*[token(c) for c in cols])
    row_hash = md5_prefix_long(encoded).cast("decimal(38,0)")
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash).cast("string").alias("checksum"),
    )


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_cols: Sequence[str] = (),
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via priority sampling
    (Duffield-Lund-Thorup): keep the k highest priorities ``w / u``
    per group, where ``u`` is the row's deterministic md5 uniform —
    heavier rows are proportionally likelier to survive, every row has
    a nonzero chance, and re-runs/engines agree exactly (the
    ``weighted_sample`` Bernoulli pass can't fix its output SIZE; this
    can't fix its inclusion probabilities — complementary tools).

    The priority is ONE double division of engine-identical operands
    (both long->double casts are correctly rounded everywhere), so the
    ORDERING is engine-identical; priority ties break by id, making
    the kept set fully deterministic even at the cut boundary. One
    window over ``group_cols``: the same single-exchange shape as
    every other per-group ranker here.

    Weight contract: NULL or negative weights raise loudly (they would
    rank with meaningless priorities, silently corrupting the
    inclusion-probability guarantee). Weight == 0 is a LEGITIMATE
    value with inclusion probability exactly 0 — ``dsir_importance``
    emits ``importance_mass = 0`` for empty documents by design — so
    zero-weight rows are deterministically filtered out before
    ranking, never selected, never an error.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = md5_prefix_long(
        F.concat(F.col(id_col).cast("string"), F.lit(salt))
    )
    # md5_prefix_long is in [0, 2^60); avoid div-by-zero on the one-in-
    # 2^60 zero draw by clamping to 1 (both engines, same clamp)
    u = F.greatest(u, F.lit(1))
    wv = F.col(weight_col).cast("double")
    # NULL / NaN / negative: loud raise (silent inclusion-probability
    # corruption is worse than a failed job — and NaN would sail
    # through a < 0 check, then rank FIRST under desc ordering because
    # Spark sorts NaN above every finite double). Zero: filtered below
    # — a zero weight means "never select", which the filter
    # implements exactly and deterministically.
    wv = F.when(
        wv.isNull() | F.isnan(wv) | (wv < 0),
        F.raise_error(
            F.concat(
                F.lit(f"priority_sample: {weight_col} must be >= 0, got "),
                F.coalesce(F.col(weight_col).cast("string"), F.lit("NULL")),
            )
        ).cast("double"),
    ).otherwise(wv)
    priority = wv / u.cast("double")
    win = Window.partitionBy(*group_cols).orderBy(
        F.desc("__priority"), F.asc(id_col)
    )
    return (
        df.withColumn("__priority", priority)
        .filter(F.col("__priority") > 0)
        .withColumn("__rk", F.row_number().over(win))
        .filter(F.col("__rk") <= k)
        .drop("__priority", "__rk")
    )


def _dsir_grams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hashed-n-gram feature stream for DSIR: unigrams plus
    ``\\x01``-joined bigrams, one row per occurrence. Explode is
    narrow — the stream never shuffles until it is aggregated."""
    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    base = df.select(F.col(id_col), toks.alias("__tk"))
    n = F.size("__tk")
    bigrams = F.transform(
        F.slice("__tk", 1, F.greatest(n - 1, F.lit(0))),
        lambda x, i: F.concat_ws("\x01", x, F.element_at(F.col("__tk"), i + 2)),
    )
    return base.select(
        F.col(id_col),
        F.explode(F.concat(F.col("__tk"), bigrams)).alias("__g"),
    )


def dsir_importance(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    mode: str = "rational",
    scale: int = 1_000_000,
    clip_cap: int = 10**12,
    alpha: float = 1.0,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    NeurIPS — public algorithm): score every raw document by how much
    more likely its hashed n-gram features are under a TARGET domain's
    bag-of-ngrams model than under the raw corpus's own model. The
    selection primitive behind domain-matched pretraining mixes.

    Distributed shape (the 100 TB story): unigram+bigram explode is
    narrow; the only corpus-sized shuffles are the two bucket count
    aggregations (map-side combine onto at most ``n_buckets`` rows)
    and the final per-doc rollup keyed on ``id_col``. The bucket model
    is FIXED-SIZE — ``n_buckets`` rows, loud-guarded ≤ 2^20 — so it
    collects to the driver (Python big-int ratio arithmetic, no
    overflow at any corpus size) and broadcasts back; the scoring join
    is a broadcast hash join, never a shuffle.

    ``mode="rational"`` (oracle-gated): per-bucket importance ratio in
    integer fixed point —

        ratio_b = clip(((t_b+1)·(R+m)·scale) // ((r_b+1)·(T+m)), 1, cap)

    with t/r the target/raw bucket counts, T/R their totals, m the
    bucket count (add-one smoothing on both models; DSIR's weight
    clipping keeps never-seen-in-raw buckets from dominating). The
    per-doc ``importance_mass`` is an exact BIGINT sum of ratios over
    gram occurrences; ``importance`` is ONE double division
    ``mass / (n_grams · scale)`` so DuckDB hashes match bit-for-bit.

    ``mode="log"`` (production): the paper's actual log importance
    weight ``Σ_g [ln p_target(b(g)) − ln p_raw(b(g))]`` with add-alpha
    smoothing — libm ``ln`` is last-ulp engine-dependent, so this mode
    is pytest-verified against a pure-Python reference (same contract
    as bigram_lm_score's log mode).

    Resample with ``priority_sample(scored, k,
    weight_col="importance_mass")`` — weighted-without-replacement on
    the exact integer weights (clip keeps them positive).
    """
    if mode not in ("rational", "log"):
        raise ValueError(f"mode must be 'rational' or 'log', got {mode!r}")
    if not 1 <= n_buckets <= 1 << 20:
        raise ValueError(
            f"n_buckets must be in [1, 2^20] (the model collects to the "
            f"driver), got {n_buckets}"
        )
    bucket = md5_prefix_long(F.col("__g")) % n_buckets

    raw_grams = _dsir_grams(df, id_col, text_col)
    tgt_grams = _dsir_grams(target, id_col, text_col)
    raw_cnt = raw_grams.groupBy(bucket.alias("__b")).agg(
        F.count(F.lit(1)).alias("__r")
    )
    tgt_cnt = tgt_grams.groupBy(bucket.alias("__b")).agg(
        F.count(F.lit(1)).alias("__t")
    )
    # FULL outer: a target-only bucket (the normal case for an external
    # target domain) contributes no LUT row — raw grams can never hash
    # to it — but its count MUST enter the target total T, or every
    # ratio's (T + m) normaliser undercounts and the scores diverge
    # from the documented formula (a left join silently dropped these)
    # small by construction: at most n_buckets rows
    model_rows = raw_cnt.join(tgt_cnt, "__b", "full_outer").collect()
    model = {
        int(row["__b"]): (int(row["__r"]), int(row["__t"] or 0))
        for row in model_rows
        if row["__r"] is not None
    }
    R = sum(r for r, _ in model.values())
    T = sum(int(row["__t"] or 0) for row in model_rows)
    m = n_buckets

    spark = df.sparkSession
    if mode == "rational":
        rows = [
            (
                b,
                max(
                    1,
                    min(
                        int(clip_cap),
                        ((t + 1) * (R + m) * scale) // ((r + 1) * (T + m)),
                    ),
                ),
            )
            for b, (r, t) in model.items()
        ]
        lut = spark.createDataFrame(rows, "__b long, __ratio long")
        scored = (
            raw_grams.withColumn("__b", bucket)
            .join(F.broadcast(lut), "__b")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum("__ratio").alias("importance_mass"),
            )
        )
        return df.select(id_col).join(scored, id_col, "left").select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("importance_mass", F.lit(0)).alias("importance_mass"),
            F.when(
                F.col("n_grams") > 0,
                F.col("importance_mass").cast("double")
                / (F.col("n_grams") * scale).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("importance"),
        )

    import math

    rows = [
        (
            b,
            math.log((t + alpha) / (T + alpha * m))
            - math.log((r + alpha) / (R + alpha * m)),
        )
        for b, (r, t) in model.items()
    ]
    lut = spark.createDataFrame(rows, "__b long, __lw double")
    scored = (
        raw_grams.withColumn("__b", bucket)
        .join(F.broadcast(lut), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("__lw").alias("log_weight"),
        )
    )
    return df.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        F.when(
            F.col("n_grams") > 0, F.col("log_weight") / F.col("n_grams")
        )
        .otherwise(F.lit(0.0))
        .alias("avg_log_weight"),
    )


def validate_constraints(
    df: DataFrame,
    rules: Sequence[tuple],
    id_col: str = "doc_id",
) -> DataFrame:
    """Declarative data-quality audit — the constraint firewall an ETL
    runs before publishing a release (the reference's QA outputs are
    the ad-hoc version; this is the systematic one). Each rule is a
    tuple; all checks evaluate in ONE pass over the table (a single
    aggregation of conditional counters — no per-rule scans, no
    shuffle beyond the one partial-agg reduce), except referential
    rules which each add one broadcast-able anti-join count.

    Rules:
      ``("not_null", col)``                  — NULL values
      ``("unique", col)``                    — duplicated values
      ``("range", col, lo, hi)``             — values outside [lo, hi]
      ``("regex", col, pattern)``            — non-NULL values NOT matching
      ``("accepted", col, (v1, v2, ...))``   — values outside the set
      ``("referential", col, dim_df, dim_col)`` — values absent from dim

    Returns one row per rule: ``(rule, col_name, violations BIGINT,
    sample_key)`` where sample_key is the MINIMUM ``id_col`` among
    violating rows (deterministic, engine-agnostic) or NULL when the
    rule holds. A release gate is then ``violations == 0`` over the
    frame.
    """
    if not rules:
        raise ValueError(
            "validate_constraints: rules must be non-empty (an audit "
            "with zero rules is a config bug, not a clean release)"
        )
    single_pass: list = []  # (rule, column, violation predicate)
    extra_frames: list = []
    for rule in rules:
        kind, col = rule[0], rule[1]
        if kind == "not_null":
            pred = F.col(col).isNull()
        elif kind == "range":
            lo, hi = rule[2], rule[3]
            pred = F.col(col).isNotNull() & (
                (F.col(col) < lo) | (F.col(col) > hi)
            )
        elif kind == "regex":
            pred = F.col(col).isNotNull() & ~F.col(col).rlike(rule[2])
        elif kind == "accepted":
            pred = F.col(col).isNotNull() & ~F.col(col).isin(
                *[F.lit(v) for v in rule[2]]
            )
        elif kind == "unique":
            # needs a per-value count — one extra aggregation, keyed on
            # the column (map-side combine; output is distinct values)
            dups = (
                df.groupBy(F.col(col).alias("__v"))
                .agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.min(id_col).alias("__k"),
                )
                .filter(F.col("__n") > 1)
                .agg(
                    F.lit("unique").alias("rule"),
                    F.lit(col).alias("col_name"),
                    F.coalesce(
                        F.sum(F.col("__n") - 1), F.lit(0)
                    ).cast("long").alias("violations"),
                    F.min("__k").cast("string").alias("sample_key"),
                )
            )
            extra_frames.append(dups)
            continue
        elif kind == "referential":
            dim_df, dim_col = rule[2], rule[3]
            missing = (
                df.filter(F.col(col).isNotNull())
                .join(
                    broadcast(
                        dim_df.select(F.col(dim_col).alias("__dim"))
                        .distinct()
                    ),
                    F.col(col) == F.col("__dim"),
                    "left_anti",
                )
                .agg(
                    F.lit("referential").alias("rule"),
                    F.lit(col).alias("col_name"),
                    F.count(F.lit(1)).cast("long").alias("violations"),
                    F.min(id_col).cast("string").alias("sample_key"),
                )
            )
            extra_frames.append(missing)
            continue
        else:
            raise ValueError(f"unknown constraint kind {kind!r}")
        single_pass.append((kind, col, pred))

    frames = list(extra_frames)
    if single_pass:
        aggs = []
        for kind, col, pred in single_pass:
            tag = f"{kind}__{col}"
            aggs.append(
                F.sum(F.when(pred, 1).otherwise(0))
                .cast("long")
                .alias(f"__v_{tag}")
            )
            aggs.append(
                F.min(F.when(pred, F.col(id_col)))
                .cast("string")
                .alias(f"__k_{tag}")
            )
        wide = df.agg(*aggs)
        rows = None
        for kind, col, _ in single_pass:
            tag = f"{kind}__{col}"
            one = wide.select(
                F.lit(kind).alias("rule"),
                F.lit(col).alias("col_name"),
                F.col(f"__v_{tag}").alias("violations"),
                F.col(f"__k_{tag}").alias("sample_key"),
            )
            rows = one if rows is None else rows.unionByName(one)
        frames.insert(0, rows)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
