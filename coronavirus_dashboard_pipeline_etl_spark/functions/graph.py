"""Iterative graph algorithms over DataFrame edge lists.

Companion to ``dedup.dedup_components`` (min-label propagation): this
module adds PageRank in an exactly-reproducible fixed-point form, the
iterative-algorithm showcase beyond connected components.

Why fixed-point: float PageRank sums per-node contributions, and double
addition is order-dependent — two engines (or two partitionings of the
same engine) disagree in the low bits, so no exact oracle is possible.
Storing rank as a BIGINT in units of 1e-12 ("micro-micro mass") makes
every step integer arithmetic: contributions use integer division
(deterministic truncation), per-node sums are exact and
order-independent, and the damping mix is an integer expression. The
result is bit-identical across engines, partition layouts, and AQE
decisions — the same trick as the decimal-exact Lloyd update in
``similarity.kmeans_lloyd(exact=True)``.

Scale design (100 TB): the edge list is hash-partitioned by source ONCE
and cached — InMemoryTableScan preserves that partitioning, so each
iteration shuffles only (a) the |nodes|-sized rank table onto src and
(b) the per-edge contributions onto dst (with map-side partial sums, so
the wire carries at most one row per (task, dst)). The edge list itself
is never re-shuffled or re-scanned from source after the first
materialisation. ``localCheckpoint`` truncates the rank lineage per
round, bounding the plan the way ``dedup_components`` does.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from ..store import pins

UNIT = 10**12  # one unit of rank mass, as a BIGINT fixed-point scale


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    teleport: Sequence[int] | None = None,
    dangling: str = "raise",
) -> DataFrame:
    """PageRank over a directed edge list, exact fixed-point arithmetic.

    Each node starts with ``UNIT`` mass; per iteration::

        contrib(u->v) = rank(u) div outdeg(u)          -- integer div
        rank'(v) = (15 * UNIT) div 100
                 + (85 * sum(contrib(u->v))) div 100   -- integer div

    Integer division truncates a deterministic sub-1e-12 remainder per
    edge, so total mass decays by a bounded, reproducible epsilon —
    the documented price of an exact cross-engine result.

    DANGLING NODES (nodes with in-edges but no out-edges — real
    web/citation graphs always have them) are handled per ``dangling``:

    - ``"raise"`` (default): one anti-join count at call time; a loud
      ``ValueError`` if any node lacks an out-edge. The right default
      because silently dropping dangling mass under-counts every
      downstream rank — the pre-r7 behavior, which also silently
      OMITTED sink-only nodes from the result.
    - ``"redistribute"``: classic PageRank semantics — each round, the
      summed rank of dangling nodes is split equally (integer ``div``
      by n_nodes; seeds only, under ``teleport``) and damped into every
      node alongside the edge contributions. The dangling sum rides a
      1-row aggregate crossJoin-broadcast per round (the engine's
      scalar pattern), so the loop's shuffle shape is unchanged. The
      node set — and the returned frame — covers sink-only nodes too.

    ``teleport`` switches to PERSONALIZED PageRank: the restart mass
    concentrates on the given seed nodes instead of spreading uniformly
    — each seed's per-round base term is ``(n_nodes * base) div
    len(teleport)`` (total restart mass preserved, integer-exact), all
    other nodes get restart 0 and hold only flowed-in mass. The
    standard proximity/recommendation primitive ("rank relative to
    this user/doc"); seeds ride an ``isin`` literal, so the loop shape
    and shuffle costs are identical to the uniform case. Dangling mass
    under ``redistribute`` returns to the seeds (equal integer split),
    matching the personalized restart distribution.

    Returns (node, rank_int, rank) where ``rank = rank_int / 1e12`` —
    one double division of identical operands, hence identical doubles.
    The iteration runs in one ``store.pins`` scope owned by
    ``pagerank_fixed_point``: the result reads that call's one pin
    until the next call releases it (finish consuming one result
    before the next call), and an error releases every pin the call
    took.
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    if teleport is not None and len(teleport) == 0:
        raise ValueError("teleport seed set must be non-empty")
    if dangling not in ("raise", "redistribute"):
        raise ValueError(
            f"dangling must be 'raise' or 'redistribute', got {dangling!r}"
        )
    # Edges are hash-partitioned by src ONCE and cached: InMemoryTableScan
    # preserves outputPartitioning (localCheckpoint's LogicalRDD does
    # not), so every iteration's rank join reuses the layout — the
    # per-round shuffles are the node-sized rank table (onto src) and
    # the contribution scatter (onto dst), never the edge list itself.
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .distinct()
        .repartition("src")
        .persist()
    )
    # outdeg rides the cached src partitioning (groupBy src needs no
    # exchange); the node table is src ∪ dst so sink-only nodes exist
    # in every round's rank frame (outdeg 0), then is itself cached:
    # it anchors every round's node set.
    deg = (
        e.select("src")
        .unionByName(e.select(F.col("dst").alias("src")))
        .distinct()
        .join(e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")), "src", "left")
        .select("src", F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"))
        .repartition("src")
        .persist()
    )
    try:
        # one setup job, not two: the dangling guard and the node count
        # read the same cached frame, so fold them into a single
        # aggregate (each driver-blocking job between iterations is
        # dead time for the whole cluster — guide §1.2/§2.6)
        # small by construction: one aggregate row
        _counts = deg.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_if(F.col("outdeg") == 0).alias("__d"),
        ).collect()[0]
        n_nodes, n_dangling = int(_counts["__n"]), int(_counts["__d"])
        if dangling == "raise" and n_dangling:
            raise ValueError(
                f"pagerank_fixed_point: {n_dangling} node(s) have no "
                "out-edge; pass dangling='redistribute' (classic PageRank "
                "dangling-mass handling), or symmetrise/self-loop the "
                "edge list first"
            )
        # the rank table carries outdeg so the hot loop joins ONE small
        # frame to the edges instead of two
        ranks = deg.select(
            "src", "outdeg", F.lit(UNIT).cast("long").alias("rank_int")
        )
        base = (damping_den - damping_num) * UNIT // damping_den
        if teleport is None:
            base_expr = F.lit(base).cast("long")
            n_recipients = n_nodes
            recipient = F.lit(True)
        else:
            # same total restart mass as the uniform case, concentrated
            # on the seeds
            seeds = [int(t) for t in teleport]
            # a seed absent from the graph would silently ZERO its
            # share of the restart mass (isin matches nothing) and
            # ranks would decay with no error — loud-guard it like
            # the dangling-node check (one extra count, teleport path
            # only)
            present = deg.filter(F.col("src").isin(seeds)).count()
            if present < len(set(seeds)):
                raise ValueError(
                    f"pagerank_fixed_point: {len(set(seeds)) - present} "
                    f"teleport seed(s) not present in the graph's node "
                    "set — restart mass would silently vanish"
                )
            seed_base = n_nodes * base // len(seeds)
            recipient = F.col("src").isin(seeds)
            base_expr = (
                F.when(recipient, F.lit(seed_base)).otherwise(F.lit(0)).cast("long")
            )
            n_recipients = len(seeds)
        # Each round's checkpoint is EAGER (one job per iteration — the
        # standard iterative-Spark shape) and the PREVIOUS round's pin
        # is released as soon as the new round has materialised, so the
        # pinned footprint is one rank table, not n_iter of them. Pre-r7
        # the lazy per-round checkpoints all materialised inside the
        # final job and stayed pinned until the session died — the
        # accumulation that OOM'd the r6 sf1 sweep driver.
        with pins("pagerank_fixed_point") as pin:
            for _ in range(n_iter):
                contrib = e.join(ranks.filter(F.col("outdeg") > 0), "src").select(
                    "dst",
                    F.expr("rank_int div outdeg").alias("contrib"),
                )
                incoming = contrib.groupBy("dst").agg(
                    F.sum("contrib").alias("incoming")
                )
                joined = deg.join(incoming, F.col("src") == F.col("dst"), "left")
                if n_dangling:
                    # 1-row dangling-mass scalar, crossJoin-broadcast (the
                    # same pattern as the q11 HAVING scalar) — each round's
                    # summed dangling rank splits equally (integer div)
                    # over every node (or every seed under teleport) and
                    # is damped together with the edge contributions:
                    #   rank' = base + (85 * (incoming + dm div n)) div 100
                    dang = ranks.filter(F.col("outdeg") == 0).agg(
                        F.coalesce(F.sum("rank_int"), F.lit(0))
                        .cast("long")
                        .alias("__dm")
                    )
                    joined = joined.crossJoin(F.broadcast(dang))
                    share = F.when(
                        recipient, F.expr(f"__dm div {n_recipients}")
                    ).otherwise(F.lit(0).cast("long"))
                else:
                    share = F.lit(0).cast("long")
                # deg is partitioned by src, incoming by dst (its agg
                # key): both sides arrive partitioned on their join key —
                # no exchange beyond the 1-row broadcast
                prev, ranks = ranks, pin(
                    joined.withColumn(
                        "__inc", F.expr("coalesce(incoming, 0L)") + share
                    ).select(
                        "src",
                        "outdeg",
                        (
                            base_expr
                            + F.expr(f"({damping_num} * __inc) div {damping_den}")
                        ).alias("rank_int"),
                    )
                )
                pin.release(prev)
            # materialise the final ranks — the operator returns a
            # self-contained frame and leaves no cache residue in a
            # long-lived session beyond this pin, which the next call
            # releases
            out = pin(
                ranks.select(
                    F.col("src").alias("node"),
                    "rank_int",
                    (F.col("rank_int").cast("double") / F.lit(float(UNIT))).alias(
                        "rank"
                    ),
                )
            )
            pin.release(ranks)
    finally:
        # release the cached edge/degree frames even when the guard or
        # an iteration fails mid-loop (r6 advice: the success-path-only
        # unpersist leaked both caches on error in long-lived sessions)
        e.unpersist()
        deg.unpersist()
    return out


def bipartite_edges(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    right_offset: int = 1_000_000,
) -> DataFrame:
    """Symmetrise a bipartite relation into a directed edge list with
    disjoint node-id spaces (right ids shifted by ``right_offset``).
    Both directions are emitted, so every node that appears has an
    out-edge — the no-dangling precondition of ``pagerank_fixed_point``
    holds by construction.
    """
    lr = pairs.select(
        F.col(left_col).cast("long").alias("src"),
        (F.col(right_col).cast("long") + right_offset).alias("dst"),
    )
    return lr.unionByName(lr.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
