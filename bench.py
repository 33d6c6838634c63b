"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], print ONE
JSON line with total + per-query wall seconds.

Each query executes end-to-end into the no-op sink (full plan runs,
nothing is collected to the driver, no sink I/O distorts timing).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from coronavirus_dashboard_pipeline_etl_spark.plans.gate_queries import QUERIES
from coronavirus_dashboard_pipeline_etl_spark.session import get_spark

# headline set: the flagship agg, the star joins, the full window-family
# panel pipeline, melt at volume, dedup + ANN — the operators whose cost
# dominates a 100 TB run.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_volume",
    "q6_forecast_revenue",
    "p7_melt_lineitem",
    "a234_change_direction_pct",
    "a1v_rolling_qty_by_part",
    "j2_rolling_rate_per100k",
    "a5_cumulative_sum",
    "a12_rank_latest",
    "d3_minhash_signatures",
    "d3b_lsh_pairs",
    "s1_ann_cosine_topk",
    "t2_quality_stats",
    # end-to-end compositions: the full EP1 panel pipeline and the MSOA
    # path — the engine as a user runs it, not operator microbenches
    "pipe2_main_panel",
    "pipe3_msoa",
    "pipe6_training_prep",
    # round-2 flagship additions: sessionization (events at volume),
    # the as-of temporal join, and BM25 retrieval over the corpus
    "x10_sessionize",
    "j11_asof_join",
    "b1_bm25_topk",
    # round-4: the composed ANN index build+query pipeline, the shard
    # shuffle (training-output layout), and the multimodal
    # feature-extract Arrow crossing
    "pipe11_ann_index",
    "x18_shard_assign",
    "m3_image_features",
    "pipe12_training_layout",
    "j14_interval_overlap",
    # round-5: semantic dedup via IVF probe buckets
    "d10_embedding_neardup",
    # round-10: the BLAS-kernel twin (blocked matmul per bucket) — the
    # production 100 TB scoring path; same oracle-checked pair set
    "d10b_embedding_neardup_blas",
    # round-5 second half: sketch build at volume, substring-span dedup
    # over the corpus, nearest as-of, and the large-volume join
    "sk1_hll_registers",
    "sk2_countmin_heavy",
    "d11_span_dedup",
    "j11c_asof_nearest",
    "q18_large_volume",
    "pipe13_corpus_monitor",
    # round-6: exact Jaccard join (PPJoin prefix filtering — the
    # linear-scaling rewrite), the contracted-graph component resolve
    # inside the full near-dup pipeline, path-metadata routing, and
    # the correlated-subquery TPC-H shapes
    "d2_jaccard_pairs",
    "pipe7_neardup_dedup",
    "s7b_path_metadata",
    "q17_small_qty_revenue",
    "q20_threshold_semijoin",
    "q22_anti_join_scalar",
    # round-6 second half: the double-correlated EXISTS/NOT-EXISTS
    # shape (two-level partial aggregation), the bilateral star volume
    # join, and the legacy multi-frame supplement combine
    "q21_waiting_supplier",
    "q7_volume_shipping",
    "j15_combine_supplements",
    "lm1_bigram_novelty",
    "d12_containment_pairs",
    # round-6 third wave: the conditional-aggregate market-share star,
    # the widest star join (profit by nation/year), iterative
    # fixed-point PageRank over the trade graph, and the hashing-trick
    # linear classifier scoring pass over the corpus
    "q8_market_share",
    "q9_product_profit",
    "pr1_pagerank",
    "t8_hashed_classifier",
    # round-6 fourth wave: model-scored curation end-to-end, FastSS
    # entity matching, the one-pass table checksum, and the
    # RANGE-frame window at volume
    "pipe15_classifier_curation",
    "d13_fastss_pairs",
    "h6_table_checksum",
    "w11_range_window",
    # round-7: the heaviest dedup-family gates join the headline set so
    # regressions in the most expensive operators show up in BENCH_r*
    # rather than only in ad-hoc sf1 sweeps (r6 verdict item 8):
    # quality-filter + containment-dedup composition, component
    # resolution, per-band edit-distance verify, and dangling-mass
    # PageRank
    "pipe14_quality_dedup",
    "d6_dedup_resolve",
    "d9_editdist_pairs",
    "pr2_pagerank_dangling",
    # round-8: the real-codec Arrow crossings (PNG decode is the
    # heaviest: inflate + unfilter per image) and the distributed BPE
    # trainer (histogram shuffle + driver merge loop) + encoder
    "m6_png_decode",
    "m5_video_frames",
    "bpe1_learn_merges",
    "bpe2_encode_counts",
    "d14_probe_pairs",
    # round-8 late additions: the GIF LZW Arrow crossing, the DSIR
    # model-collect + broadcast-scoring shape, and the PQ train/encode/
    # ADC chain
    "m7_gif_decode",
    "m8_jpeg_decode",
    "m10_progressive_jpeg",
    "x20_dsir_importance",
    "s5_pq_adc_topk",
    "pipe16_ivfpq_index",
    "pipe17_ccnet_buckets",
    "st6_stream_neardup_probe",
    "m9_mixed_format_decode",
    "s17_warc_source",
    "x21_constraint_audit",
    # round-9: progressive JPEG joined above (m10); the winnowing
    # fingerprint selection and the composed crawl-curation pipeline
    # are the round's heavy new corpus passes
    "d15_winnow_fingerprints",
    "pipe18_crawl_curation",
    # round-10: the SemDeDup composition (cluster -> BLAS within-cluster
    # pairs -> components -> keep rule) and the bucketed-store
    # merge-upsert round trip
    "pipe19_semdedup",
    "s19_merge_upsert",
    # round-11: CDC apply-changes (window + anti-join + union over the
    # delta), the KMV bottom-k sketch build (distinct + min-k), and the
    # maximal exact shared-run pass (inverted-index join + diagonal
    # gaps-and-islands)
    "cdc1_apply_changes",
    "sk6_kmv_distinct",
    "d16_shared_spans",
    # round-12: the boilerplate-cut -> shared_spans composition (the
    # operational exact-substring path on a templated corpus) and the
    # band-index maintenance round trip (build -> upsert -> probe)
    "pipe20_boilerplate_spans",
    "d14b_index_maintenance",
    "st8_stream_index",
    "d8b_incremental_dedup_bloom",
    "pipe21_incremental_loop",
    # round-13: the composed crawl-day loop (exact dedup -> band-index
    # probe -> quality -> pack, two waves with full state advance over
    # the partitioned stores)
    "pipe22_crawl_day",
    # round-14: the batch-sized tombstone upsert + compaction fold over
    # the band store, and the fp-store small-file compaction loop — the
    # write-side scale work; regressions in the merge-on-read reader or
    # the fold must show in BENCH_r*
    "d14c_tombstone_upsert",
    "pipe24_fp_compact",
    # round-14 second half: the incremental bucket-scoped tombstone
    # fold — two budgeted compaction runs over the upserted store
    "d14d_incremental_fold",
]

BUCKET_TABLE = "bench_serving_store"

# Reference host-speed probe for cross-round calibration: the numpy
# elementwise probe measured in BENCH_r06 (1.052 s) — the EARLIEST round
# that recorded one (r1-r5 predate the probe; the r1 baseline was taken
# on a host of the same class, and r6 measured byte-identical plans at
# ~r1 times, so this is the best available anchor). queries_calibrated =
# raw_sec * (REF_PROBE / this_run_probe): a round on a 1.6x-slower host
# (r7 measured exactly that) then compares to BASELINE.md mechanically
# instead of via hand math in the verdict.
REF_PROBE_NUMPY_SEC = 1.052

# Spark-side probe reference: the 32-thread JVM micro-job in
# _spark_probe, measured 0.33 s steady on a round-9 host whose numpy
# probe ran 1.20x the r6 reference speed, so the reference-class pin
# is 0.33 * 1.20 = 0.40 s. The r8 file shipped a 9x-deflated
# calibrated_total because the single-thread numpy probe ran 8.9x slow
# on a host whose actual 32-core Spark throughput was reference-class —
# single-thread memory-bandwidth speed and multicore JVM throughput are
# DIFFERENT host properties and can diverge. The Spark probe measures
# the quantity calibration actually scales (32-thread codegen
# throughput); when the two implied host factors disagree beyond
# CALIBRATION_AGREEMENT, the run emits calibration_suspect=true, nulls
# calibrated_total, and raw timings are the governing numbers.
# (The python_loop probe stays as an unpinned diagnostic only: across
# two hosts whose numpy and Spark throughput agree within 5% it
# measured 0.238 s vs 0.44 s — it tracks interpreter/core IPC, a third
# independent host property, so it cannot anchor either.)
REF_PROBE_SPARK_SEC = 0.40
CALIBRATION_AGREEMENT = 1.5


def _calibrate() -> dict[str, float]:
    """Spark-independent host-speed probes, reported alongside the query
    times so per-round numbers can be normalised across hosts: rounds
    run on different machines/conditions (r5 measured byte-identical
    queries at 1.4-2x r4's times on an idle box), and without a
    calibration constant that reads as a code regression. Both probes
    are SINGLE-THREADED by construction — numpy elementwise ops never
    route to BLAS (a threaded matmul would measure thread config, not
    host speed) — so the numbers depend only on the core + memory bus.
    ~1 s total, deterministic."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.standard_normal(1 << 24)
    t0 = time.perf_counter()
    for _ in range(10):
        a = a * 1.000001 + 0.5
    elementwise = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i & 1023
    loop = round(time.perf_counter() - t0, 3)
    return {"numpy_elementwise_sec": elementwise, "python_loop_sec": loop}


def _spark_probe(spark) -> float:
    """Fixed CPU-bound Spark micro-job (~0.4 s hot on the reference
    host): 1.6B-row codegen scan across 64 tasks, no shuffle, 1-row
    result — sized so scheduler jitter is <~15% of the measurement (a
    4x-smaller probe measured a 1.6x spread on one host). Runs AFTER
    the headline set so the JVM is fully warm; best of three."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 1_600_000_000, 1, 64).selectExpr(
            "count(if(pmod(id * 2654435761, 1000003) < 500000, 1, null)) as c"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _bucketed_store_setup(spark, sf_dir: str) -> None:
    """Build the bucketed serving store once (untimed): ~1.8M long rows
    melted from lineitem, bucketed+sorted by (area_code, metric)."""
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark import store

    # a fresh session has an empty in-memory catalog, but a previous
    # bench run's table directory may survive in spark-warehouse/ —
    # saveAsTable would then fail with LOCATION_ALREADY_EXISTS. The
    # table is a bench scratch artifact: clear the stale location.
    if not spark.catalog.tableExists(BUCKET_TABLE):
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        store.delete(store.join(warehouse, BUCKET_TABLE))

    from coronavirus_dashboard_pipeline_etl_spark.operators import melt
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        write_store_bucketed,
    )
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("A"), (F.col("l_suppkey") % 500)).alias("areaCode"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("date"),
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_discount").cast("double").alias("discount"),
    )
    long = melt(
        li, id_vars=["areaCode", "date"], value_vars=["qty", "price", "discount"]
    ).withColumnRenamed("areaCode", "area_code")
    long = long.withColumn("partition_id", F.lit("bench"))
    write_store_bucketed(long, BUCKET_TABLE, buckets=32)


def serve_bucketed_latest(spark) -> None:
    """Serving read over the bucketed store: latest value per
    (area_code, metric) — the bucket layout means NO exchange under the
    aggregation (the 100 TB serving win the bucketed writer buys)."""
    from pyspark.sql import functions as F

    store = spark.table(BUCKET_TABLE)
    latest = (
        store.groupBy("area_code", "metric")
        .agg(F.max_by("payload", "date").alias("payload"), F.max("date").alias("date"))
    )
    latest.write.format("noop").mode("overwrite").save()


def lsh_xxhash_pairs(spark, sf_dir: str) -> None:
    """MinHash+LSH candidate pairs on the xxhash64 fast path — the
    base-hash swap that cuts signature cost (the pipeline's dominant
    term) vs the oracle-parity md5 family."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, k=16, base_hash="xxhash64")
    lsh_candidate_pairs(sigs, k=16, bands=2).write.format("noop").mode(
        "overwrite"
    ).save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # One broken query must never zero out the round's entire perf
    # signal: every step is guarded, failures are reported in "errors",
    # and the final JSON line ALWAYS prints.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    # Session hygiene: dozens of executions in one session accumulate
    # pinned JVM state (checkpoint blocks, broadcasts) faster than the
    # lazy cleaner frees it — measured 5x inflation on late sf1-sweep
    # queries. r6 ran gc before EVERY query, but a JVM full GC shrinks
    # the heap and the NEXT query pays ~0.5 s re-committing it (r7
    # measurement: q1 steady 1.26 s, 1.65-2.05 s when every run
    # followed a System.gc — the whole "q1 regression" in BENCH_r06).
    # So: gc every GC_EVERY queries only, and absorb the one-off
    # post-GC penalty with an UNTIMED run of a NEUTRAL heap-recommit job
    # — NOT the upcoming query (r7 did that, which timed 1-in-8 queries
    # warm-codegen while the other 7 timed first-execution; every timed
    # number now measures the same protocol: first execution of the
    # plan on a committed heap, matching how r1's baseline was taken).
    GC_EVERY = 8
    gc_counter = {"n": 0}

    def _neutral_absorber() -> None:
        # memory-heavy enough to force the JVM to re-commit the heap the
        # full GC just shrank (~0.5 s effect measured in r7), touching
        # no headline plan's codegen cache
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum(id * 3 + 1) AS s"
        ).write.format("noop").mode("overwrite").save()

    def timed(name: str, fn) -> None:
        import gc

        gc_counter["n"] += 1
        if gc_counter["n"] % GC_EVERY == 1:
            gc.collect()
            try:
                spark._jvm.System.gc()
            except Exception:  # noqa: BLE001
                pass
            try:
                _neutral_absorber()
            except Exception:  # noqa: BLE001
                pass
        # Cache hygiene: Spark's CacheManager matches persisted plans
        # STRUCTURALLY, so a later query re-deriving the same subplan
        # (pipe14 rebuilding d12's shingle arrays) silently rides the
        # earlier query's cache — measured at sf1: pipe14 13 s cache-
        # subsidised vs 47 s honest. Every timed number must price the
        # query as if it ran alone.
        try:
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001
            pass
        t0 = time.perf_counter()
        try:
            fn()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)

    def run_query(name: str):
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # warm the JVM/readers once so per-query numbers measure the plan,
    # not first-touch class loading.
    try:
        run_query("q1_pricing_summary")
    except Exception as e:  # noqa: BLE001
        print(f"bench: warm-up failed: {e}", file=sys.stderr)

    for name in HEADLINE:
        timed(name, lambda name=name: run_query(name))

    # serving benchmark: untimed bucketed-store build, timed read
    try:
        _bucketed_store_setup(spark, sf_dir)
        timed("serve_bucketed_latest", lambda: serve_bucketed_latest(spark))
    except Exception as e:  # noqa: BLE001
        errors["serve_bucketed_latest"] = f"{type(e).__name__}: {e}"[:300]

    # the LSH production path: same pipeline as d3b_lsh_pairs but with
    # the xxhash64 base hash (no SQL oracle exists for it, so it is
    # bench-only; the md5 gate above proves the pipeline's semantics)
    timed("d3b_lsh_pairs_xxhash", lambda: lsh_xxhash_pairs(spark, sf_dir))

    # A failed query would shrink the headline total and read as a
    # speedup in round-over-round comparisons, so an incomplete run
    # reports value=null (per-query timings still carried for debugging)
    # plus an explicit complete flag.
    total = round(sum(timings.values()), 3)
    calibration = _calibrate()
    try:
        calibration["spark_probe_sec"] = _spark_probe(spark)
    except Exception as e:  # noqa: BLE001
        print(f"bench: spark probe failed: {e}", file=sys.stderr)
        calibration["spark_probe_sec"] = None
    # host-speed normalisation vs the pinned reference probes: a FASTER
    # host has a SMALLER probe time, so factor = ref/this comes out >1
    # and calibrated numbers scale UP toward what the reference host
    # would have measured. Two independent factors; when they disagree
    # beyond CALIBRATION_AGREEMENT the calibration model ("Spark wall
    # scales with single-thread numpy") has failed on this host (the
    # r8 incident: numpy 8.9x slow, Spark throughput normal) — emit
    # calibration_suspect and null calibrated_total so raw governs.
    f_numpy = REF_PROBE_NUMPY_SEC / calibration["numpy_elementwise_sec"]
    f_spark = (
        REF_PROBE_SPARK_SEC / calibration["spark_probe_sec"]
        if calibration["spark_probe_sec"]
        else None
    )
    if f_spark is None:
        suspect = True  # can't cross-check -> don't trust calibration
    else:
        ratio = f_numpy / f_spark
        suspect = not (1 / CALIBRATION_AGREEMENT <= ratio <= CALIBRATION_AGREEMENT)
    host_factor = f_numpy
    calibrated = {k: round(v * host_factor, 3) for k, v in timings.items()}
    out = {
        "metric": "headline_queries_total_wall",
        "value": None if errors else total,
        "unit": "sec",
        "complete": not errors,
        "queries": timings,
        # when the calibration model is suspect the scaled per-query
        # numbers are as untrustworthy as the total — null them too,
        # so no downstream reader mistakes them for real (mirrors the
        # calibrated_total handling)
        "queries_calibrated": None if suspect else calibrated,
        "calibrated_total": (
            None
            if (errors or suspect)
            else round(sum(calibrated.values()), 3)
        ),
        "calibration_suspect": suspect,
        "host_factor": None if suspect else round(host_factor, 4),
        "host_factor_spark": None if f_spark is None else round(f_spark, 4),
        "calibration": calibration,
        "ref_probe_numpy_sec": REF_PROBE_NUMPY_SEC,
        "ref_probe_spark_sec": REF_PROBE_SPARK_SEC,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if suspect:
        out["calibration_note"] = (
            "numpy- and spark-implied host factors disagree beyond "
            f"{CALIBRATION_AGREEMENT}x; raw timings govern this run"
        )
        # diagnostics only — the name says it can't be trusted
        out["host_factor_numpy_distrusted"] = round(f_numpy, 4)
    if errors:
        out["errors"] = errors
        out["partial_total"] = total
    print(json.dumps(out))
    # Self-contained archive (round-11 verdict item 5): the driver's
    # BENCH_r<N>.json capture keeps only a 2000-char TAIL of the stdout
    # line, which truncates the per-query map once the headline set is
    # large — so the full record is also written to a committed file.
    # Round number = next after the newest driver BENCH_r file
    # (overridable via SPARK_GRAFT_ROUND). NOT CORRECTNESS_r*: the
    # driver writes CORRECTNESS_r<N> BEFORE its own bench run of the
    # same round, which made the driver's record land as r<N+1> while
    # the builder's in-round runs landed as r<N> (round-12 verdict
    # item 4's off-by-one); BENCH_r<N> only lands after round N fully
    # closes, so every run inside round N+1 — builder's and driver's —
    # infers the same N+1.
    try:
        import glob
        import re

        here = os.path.dirname(os.path.abspath(__file__))
        rounds = [
            int(m.group(1))
            for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
            if (m := re.search(r"r(\d+)\.json$", p))
        ]
        rnd = os.environ.get(
            "SPARK_GRAFT_ROUND", str(max(rounds, default=0) + 1)
        )
        local = os.path.join(here, f"BENCH_LOCAL_r{int(rnd):02d}.json")
        with open(local, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except Exception as e:  # noqa: BLE001 — archival must never fail the run
        print(f"bench: local archive write failed: {e}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
