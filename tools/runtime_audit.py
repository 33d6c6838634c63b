"""Runtime shuffle audit: execute every bench headline query and report
MEASURED shuffle volume (bytes/records written), spill, and output rows
from the SQL metrics store — the runtime companion to plan_audit.py's
static plan-shape checklist.

Plan shape says whether a shuffle exists; this says how big it actually
is at the audit scale factor, which is the number that extrapolates to
100 TB. A query whose shuffle bytes ~= its input bytes is reshuffling
the world; the engine's target is shuffles that carry only keys +
partial aggregates.

Usage: python tools/runtime_audit.py [sf_dir] [query ...]
Writes RUNTIME_AUDIT.md at the repo root when run with no query filter.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from coronavirus_dashboard_pipeline_etl_spark.plans.gate_queries import (  # noqa: E402
    QUERIES,
)
from coronavirus_dashboard_pipeline_etl_spark.session import get_spark  # noqa: E402

_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)")
_MULT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_bytes(s: str) -> float:
    """First size token of a formatted SQL metric ('total (min, med, max)'
    strings lead with the total)."""
    m = _SIZE.search(s)
    return float(m.group(1)) * _MULT[m.group(2)] if m else 0.0


def _parse_count(s: str) -> int:
    m = re.search(r"[\d,]+", s)
    return int(m.group(0).replace(",", "")) if m else 0


#: SQL metric -> output field of ``measure`` (the headline queries'
#: shuffle and spill volume) and of ``measure_scan`` (the parquet scan)
_QUERY_METRICS = {
    "shuffle bytes written": "shuffle_bytes",
    "shuffle records written": "shuffle_records",
    "spill size": "spill_bytes",
    "number of output rows": "scan_rows",
}
_SCAN_METRICS = {
    "number of files read": "files_read",
    "size of files read": "bytes_read",
    "number of output rows": "rows",
}
#: metrics whose values are formatted sizes; the others are counts
_SIZE_METRICS = {"shuffle bytes written", "spill size", "size of files read"}


def _noop_metrics(spark, frame, fields: dict[str, str]) -> dict[str, float]:
    """Write ``frame()`` to the noop sink and total the SQL metrics
    named in ``fields`` (metric name -> output field) over every
    execution the call spawned — an action may spawn several (eager
    collects inside a query builder, e.g. centroid fitting), so they
    are all attributed. Sizes and counts sum; 'number of output rows'
    keeps its largest value."""
    # cache hygiene: a cached relation left by an earlier query would
    # let this one skip the very shuffles being measured (plan-keyed
    # CacheManager matches across gate invocations)
    try:
        spark.catalog.clearCache()
    except Exception:  # noqa: BLE001
        pass
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    frame().write.format("noop").mode("overwrite").save()
    # the SQL status listener updates the store ASYNCHRONOUSLY from the
    # listener bus — drain it before reading or metrics under-report
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    out = {f: 0.0 if m in _SIZE_METRICS else 0 for m, f in fields.items()}
    execs = store.executionsList()
    for i in range(before, execs.size()):
        e = execs.apply(i)
        vals = store.executionMetrics(e.executionId())
        it = e.metrics().iterator()
        while it.hasNext():
            m = it.next()
            name = m.name()
            if name not in fields or not vals.contains(m.accumulatorId()):
                continue
            v = str(vals.apply(m.accumulatorId()))
            if name == "number of output rows":
                out[fields[name]] = max(out[fields[name]], _parse_count(v))
            elif name in _SIZE_METRICS:
                out[fields[name]] += _parse_bytes(v)
            else:
                out[fields[name]] += _parse_count(v)
    return out


def measure(spark, fn, sf_dir: str) -> dict[str, float]:
    """Run the gate ``fn`` (built inside the measurement, so its eager
    helper jobs count) and report its shuffle, spill and scan rows."""
    return _noop_metrics(spark, lambda: fn(spark, sf_dir), _QUERY_METRICS)


def measure_scan(spark, df) -> dict[str, float]:
    """Execute a pre-built frame against the noop sink and total the
    parquet scan metrics ('size of files read' / 'number of files
    read') across its executions — the store-pruning evidence
    collector. The frame must be fully constructed BEFORE the call so
    helper jobs (e.g. the pruned reader's bounded touched-bucket
    collect) don't pollute the measurement."""
    return _noop_metrics(spark, lambda: df, _SCAN_METRICS)


def prune_report(spark, sf_dir: str) -> list[str]:
    """Measure the partitioned dedup stores' probe-time pruning
    (round-12 verdict item 4): build the band index and the
    fingerprint table in their production partitioned layouts, then
    compare scan bytes for a FULL store read vs the PRUNED read a
    small daily probe batch issues. Returns markdown table lines."""
    import shutil
    import tempfile

    from coronavirus_dashboard_pipeline_etl_spark import store
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_pruned,
        band_index_read,
        band_index_write,
        fp_store_pruned,
        fp_store_write,
        minhash_band_index,
    )
    from coronavirus_dashboard_pipeline_etl_spark.functions.text import (
        fingerprint,
    )
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table
    import pyspark.sql.functions as F

    tmp = tempfile.mkdtemp(prefix="prune_audit_")
    docs = load_table(spark, sf_dir, "documents")
    # the daily-delta shape: a batch ~1% of the corpus
    batch = docs.filter("doc_id % 97 = 0")
    lines = []

    idx = f"{tmp}/band_idx"
    band_index_write(
        minhash_band_index(docs.filter("doc_id % 5 != 0"), k=16, bands=2),
        idx,
    )
    full = measure_scan(spark, band_index_read(spark, idx))
    pruned_df = band_index_pruned(spark, idx, batch, k=16, bands=2)
    pruned = measure_scan(spark, pruned_df)
    lines.append(
        f"| band index (d14b/st8 layout) | {full['files_read']} / "
        f"{full['bytes_read']/2**10:.1f} KiB | {pruned['files_read']} / "
        f"{pruned['bytes_read']/2**10:.1f} KiB | "
        f"{pruned['bytes_read']/max(full['bytes_read'],1):.0%} |"
    )

    fpp = f"{tmp}/fps"
    fp_store_write(
        docs.filter("doc_id % 97 <> 0")
        .select(fingerprint("text").alias("fp"))
        .distinct(),
        fpp,
    )
    full_fp = measure_scan(spark, store.read_bucketed(spark, fpp))
    pruned_fp_df = fp_store_pruned(spark, fpp, batch)
    pruned_fp = measure_scan(spark, pruned_fp_df)
    lines.append(
        f"| fingerprint table (pipe21 layout) | {full_fp['files_read']} / "
        f"{full_fp['bytes_read']/2**10:.1f} KiB | {pruned_fp['files_read']} / "
        f"{pruned_fp['bytes_read']/2**10:.1f} KiB | "
        f"{pruned_fp['bytes_read']/max(full_fp['bytes_read'],1):.0%} |"
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return lines


def upsert_write_report(spark, sf_dir: str) -> list[str]:
    """Measure the band-index upsert's WRITE volume (round-14: the
    write-side analogue of prune_report): seed the store from the
    corpus, then advance it with a ~1% batch via
    ``band_index_upsert_write`` and total the bytes/files the wave
    actually wrote (fresh bucket appends + the tombstone file), vs the
    full store size the old rewrite-on-upsert path re-wrote every
    wave. Then run ``compact_dedup_store`` and report the fold. Last,
    the serving store's row: the bytes one ``merge_upsert_store`` batch
    writes (its delta files plus the tombstone file) against the
    batch's own data bytes and the bytes of the partitions it touches,
    which a partition-rewriting upsert wrote, and the ``compact_store``
    fold that repays it. Returns markdown table lines."""
    import shutil
    import tempfile

    from coronavirus_dashboard_pipeline_etl_spark import store
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_upsert_write,
        compact_dedup_store,
    )
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        PARTITION_COL,
        compact_store,
        merge_upsert_store,
        write_store,
    )
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table
    import pyspark.sql.functions as F

    tmp = tempfile.mkdtemp(prefix="upsert_audit_")
    idx = f"{tmp}/band_idx"
    tombs = store.tombstone_path(idx)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def files() -> dict[str, int]:
        return {
            store.join(root, rel): size
            for root in (idx, tombs)
            for rel, size in store.list_files(root)
        }

    band_index_upsert_write(docs.filter("doc_id % 97 != 0"), idx, k=16, bands=2)
    seeded = files()
    store_bytes = sum(seeded.values())
    store_rows = spark.read.parquet(idx).count()
    # the daily-delta shape: a ~1% wave of NEW docs (%97==0, absent
    # from the seed) plus a ~1% RE-CRAWL (%97==1, present in the seed
    # — its old rows become the dead rows the incremental fold folds)
    band_index_upsert_write(
        docs.filter("doc_id % 97 IN (0, 1)"), idx, k=16, bands=2
    )
    after = files()
    assert set(seeded) <= set(after), "upsert rewrote pre-existing files"
    new_data = [
        p for p in after if p not in seeded and not p.startswith(tombs + "/")
    ]
    wave_bytes = sum(sz for p, sz in after.items() if p not in seeded)
    wave_files = len(after) - len(seeded)
    wave_rows = (
        spark.read.parquet(*new_data).count() if new_data else 0
    ) + spark.read.parquet(tombs).count()
    # incremental fold under a bucket budget: the write volume of ONE
    # maintenance window (round-14 — folds only the dirtiest buckets,
    # keeps the tombstones for the rest), then a budget-less run drains
    pre_fold = files()
    rep_inc = compact_dedup_store(spark, idx, incremental=True, bucket_budget=4)
    mid = files()
    inc_new = [p for p in mid if p not in pre_fold]
    inc_bytes = sum(mid[p] for p in inc_new)
    rep = compact_dedup_store(spark, idx, incremental=True)
    lines = [
        f"| seeded store | {len(seeded)} files / "
        f"{store_bytes / 2**10:.1f} KiB / {store_rows} rows | (what "
        "rewrite-on-upsert re-wrote per wave) |",
        f"| ~2% wave upsert (1% new + 1% re-crawl) wrote | {wave_files} files / "
        f"{wave_bytes / 2**10:.1f} KiB / {wave_rows} rows | "
        f"{wave_rows / max(store_rows, 1):.1%} of store rows "
        f"({wave_bytes / max(store_bytes, 1):.1%} of bytes — per-file "
        "parquet overhead dominates at this toy sf; rows are the "
        "scale-invariant measure) |",
        f"| incremental fold, budget 4/{rep_inc['buckets_before']} "
        f"buckets | wrote {len(inc_new)} files / "
        f"{inc_bytes / 2**10:.1f} KiB | "
        f"{inc_bytes / max(store_bytes, 1):.1%} of store bytes per "
        f"maintenance window; dead rows {rep_inc['dead_rows_folded']}/"
        f"{rep_inc['dead_rows_before']} folded, tombstones cleared: "
        f"{rep_inc['tombstones_cleared']} |",
        f"| budget-less drain | {rep['files_before']} -> "
        f"{rep['files_after']} files ({rep['files_rewritten']} rewritten) | remaining "
        f"{rep['dead_rows_folded']} dead rows folded, "
        f"{rep['tombstones_folded']} tombstones cleared |",
    ]

    # serving store: long-store rows keyed like the reference's
    # (hash, partition_id), a ~2% backfill of re-released and new rows
    serving = f"{tmp}/serving"

    def long_rows(release: int):
        return docs.select(
            F.md5(F.col("doc_id").cast("string")).alias("hash"),
            F.concat(F.lit("p"), (F.col("doc_id") % 8).cast("string")).alias(PARTITION_COL),
            F.col("text").alias("payload"),
            F.lit(release).cast("long").alias("release_id"),
            F.col("doc_id"),
        )

    write_store(long_rows(1).filter("doc_id % 97 != 0").drop("doc_id"), serving)
    seeded = dict(store.list_files(serving))
    batch = long_rows(2).filter("doc_id % 97 IN (0, 1) AND doc_id % 8 < 2").drop("doc_id")
    merge_upsert_store(batch, serving)
    new = [(p, sz) for p, sz in store.list_files(serving) if p not in seeded]
    delta = sum(sz for _, sz in new)
    tomb_bytes = sum(sz for _, sz in store.list_files(store.tombstone_path(serving)))
    touched = store.bucket_files(serving, new, PARTITION_COL)
    parts = store.bucket_files(serving, list(seeded.items()), PARTITION_COL)
    affected = sum(sum(parts.get(pid, [])) for pid in touched)
    lines.append(
        f"| serving upsert (`merge_upsert_store`) wrote | "
        f"{len(new) + 1} files / {(delta + tomb_bytes) / 2**10:.1f} KiB | "
        f"batch data {delta / 2**10:.1f} KiB + tombstones "
        f"{tomb_bytes / 2**10:.1f} KiB, against the affected partitions' "
        f"{affected / 2**10:.1f} KiB a partition rewrite wrote "
        f"({(delta + tomb_bytes) / max(affected, 1):.1%}) |"
    )
    rep = compact_store(spark, serving)
    lines.append(
        f"| serving fold (`compact_store`) | {rep['files_before']} -> "
        f"{rep['files_after']} files ({rep['files_rewritten']} rewritten in "
        f"{rep['buckets_rewritten']} partitions) | {rep['dead_rows_folded']} "
        f"dead rows folded, {rep['tombstones_folded']} tombstones cleared: "
        f"{rep['tombstones_cleared']} |"
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return lines


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    names = only or HEADLINE
    spark = get_spark(app_name="runtime_audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name in names:
        try:
            m = measure(spark, QUERIES[name], sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: FAILED {e}", file=sys.stderr)
            continue
        rows.append((name, m))
        print(
            f"{name:30s} shuffle={m['shuffle_bytes']/2**20:8.2f} MiB "
            f"({m['shuffle_records']:>9,d} rec) spill={m['spill_bytes']/2**20:6.1f} MiB"
        )
    if not only:
        prune_lines = prune_report(spark, sf_dir)
        upsert_lines = upsert_write_report(spark, sf_dir)
        with open(
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "RUNTIME_AUDIT.md"),
            "w",
        ) as fh:
            fh.write(
                "# RUNTIME AUDIT — measured shuffle volume per headline query\n\n"
                f"Executed at `{sf_dir}` (noop sink; SQL metrics store totals).\n"
                "Shuffle bytes is the number that extrapolates with data volume —\n"
                "the engine's target is shuffles carrying keys + partial aggregates,\n"
                "NOT raw input. Spill > 0 at this scale would flag an operator that\n"
                "cannot hold its partition working set.\n\n"
                "Protocol (r8+): `spark.catalog.clearCache()` before every query —\n"
                "the CacheManager matches persisted plans structurally, so without\n"
                "it a query re-deriving an earlier query's subplan (pipe14 vs d12's\n"
                "shingle arrays) skips the very shuffles being measured. Numbers\n"
                "here price each query as if it ran alone. The d12/pipe14 rows also\n"
                "include the `spread()` round-robin repartition of the raw docs —\n"
                "a small-file-layout artifact of the local test parquet (one scan\n"
                "partition at sf0.01) that is a no-op at real corpus file counts.\n\n"
                "## 100 TB projection — the codec constant factor (declared floor)\n\n"
                "The multimodal decode family (m4-m10: PNG inflate+unfilter, GIF\n"
                "LZW, baseline + progressive JPEG entropy decode, WAV/Y4M) is\n"
                "DISTRIBUTION-CLEAN — map-only Arrow batches, zero shuffle (the\n"
                "table's m-rows), embarrassingly parallel at any corpus size — but\n"
                "its per-task constant factor is per-symbol Python loops, roughly\n"
                "10-50x a C decoder (sf1 steady: m8 baseline-JPEG 13.0 s, m6 PNG\n"
                "8.3 s, m10 progressive 1.1 s after the 1-in-5 AC-probe sampling;\n"
                "5,000 synthetic images). At 100 TB that factor multiplies a\n"
                "map-only stage whose wall time divides by executor count, so the\n"
                "design holds; the cost is executor-hours, not a bottleneck stage.\n"
                "This is the PERMANENT declared floor for the from-scratch codecs:\n"
                "the remaining order-of-magnitude lives in swapping the per-symbol\n"
                "loops for a native library (PIL/libjpeg-turbo slot in behind the\n"
                "same mapInPandas batch interface, unavailable in this container —\n"
                "multimodal.py names the library at each raise site). No further\n"
                "pure-Python optimisation is planned; the 1-in-5 sampling win\n"
                "(round 11) was the last structural one.\n\n"
                "## Store-pruning evidence (round-13)\n\n"
                "The persisted dedup stores are PARTITIONED by a hash\n"
                "bucket of their probe key (band index: (band, sig);\n"
                "fingerprint table: fp) — `band_index_write` /\n"
                "`fp_store_write`, read back pruned by\n"
                "`band_index_pruned` / `fp_store_pruned`. A ~1%-of-corpus\n"
                "probe batch (doc_id % 97 = 0) scans only the buckets it\n"
                "hashes into; measured at this sf (scan metrics from the\n"
                "SQL store, noop sink, frames pre-built so the bounded\n"
                "touched-bucket collect is outside the measurement):\n\n"
                "| store | full scan files/bytes | pruned probe files/bytes | pruned/full |\n"
                "|---|---|---|---|\n"
                + "\n".join(prune_lines)
                + "\n\nAt corpus scale the ratio tracks\n"
                "|batch buckets| / buckets, so a daily delta reads a\n"
                "bounded fraction of the store regardless of corpus\n"
                "growth; the gates (d14b, st8, pipe21) run this exact\n"
                "layout and their probe plans carry PartitionFilters.\n\n"
                "## Upsert WRITE volume (round-14)\n\n"
                "The write-side analogue: `band_index_upsert_write`\n"
                "advances the store with bucket APPENDS + a delta-sized\n"
                "tombstone (merge-on-read), where the pre-r14 path\n"
                "rewrote the whole store every wave. Measured at this\n"
                "sf (file sizes on disk; the assert inside the\n"
                "collector verifies no pre-existing file was touched):\n\n"
                "| step | files / bytes | note |\n"
                "|---|---|---|\n"
                + "\n".join(upsert_lines)
                + "\n\nThe wave's write cost tracks the BATCH size\n"
                "(signature rows + one id-sized tombstone file), not\n"
                "the store: at 100 TB the daily upsert stays\n"
                "delta-sized and the corpus-sized rewrite moves into\n"
                "the amortised compaction (gates: d14c, pipe24).\n\n"
                "| query | shuffle MiB | shuffle records | spill MiB | max node rows |\n"
                "|---|---|---|---|---|\n"
            )
            for name, m in rows:
                fh.write(
                    f"| {name} | {m['shuffle_bytes']/2**20:.2f} | "
                    f"{m['shuffle_records']:,} | {m['spill_bytes']/2**20:.1f} | "
                    f"{m['scan_rows']:,} |\n"
                )
        print("wrote RUNTIME_AUDIT.md")
    spark.stop()


if __name__ == "__main__":
    main()
