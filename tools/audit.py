"""Gate measurement read from Spark's status store.

The status store keeps every SQL execution a session runs (each eager
collect, ``localCheckpoint``, store write and the final sink) with its
final physical plan, plan graph and SQL metrics. ``walk`` runs a gate
and reads back every execution it started; ``gate_loop`` runs gates
under the bench hygiene (``clearCache`` before each run, GC on both
sides of py4j after each gate, the noop sink), timing the first
execution (``bench.py``'s protocol) or, ``steady``, the run after an
untimed warm run. Each mode is a reading of that loop:

  python tools/audit.py plans   [sf_dir] [query ...]    -> PLAN_AUDIT.md
  python tools/audit.py dump    <tag> <suffix> [sf_dir] <gate> ...
                                  -> plans/<tag>/<gate>_<suffix>.txt
  python tools/audit.py runtime [sf_dir] [query ...]    -> RUNTIME_AUDIT.md
  python tools/audit.py time    [sf_dir] <gate> ...
  python tools/audit.py sweep   [sf_dir] [out_json]     -> TIMING_SWEEP.json
  python tools/audit.py scale   [out_json] [gate ...]   -> SCALE_SF3.json/.md

``plans`` and ``runtime`` write their markdown only without a query
filter; ``time`` prints one JSON line of seconds per gate.
"""

from __future__ import annotations

import gc
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402

from bench import HEADLINE, _calibrate  # noqa: E402
from coronavirus_dashboard_pipeline_etl_spark import store  # noqa: E402
from coronavirus_dashboard_pipeline_etl_spark.functions import dedup  # noqa: E402
from coronavirus_dashboard_pipeline_etl_spark.functions.text import fingerprint  # noqa: E402
from coronavirus_dashboard_pipeline_etl_spark.plans import main_pipeline  # noqa: E402
from coronavirus_dashboard_pipeline_etl_spark.plans.gate_queries import QUERIES  # noqa: E402
from coronavirus_dashboard_pipeline_etl_spark.session import get_spark  # noqa: E402
from coronavirus_dashboard_pipeline_etl_spark.sources import load_table  # noqa: E402

#: the five heaviest gates of the r13 bench and steady sweeps: the dedup
#: heavy tail whose scaling the scale probe checks
SCALE_GATES = [
    "st6_stream_neardup_probe",
    "pipe22_crawl_day",
    "pipe7_neardup_dedup",
    "pipe14_quality_dedup",
    "d12_containment_pairs",
]
SCALE_DIRS = {"sf1": "testdata_sf1", "sf3": "testdata_sf3"}
#: scale-probe child heap: 24g holds pipe7's sf1 working set (pinned
#: pair blocks plus concurrent hash builds, borderline at the 8g
#: default), capped at three quarters of this host's physical memory
SCALE_HEAP = "%dm" % min(
    24 << 10, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") * 3 // 4 >> 20
)


class Execution(NamedTuple):
    """One SQL execution as the status store recorded it."""

    description: str  # call site, e.g. "localCheckpoint at ..."
    plan: str  # the final physical plan, explain("formatted")
    nodes: list[str]  # plan-graph node descriptions
    metrics: list[tuple[str, str]]  # (SQL metric name, formatted value)


def walk(spark, run) -> tuple[float, list[Execution]]:
    """Call ``run()``; return its wall seconds and every SQL execution
    it started, in order. Executions are told apart by id, not by list
    position: past ``spark.sql.ui.retainedExecutions`` the store drops
    its oldest entries, so its count stops growing."""
    store = spark._jsparkSession.sharedState().statusStore()
    java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    n = store.executionsCount()
    mark = store.executionsList(n - 1, 1).head().executionId() if n else -1
    t0 = time.perf_counter()
    run()
    sec = time.perf_counter() - t0
    # the SQL listener fills the store asynchronously from the listener
    # bus: drain it, or the last executions read incomplete
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    out = []
    for e in reversed(java(store.executionsList())):
        if e.executionId() <= mark:
            break
        values = java(store.executionMetrics(e.executionId()))
        out.append(
            Execution(
                e.description(),
                e.physicalPlanDescription(),
                [node.desc() for node in java(store.planGraph(e.executionId()).allNodes())],
                [
                    (m.name(), values[m.accumulatorId()])
                    for m in java(e.metrics())
                    if m.accumulatorId() in values
                ],
            )
        )
    return sec, out[::-1]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def session(app_name: str, sf_dir: str):
    """The ``get_spark`` default session, its JVM and parquet reader
    warmed by neutral jobs that share no plan with a gate."""
    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    noop(spark.range(0, 50_000_000, 1, 32).selectExpr("sum(id * 3 + 1) s"))
    noop(load_table(spark, sf_dir, "region"))
    return spark


def gate_loop(spark, sf_dir: str, names: list[str], steady: bool = False):
    """Yield ``(name, seconds or "ERR ..." text, executions)`` per gate.
    ``clearCache`` precedes every run: the CacheManager matches
    persisted plans structurally, so a run re-deriving an earlier
    gate's (or its own warm run's) subplan would skip the very work
    being measured (pipe14 after d12 at sf1: 13 s cache-fed vs 47 s)."""

    def run(fn) -> None:
        spark.catalog.clearCache()
        noop(fn(spark, sf_dir))

    for name in names:
        try:
            if steady:
                run(QUERIES[name])
            sec, execs = walk(spark, lambda: run(QUERIES[name]))
            yield name, round(sec, 3), execs
        except Exception as e:  # noqa: BLE001 — record, keep going
            yield name, f"ERR {type(e).__name__}: {e}"[:200], []
        # free the gate's plans, cached relations, checkpoint blocks and
        # broadcasts before the next gate runs
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()


#: plan counter -> the physical-operator text it counts
PLAN_PATTERNS = {
    "hash_exchanges": r"Exchange hashpartitioning",
    "range_exchanges": r"Exchange rangepartitioning",
    "single_part_exchanges": r"Exchange SinglePartition",
    "python_stages": r"MapInPandas|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas",
    "scans": r"FileScan|BatchScan",
    "pushed_filters": r"PushedFilters: \[[^\]]+\]",
    "nested_loop_joins": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
}


def audit_plan(plan: str) -> dict[str, int]:
    """Extract the checklist counters from physical-plan text."""
    return {k: len(re.findall(p, plan)) for k, p in PLAN_PATTERNS.items()}


def plan_counters(execs: list[Execution]) -> dict[str, int]:
    """``audit_plan`` summed over every execution's plan-graph nodes,
    plus the number of executions and of checkpoints among them."""
    out = audit_plan("")
    for e in execs:
        for k, v in audit_plan("\n".join(e.nodes)).items():
            out[k] += v
    out["executions"] = len(execs)
    out["checkpoints"] = sum(e.description.startswith("localCheckpoint") for e in execs)
    return out


_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)")
_MULT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _value(v: str) -> float:
    """A formatted SQL metric's value: a size in bytes or a count. A
    "total (min, med, max)" value leads with its total."""
    if m := _SIZE.search(v):
        return float(m.group(1)) * _MULT[m.group(2)]
    m = re.search(r"[\d,]+", v)
    return int(m.group(0).replace(",", "")) if m else 0


def totals(execs: list[Execution], fields: dict[str, str]) -> dict[str, float]:
    """Total the SQL metrics named in ``fields`` (metric -> output key)
    over ``execs``; "number of output rows" keeps its largest value."""
    out = dict.fromkeys(fields.values(), 0)
    for e in execs:
        for name, v in e.metrics:
            if name in fields:
                key, x = fields[name], _value(v)
                out[key] = max(out[key], x) if name == "number of output rows" else out[key] + x
    return out


def measure(execs: list[Execution]) -> dict[str, float]:
    """A gate's shuffle and spill volume and its largest operator
    output (for the candidate-bound dedup gates, the candidate join)."""
    return totals(
        execs,
        {
            "shuffle bytes written": "shuffle_bytes",
            "shuffle records written": "shuffle_records",
            "spill size": "spill_bytes",
            "number of output rows": "scan_rows",
        },
    )


def measure_scan(spark, df) -> dict[str, float]:
    """Parquet scan totals of running the pre-built frame ``df``; build
    it before the call, so helper jobs (the pruned reader's bounded
    touched-bucket collect) stay out of the measurement."""
    return totals(
        walk(spark, lambda: noop(df))[1],
        {
            "number of files read": "files_read",
            "size of files read": "bytes_read",
            "number of output rows": "rows",
        },
    )


def _sf_dir(args: list[str], default: str) -> tuple[str, list[str]]:
    if args and os.path.isdir(args[0]):
        return args[0], args[1:]
    return default, args


def _write(name: str, lines: list[str]) -> None:
    with open(os.path.join(ROOT, name), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {name}")


#: plan-counter -> what a nonzero count flags in PLAN_AUDIT.md
FLAGS = [
    ("nested_loop_joins", "BroadcastNestedLoopJoin (verify each is a 1-row scalar broadcast)"),
    ("cartesian", "CartesianProduct"),
    ("single_part_exchanges", "single-partition exchange"),
]


def plans_mode(args: list[str]) -> None:
    sf_dir, only = _sf_dir(args, "/root/testdata/sf0.001")
    spark = session("audit-plans", sf_dir)
    rows = []
    for name, sec, execs in gate_loop(spark, sf_dir, only or HEADLINE):
        if isinstance(sec, str):
            print(f"{name}: {sec}", file=sys.stderr)
            continue
        rows.append((name, plan_counters(execs)))
        print(name, rows[-1][1])
    spark.stop()
    cols = [
        "hash_exchanges", "single_part_exchanges", "python_stages",
        "scans", "pushed_filters", "nested_loop_joins", "cartesian",
        "executions", "checkpoints",
    ]
    lines = [
        "# PLAN AUDIT — physical-plan checklist for the bench headline set",
        "",
        f"Source: `tools/audit.py plans` at `{sf_dir}`: every SQL execution each",
        "query ran (eager collects, `localCheckpoint`s, store writes and the",
        "final noop write), read from Spark's status store after the run.",
        "Counters are summed over each execution's FINAL plan graph, after AQE",
        "re-planning; `executions` counts the executions walked, `checkpoints`",
        "the `localCheckpoint`s among them.",
        "",
        "Reading the flags: in this engine every `single_part_exchanges` and",
        "`nested_loop_joins` occurrence is the 1-ROW SCALAR pattern — a grand",
        "aggregate (scaffold date bounds, corpus stats, with_scalars, a store's",
        "stats pass, an iterative loop's convergence `count()`) whose partial-agg",
        "rows (one per task, not data) converge to one partition and broadcast",
        "back. Verified by reading the plans: the SinglePartition exchange input",
        "is always a partial HashAggregate with no grouping keys, and the BNLJ",
        "build side is that 1-row frame. A flag on a DATA-sized path would be a",
        "real regression.",
        "",
        "| query | " + " | ".join(cols) + " |",
        "|---|" + "---|" * len(cols),
    ]
    lines += [f"| {n} | " + " | ".join(str(a[c]) for c in cols) + " |" for n, a in rows]
    lines.append("")
    reasons = {n: [f"{a[k]} {what}" for k, what in FLAGS if a[k]] for n, a in rows}
    flagged = [(n, r) for n, r in reasons.items() if r]
    lines += ["## Flagged", ""] if flagged else ["No red flags."]
    lines += [f"- `{n}`: " + "; ".join(r) for n, r in flagged]
    if not only:
        _write("PLAN_AUDIT.md", lines)


def dump_mode(args: list[str]) -> None:
    tag, suffix = args[0], args[1]
    sf_dir, gates = _sf_dir(args[2:], "/root/testdata/sf0.01")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = session(f"audit-dump-{tag}", sf_dir)
    for name, sec, execs in gate_loop(spark, sf_dir, gates):
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') at {sf_dir} ({suffix})\n")
            if isinstance(sec, str):
                f.write(f"\n{sec}\n")
            for i, e in enumerate(execs, 1):
                f.write(f"\n## execution {i}/{len(execs)}: {e.description}\n\n")
                f.write(e.plan if e.plan.endswith("\n") else e.plan + "\n")
        print(f"wrote {path}")
    spark.stop()


def time_mode(args: list[str]) -> None:
    """A gate named N times is timed N times, in order."""
    sf_dir, gates = _sf_dir(args, "/root/testdata/sf0.1")
    spark = session("audit-time", sf_dir)
    out: dict[str, list] = {name: [] for name in gates}
    for name, sec, _ in gate_loop(spark, sf_dir, gates):
        out[name].append(sec)
    print(json.dumps(out))
    spark.stop()


def sweep_mode(args: list[str]) -> None:
    sf_dir, rest = _sf_dir(args, "/root/testdata/sf0.1")
    out_path = rest[0] if rest else "TIMING_SWEEP.json"
    spark = session("audit-sweep", sf_dir)
    out = {name: sec for name, sec, _ in gate_loop(spark, sf_dir, list(QUERIES), steady=True)}
    master = spark.sparkContext.master
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(
            {
                "sf_dir": sf_dir,
                "master": master,
                "calibration_numpy_sec": _calibrate()["numpy_elementwise_sec"],
                "steady_s": out,
            },
            f,
            indent=1,
        )
    errors = [k for k, v in out.items() if isinstance(v, str)]
    total = sum(v for k, v in out.items() if k not in errors)
    print(f"total steady {total:.1f}s, errors {errors}")


def prune_report(spark, sf_dir: str) -> list[str]:
    """Measure the dedup stores' probe-time pruning: build the band
    index and the fingerprint table in their production bucketed
    layouts, then compare the scan of a FULL store read with the
    PRUNED read a small daily probe batch issues. Returns markdown
    table lines."""
    tmp = tempfile.mkdtemp(prefix="prune_audit_")
    docs = load_table(spark, sf_dir, "documents")
    # the daily-delta shape: a batch ~1% of the corpus
    batch = docs.filter("doc_id % 97 = 0")
    idx, fps = f"{tmp}/band_idx", f"{tmp}/fps"
    dedup.band_index_write(
        dedup.minhash_band_index(docs.filter("doc_id % 5 != 0"), k=16, bands=2), idx
    )
    dedup.fp_store_write(
        docs.filter("doc_id % 97 <> 0").select(fingerprint("text").alias("fp")).distinct(),
        fps,
    )
    lines = []
    for label, full_df, pruned_df in [
        (
            "band index (d14b/st8 layout)",
            dedup.band_index_read(spark, idx),
            dedup.band_index_pruned(spark, idx, batch, k=16, bands=2),
        ),
        (
            "fingerprint table (pipe21 layout)",
            store.read_bucketed(spark, fps),
            dedup.fp_store_pruned(spark, fps, batch),
        ),
    ]:
        full, pruned = measure_scan(spark, full_df), measure_scan(spark, pruned_df)
        lines.append(
            f"| {label} | {full['files_read']} / {full['bytes_read']/2**10:.1f} KiB"
            f" | {pruned['files_read']} / {pruned['bytes_read']/2**10:.1f} KiB | "
            f"{pruned['bytes_read']/max(full['bytes_read'],1):.0%} |"
        )
    shutil.rmtree(tmp, ignore_errors=True)
    return lines


def upsert_write_report(spark, sf_dir: str) -> list[str]:
    """Measure the upserts' WRITE volume, the write-side analogue of
    ``prune_report``: the files and bytes one ~2% wave of
    ``band_index_upsert_write`` adds to a seeded band index, the
    budgeted and full ``compact_dedup_store`` folds that repay it, and
    one ``merge_upsert_store`` batch against the serving partitions it
    touches, with its ``compact_store`` fold. Returns markdown table
    lines."""
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

    dedup.band_index_upsert_write(docs.filter("doc_id % 97 != 0"), idx, k=16, bands=2)
    seeded = files()
    store_bytes = sum(seeded.values())
    store_rows = spark.read.parquet(idx).count()
    # the daily-delta shape: a ~1% wave of NEW docs (%97==0, absent
    # from the seed) plus a ~1% RE-CRAWL (%97==1, present in the seed
    # — its old rows become the dead rows the incremental fold folds)
    dedup.band_index_upsert_write(
        docs.filter("doc_id % 97 IN (0, 1)"), idx, k=16, bands=2
    )
    after = files()
    assert set(seeded) <= set(after), "upsert rewrote pre-existing files"
    wave = {p: sz for p, sz in after.items() if p not in seeded}
    new_data = [p for p in wave if not p.startswith(tombs + "/")]
    wave_rows = (
        spark.read.parquet(*new_data).count() if new_data else 0
    ) + spark.read.parquet(tombs).count()
    # incremental fold under a bucket budget: the write volume of ONE
    # maintenance window (round-14 — folds only the dirtiest buckets,
    # keeps the tombstones for the rest), then a budget-less run drains
    rep_inc = dedup.compact_dedup_store(spark, idx, incremental=True, bucket_budget=4)
    mid = files()
    inc_new = {p: sz for p, sz in mid.items() if p not in after}
    rep = dedup.compact_dedup_store(spark, idx, incremental=True)
    lines = [
        f"| seeded store | {len(seeded)} files / "
        f"{store_bytes / 2**10:.1f} KiB / {store_rows} rows | (what "
        "rewrite-on-upsert re-wrote per wave) |",
        f"| ~2% wave upsert (1% new + 1% re-crawl) wrote | {len(wave)} files / "
        f"{sum(wave.values()) / 2**10:.1f} KiB / {wave_rows} rows | "
        f"{wave_rows / max(store_rows, 1):.1%} of store rows "
        f"({sum(wave.values()) / max(store_bytes, 1):.1%} of bytes — per-file "
        "parquet overhead dominates at this toy sf; rows are the "
        "scale-invariant measure) |",
        f"| incremental fold, budget 4/{rep_inc['buckets_before']} "
        f"buckets | wrote {len(inc_new)} files / "
        f"{sum(inc_new.values()) / 2**10:.1f} KiB | "
        f"{sum(inc_new.values()) / max(store_bytes, 1):.1%} of store bytes per "
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
            F.concat(F.lit("p"), (F.col("doc_id") % 8).cast("string")).alias(
                main_pipeline.PARTITION_COL
            ),
            F.col("text").alias("payload"),
            F.lit(release).cast("long").alias("release_id"),
            F.col("doc_id"),
        )

    main_pipeline.write_store(long_rows(1).filter("doc_id % 97 != 0").drop("doc_id"), serving)
    seeded = dict(store.list_files(serving))
    batch = long_rows(2).filter("doc_id % 97 IN (0, 1) AND doc_id % 8 < 2").drop("doc_id")
    main_pipeline.merge_upsert_store(batch, serving)
    new = [(p, sz) for p, sz in store.list_files(serving) if p not in seeded]
    delta = sum(sz for _, sz in new)
    tomb_bytes = sum(sz for _, sz in store.list_files(store.tombstone_path(serving)))
    touched = store.bucket_files(serving, new, main_pipeline.PARTITION_COL)
    parts = store.bucket_files(serving, list(seeded.items()), main_pipeline.PARTITION_COL)
    affected = sum(sum(parts.get(pid, [])) for pid in touched)
    lines.append(
        f"| serving upsert (`merge_upsert_store`) wrote | "
        f"{len(new) + 1} files / {(delta + tomb_bytes) / 2**10:.1f} KiB | "
        f"batch data {delta / 2**10:.1f} KiB + tombstones "
        f"{tomb_bytes / 2**10:.1f} KiB, against the affected partitions' "
        f"{affected / 2**10:.1f} KiB a partition rewrite wrote "
        f"({(delta + tomb_bytes) / max(affected, 1):.1%}) |"
    )
    rep = main_pipeline.compact_store(spark, serving)
    lines.append(
        f"| serving fold (`compact_store`) | {rep['files_before']} -> "
        f"{rep['files_after']} files ({rep['files_rewritten']} rewritten in "
        f"{rep['buckets_rewritten']} partitions) | {rep['dead_rows_folded']} "
        f"dead rows folded, {rep['tombstones_folded']} tombstones cleared: "
        f"{rep['tombstones_cleared']} |"
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return lines


def runtime_mode(args: list[str]) -> None:
    sf_dir, only = _sf_dir(args, "/root/testdata/sf0.01")
    spark = session("audit-runtime", sf_dir)
    rows = []
    for name, sec, execs in gate_loop(spark, sf_dir, only or HEADLINE):
        if isinstance(sec, str):
            print(f"{name}: FAILED {sec}", file=sys.stderr)
            continue
        rows.append((name, measure(execs)))
        print(*rows[-1])
    if not only:
        prune_lines = prune_report(spark, sf_dir)
        upsert_lines = upsert_write_report(spark, sf_dir)
        with open(os.path.join(ROOT, "RUNTIME_AUDIT.md"), "w") as fh:
            fh.write(
                "# RUNTIME AUDIT — measured shuffle volume per headline query\n\n"
                f"Executed at `{sf_dir}` on `{spark.sparkContext.master}` (noop sink;\n"
                "SQL metric totals over every execution, from the status store).\n"
                "Shuffle bytes is the number that extrapolates with data volume —\n"
                "the engine's target is shuffles carrying keys + partial aggregates,\n"
                "NOT raw input. Spill > 0 at this scale would flag an operator that\n"
                "cannot hold its partition working set.\n\n"
                "Protocol: `tools/audit.py`'s gate loop clears the cache before every\n"
                "query, so no query rides an earlier one's persisted subplan (pipe14\n"
                "re-derives d12's shingle arrays): each row prices its query alone.\n"
                "The d12/pipe14 rows include the `spread()` round-robin repartition\n"
                "of the raw docs, a small-file artifact of the local test parquet\n"
                "(one scan partition at sf0.01), a no-op at corpus file counts.\n\n"
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
                "The persisted dedup stores are PARTITIONED by a hash bucket of their\n"
                "probe key (band index: (band, sig); fingerprint table: fp) —\n"
                "`band_index_write` / `fp_store_write`, read back pruned by\n"
                "`band_index_pruned` / `fp_store_pruned`. A ~1%-of-corpus probe batch\n"
                "(doc_id % 97 = 0) scans only the buckets it hashes into; measured at\n"
                "this sf (scan metrics from the status store, noop sink, frames\n"
                "pre-built so the bounded touched-bucket collect is not measured):\n\n"
                "| store | full scan files/bytes | pruned probe files/bytes | pruned/full |\n"
                "|---|---|---|---|\n"
                + "\n".join(prune_lines)
                + "\n\nAt corpus scale the ratio tracks |batch buckets| / buckets, so a\n"
                "daily delta reads a bounded fraction of the store regardless of corpus\n"
                "growth; the gates (d14b, st8, pipe21) run this exact layout and their\n"
                "probe plans carry PartitionFilters.\n\n"
                "## Upsert WRITE volume (round-14)\n\n"
                "The write-side analogue: `band_index_upsert_write` advances the store\n"
                "with bucket APPENDS + a delta-sized tombstone (merge-on-read), where\n"
                "the pre-r14 path rewrote the whole store every wave. Measured at this\n"
                "sf (file sizes on disk; the collector checks that no pre-existing\n"
                "file was touched):\n\n"
                "| step | files / bytes | note |\n"
                "|---|---|---|\n"
                + "\n".join(upsert_lines)
                + "\n\nThe wave's write cost tracks the BATCH size (signature rows + one\n"
                "id-sized tombstone file), not the store: at 100 TB the daily upsert\n"
                "stays delta-sized and the corpus-sized rewrite moves into the\n"
                "amortised compaction (gates: d14c, pipe24).\n\n"
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


def scale_mode(args: list[str]) -> None:
    """Each (sf, gate) run is its own Python process, so its own JVM
    (py4j keeps one JVM per process across session restarts): pinned
    residue of the heavy gates once starved a later gate in a shared
    JVM (pipe7 OOM at sf1 mid-probe, passing alone)."""
    if args[:1] == ["--one"]:
        sf_dir, name = args[1], args[2]
        spark = session(f"audit-scale-{name}", sf_dir)
        _, sec, execs = next(gate_loop(spark, sf_dir, [name], steady=True))
        spark.stop()
        if isinstance(sec, str):
            sys.exit(sec)
        # the parent parses the last stdout line, below any Spark noise
        print(json.dumps({**measure(execs), "sec": round(sec, 2)}), flush=True)
        return
    out_json = args[0] if args else "SCALE_SF3.json"
    gates = args[1:] or SCALE_GATES
    results: dict[str, dict] = {}
    for label, sf_dir in SCALE_DIRS.items():
        results[label] = {}
        for name in gates:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "scale", "--one", sf_dir, name],
                capture_output=True,
                text=True,
                cwd=ROOT,
                env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": SCALE_HEAP},
            )
            if proc.returncode == 0 and proc.stdout.strip():
                results[label][name] = json.loads(proc.stdout.strip().splitlines()[-1])
            else:
                tail = (proc.stderr or proc.stdout or "").strip().splitlines()
                results[label][name] = {"error": " / ".join(tail[-3:]) or "no output"}
            print(label, name, results[label][name].get("sec", results[label][name]), flush=True)
    doc = {"gates": gates, "sf_dirs": SCALE_DIRS, "driver_mem": SCALE_HEAP, "results": results}
    with open(os.path.join(ROOT, out_json), "w") as fh:
        json.dump(doc, fh, indent=1)
    lines = [
        "# SCALE_SF3 — dedup heavy tail, sf1 vs sf3 (3x corpus)",
        "",
        "Steady-state (second run in-session) wall time and candidate",
        "volume (max SQL-node output rows) per gate; `time ratio` vs",
        "`candidate ratio` is the scaling-exponent check: volume-bound",
        "gates track their candidates, a super-linear term would push",
        "time far above. Generated by `tools/audit.py scale` on the",
        "`tools/gen_scale.py` replicas (within-replica dup structure",
        "mirrors the base corpus; replicas never collide, so candidate",
        f"mass scales ~linearly like a real corpus); driver heap {SCALE_HEAP}.",
        "",
        "| gate | sf1 s | sf3 s | time ratio | sf1 cand. | sf3 cand. |"
        " cand. ratio | shuffle MiB sf1->sf3 |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in gates:
        a, b = results["sf1"][name], results["sf3"][name]
        if "error" in a or "error" in b:
            lines.append(
                f"| {name} | ERR | ERR | — | — | — | — | "
                f"{a.get('error', '')}{b.get('error', '')} |"
            )
            continue
        lines.append(
            f"| {name} | {a['sec']:.1f} | {b['sec']:.1f} | "
            f"{b['sec'] / max(a['sec'], 1e-9):.2f}x | {a['scan_rows']:,} | "
            f"{b['scan_rows']:,} | {b['scan_rows'] / max(a['scan_rows'], 1):.2f}x |"
            f" {a['shuffle_bytes']/2**20:.0f} -> {b['shuffle_bytes']/2**20:.0f} |"
        )
    _write("SCALE_SF3.md", lines)


MODES = {
    "plans": plans_mode,
    "dump": dump_mode,
    "runtime": runtime_mode,
    "time": time_mode,
    "sweep": sweep_mode,
    "scale": scale_mode,
}

if __name__ == "__main__":
    if len(sys.argv) < 2 or sys.argv[1] not in MODES:
        sys.exit(__doc__)
    MODES[sys.argv[1]](sys.argv[2:])
