"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload release_publish --seed 1 --seconds 20 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``,
sets up, seeds its stores, runs a fixed number of timed ops sized to
``--seconds``, checks every output, and prints one JSON object as the
last line of standard output: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (which also writes the span
trace to ``.perfbench_out/``). Metric definitions are in
``perfbench/README.md`` and ``BENCHMARK.json``.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

SETUP_REPS = 3
PACKAGE = "coronavirus_dashboard_pipeline_etl_spark"
DOCUMENTS = os.path.join("testdata_sf1", "documents.parquet")

# span -> counters kept for it (per call, averaged over the traced calls)
SPAN_COUNTERS = {
    "sources.nested_json.build_panel": ("self_s", "tasks", "input_mb", "shuffle_mb", "spill_mb"),
    "operators.process_panel": ("self_s", "tasks", "shuffle_mb", "spill_mb"),
    "plans.main_pipeline.write_store": ("self_s", "tasks", "shuffle_mb", "written_mb", "files_written"),
    **{
        f"plans.serving.{fam}": ("self_s", "driver_only_s", "jobs", "input_mb")
        for fam in (
            "latest_metrics", "latest_n_dates", "landing_cache_rows", "area_percentiles",
            "release_over_release_delta", "map_layer_features",
        )
    },
    "functions.dedup.fp_store_pruned": ("self_s", "driver_only_s", "jobs"),
    "functions.dedup.dedup_incremental": ("self_s", "driver_only_s", "jobs"),
    "functions.dedup.band_index_pruned": ("self_s", "driver_only_s", "jobs"),
    "functions.dedup.minhash_probe_pairs": ("self_s", "driver_only_s", "jobs", "shuffle_mb"),
    "functions.dedup.fp_store_write": ("self_s", "jobs", "written_mb", "files_written"),
    "streaming.ingest.index_upsert_batch": (
        "self_s", "driver_only_s", "jobs", "written_mb", "files_written",
    ),
    "plans.main_pipeline.merge_upsert_store": (
        "self_s", "driver_only_s", "jobs", "written_mb", "files_written",
    ),
    "functions.dedup.compact_dedup_store": ("self_s", "jobs", "written_mb", "files_written"),
    "plans.main_pipeline.compact_store": ("self_s", "jobs", "written_mb", "files_written"),
}
RUN_COUNTERS = (
    "session.get_spark.self_s",
    "run.peak_rss_mb",
    "run.core_util",
    "run.driver_only_frac",
    "run.op_wall_s",
    "functions.dedup.compact_dedup_store.buckets_rewritten",
    "functions.dedup.compact_dedup_store.dead_rows_remaining",
    "trace.unattributed_jobs",
    "trace.overhead_frac",
    "trace.prefix_extra_s",
)
UNITS = {
    "self_s": "s", "driver_only_s": "s", "prefix_extra_s": "s", "jobs": "count",
    "tasks": "count", "files_written": "count", "input_mb": "MB", "shuffle_mb": "MB",
    "spill_mb": "MB", "written_mb": "MB", "core_util": "ratio", "driver_only_frac": "ratio",
    "overhead_frac": "ratio", "op_wall_s": "s", "unattributed_jobs": "count",
    "buckets_rewritten": "count", "dead_rows_remaining": "count", "peak_rss_mb": "MB",
}
E2E_UNITS = {
    "setup_s": "s", "op_cpu_s": "s", "store_bytes_per_row": "B", "write_amp": "ratio",
    "store_files_end": "count",
}


def per_layer_names() -> list[str]:
    return [f"{s}.{c}" for s, cs in SPAN_COUNTERS.items() for c in cs] + list(RUN_COUNTERS)


def unit_of(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[1]]


def peak_rss_mb(spark) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def layer_metrics(run, tracer, status, phase: tuple[float, float], cores: int) -> dict:
    """Per-layer metrics of a traced run (0 for a layer the workload does
    not run)."""
    from perfbench.trace import phase_utilisation, span_counters

    counters, unattributed = span_counters(tracer, status)
    for s in tracer.spans:
        counters[s.sid].update(
            {k: s.extra[k] for k in ("written_mb", "files_written") if k in s.extra}
        )
    calls: dict[str, list[dict]] = {}
    for s in tracer.spans:
        calls.setdefault(s.name, []).append(counters[s.sid])
    # lazy layers of a traced publish: the spans hold parse, parse +
    # processing, and the full publish; each layer is its span minus the
    # shorter prefix before it (one of each per traced publish, in step)
    chain = ["sources.nested_json.build_panel", "operators.process_panel",
             "plans.main_pipeline.write_store"]
    for longer, shorter in zip(chain[:0:-1], chain[-2::-1]):
        calls[longer] = [
            {k: v - b.get(k, 0.0) if k not in ("written_mb", "files_written") else v
             for k, v in a.items()}
            for a, b in zip(calls.get(longer, []), calls.get(shorter, []))
        ]
    out = {}
    for span, cs in SPAN_COUNTERS.items():
        for c in cs:
            vals = [x.get(c, 0.0) for x in calls.get(span, [])]
            out[f"{span}.{c}"] = statistics.fmean(vals) if vals else 0.0
    reports = [r for s in tracer.spans for r in s.extra.get("reports", [])]
    out.update(
        {f"run.{k}": v for k, v in phase_utilisation(status, *phase, cores=cores).items()}
    )
    out["session.get_spark.self_s"] = run.notes["session_s"]
    out["run.peak_rss_mb"] = peak_rss_mb(run.spark)
    out["run.op_wall_s"] = statistics.median(run.latencies) if run.latencies else 0.0
    out["functions.dedup.compact_dedup_store.buckets_rewritten"] = sum(
        r.get("buckets_rewritten", 0) for r in reports
    )
    # the debt the last budgeted fold left behind (a full fold leaves none)
    budgeted = [r for r in reports if "dead_rows_remaining" in r]
    out["functions.dedup.compact_dedup_store.dead_rows_remaining"] = (
        budgeted[-1]["dead_rows_remaining"] if budgeted else 0
    )
    out["trace.unattributed_jobs"] = unattributed
    # what tracing added to the timed ops: the tracer's own time over the
    # rest of their wall
    untraced = sum(run.latencies) - run.trace_overhead_s
    out["trace.overhead_frac"] = run.trace_overhead_s / untraced if untraced > 0 else 0.0
    out["trace.prefix_extra_s"] = run.prefix_extra_s
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in (PACKAGE, DOCUMENTS):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}; run from the repository root",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result = run(args, work, out_dir)
    finally:
        stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: str, out_dir: str):
    from perfbench.trace import StatusStore, Tracer
    from perfbench.workloads import WORKLOADS, Run

    from coronavirus_dashboard_pipeline_etl_spark.session import get_spark

    # one task thread: the ops are overhead-bound at this size (a publish
    # took as long with 2 or 4), and on a shared host fewer runnable
    # threads keep the timings steadier (over five seeds the op's IQR over
    # median was 0.09 against 0.2 with four)
    cores = 1
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - _T_PROCESS
    tracer = Tracer(spark, enabled=bool(args.trace))
    r = Run(spark, tracer, os.path.join(work, "data"), args.seed, args.seconds)
    r.notes["session_s"] = session_s
    wl = WORKLOADS[args.workload](r)

    setup_walls = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        st = wl.setup(rep)  # the last copy is the one measured
        setup_walls.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.seed(st)
    seed_s = time.perf_counter() - t0

    phase_start = time.time()
    for i, op in enumerate(wl.ops(st)):

        def attempt():
            before = tracer.overhead_s
            with tracer.activated():
                wall, check = op(tracer.enabled)
            r.latencies.append(wall)
            r.trace_overhead_s += tracer.overhead_s - before
            return check()

        r.attempt(f"{wl.name} op {i}", attempt)
    t_ops = time.perf_counter()
    wl.finish(st)
    phase = (phase_start, time.time())
    r.notes["finish_s"] = time.perf_counter() - t_ops

    stats = wl.store_stats(st)
    files = stats["meter"].files()
    lat = r.latencies
    print(
        f"perfbench: {wl.name} seed {args.seed}: op walls {[round(x, 3) for x in lat]}, "
        f"op CPU {[round(x, 3) for x in r.cpu]}, "
        f"setups {[round(x, 2) for x in setup_walls]}, seeding {seed_s:.2f}s, "
        f"notes {json.dumps(r.notes)}",
        file=sys.stderr,
    )
    if args.trace:
        status = StatusStore(spark)
        metrics = layer_metrics(r, tracer, status, phase, cores)
        units = {k: unit_of(k) for k in metrics}
        tracer.write(
            os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json"),
            {"workload": wl.name, "seed": args.seed, "metrics": metrics, "notes": r.notes,
             "op_walls": lat},
        )
    else:
        metrics = {
            "setup_s": session_s + statistics.median(setup_walls) + seed_s,
            # CPU seconds, not wall: on a shared host an op's wall time moved
            # by up to 1.5x within an hour with the neighbours' load, and
            # its CPU time by about half as much (see perfbench/README.md)
            "op_cpu_s": statistics.median(r.cpu) if r.cpu else 0.0,
            "store_bytes_per_row": sum(files.values()) / max(1, stats["rows"]),
            "write_amp": stats["meter"].written / max(1, stats["user_bytes"]),
            "store_files_end": len(files),
        }
        units = E2E_UNITS
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result


def stop() -> None:
    """Stop Spark, if it started, and wait for the JVM (and the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
