"""The three benchmark workloads, driven through the library's public
functions only.

Each workload has a set-up that generates its inputs in a fresh directory
(repeated; the last copy is the one measured), a store seeding through
the library (once, on the measured copy), a fixed list of timed ops whose
length follows the run length, and an untimed finish. There is no
warm-up op: each timed op is the first run of its plans in the session,
as a daily release job runs it. Output checks run outside the
timed intervals and count into ``Run.failed``.
"""

from __future__ import annotations

import os
import resource
import sys
import time
import traceback

from pyspark.sql import DataFrame, SparkSession, functions as F

from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
    band_index_pruned,
    band_index_write,
    compact_dedup_store,
    dedup_incremental,
    fp_store_pruned,
    fp_store_write,
    minhash_band_index,
    minhash_probe_pairs,
)
from coronavirus_dashboard_pipeline_etl_spark.plans import serving
from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
    build_panel,
    compact_store,
    merge_upsert_store,
    process_panel,
    to_long_store,
    write_store,
)
from coronavirus_dashboard_pipeline_etl_spark.streaming.ingest import index_upsert_batch

from . import checks, inputs
from .trace import Tracer

HASH_KEY = b"perfbench"
DOC_SCHEMA = inputs.pa.schema([("doc_id", inputs.pa.int64()), ("text", inputs.pa.string())])
KEPT_SCHEMA = "doc_id long, text string, fp string"
POP_SCHEMA = inputs.pa.schema([("areaCode", inputs.pa.string()), ("population", inputs.pa.float64())])


class ByteMeter:
    """Bytes of parquet data files that appear under a set of store roots
    between two snapshots (Spark names every new file uniquely, so a file
    is new iff its path is)."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self.seen: dict[str, int] = {}
        self.written = 0

    def files(self) -> dict[str, int]:
        out = {}
        for root in self.roots:
            for d, _, names in os.walk(root):
                for n in names:
                    if n.endswith(".parquet") and not n.startswith("."):
                        p = os.path.join(d, n)
                        out[p] = os.path.getsize(p)
        return out

    def snap(self) -> None:
        now = self.files()
        self.written += sum(size for p, size in now.items() if p not in self.seen)
        self.seen = now


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, exited children included) of a process
    and every live descendant, from ``/proc``."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process ended while the tree was read
            stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """What one benchmark run measured: op latencies, attempts, failures."""

    def __init__(self, spark: SparkSession, tracer: Tracer, root: str, seed: int, seconds: int):
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.latencies: list[float] = []  # timed op walls
        self.cpu: list[float] = []  # timed op CPU seconds
        self.trace_overhead_s = 0.0  # tracer bookkeeping inside timed ops
        self.prefix_extra_s = 0.0
        self.notes: dict = {}
        self._jvm_pid = spark._jvm.ProcessHandle.current().pid()

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the JVM's
        Python workers."""
        me = resource.getrusage(resource.RUSAGE_SELF)
        return me.ru_utime + me.ru_stime + _tree_cpu_s(self._jvm_pid)

    def timed(self, fn) -> tuple[float, object]:
        """Run one timed op: returns its wall time and result, and records
        its CPU seconds."""
        c0 = self.cpu_s()
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        self.cpu.append(self.cpu_s() - c0)
        return wall, out

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def attempt(self, what: str, fn) -> bool:
        """One attempted unit (an op or an end-of-run verification): it fails
        if it raises or returns False."""
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok


def ops_for(seconds: int, op_cost_s: float) -> int:
    """Fixed op count for a run length: the same on every commit, so two
    commits do the same work."""
    return max(1, round(seconds / op_cost_s))


# --------------------------------------------------------------------------
# release_publish


def time_series(spark: SparkSession, store: str) -> DataFrame:
    """The F10 fact table as a view over the serving store: area and metric
    ids are hashes of their natural keys, matching ``star_dims``."""
    return spark.read.parquet(store).select(
        "hash",
        "release_id",
        F.xxhash64("area_type", "area_code").alias("area_id"),
        F.xxhash64("metric").alias("metric_id"),
        "date",
        "payload",
    )


def star_dims(spark: SparkSession) -> dict[str, DataFrame]:
    """The area, metric and geometry dimensions of the F10 star."""
    areas = spark.createDataFrame(
        [(inputs.TYPE_NAMES[k], code, name) for k, code, name in inputs.area_codes()],
        "area_type string, area_code string, area_name string",
    ).select(F.xxhash64("area_type", "area_code").alias("area_id"), "*")
    metrics = spark.createDataFrame(
        [(m,) for m in inputs.SERVING_METRICS], "metric string"
    ).select(F.xxhash64("metric").alias("metric_id"), "metric")
    geo = areas.select(
        "area_id",
        F.lit("Point").alias("geometry_type"),
        F.array(F.abs(F.hash("area_code") % 1000), F.abs(F.hash("area_name") % 1000)).alias(
            "coordinates"
        ),
    )
    return {"areas": areas, "metrics": metrics, "geo": geo}


def serving_query(spark: SparkSession, st: dict, q: inputs.Query) -> DataFrame:
    """One dashboard query over the published store. ``latest_metrics``
    reads the newest release (its RANK()=1 is then unique per key)."""
    ts = time_series(spark, st["store"])
    dims = star_dims(spark)
    areas, metrics = dims["areas"], dims["metrics"]
    p = q.params
    if q.family == "latest_metrics":
        ts = ts.filter(F.col("release_id") == st["latest_release"])
        return serving.latest_metrics(ts, areas, metrics, metric_names=list(p[0]))
    if q.family == "latest_n_dates":
        return serving.latest_n_dates(ts, areas, metrics, n=p[0], metric_names=list(p[1]))
    if q.family == "landing_cache_rows":
        return serving.landing_cache_rows(ts, areas, metrics, list(p[0]), last_n_days=p[1])
    if q.family == "area_percentiles":
        return serving.area_percentiles(ts, areas, metrics, p[0])
    if q.family == "release_over_release_delta":
        return serving.release_over_release_delta(ts, metrics, p[0])
    if q.family == "map_layer_features":
        # the default value_cast="bigint" raises CAST_INVALID_INPUT on the
        # "416.0" payloads to_long_store writes (see perfbench/README.md)
        return serving.map_layer_features(
            ts, areas, metrics, dims["geo"], metric=p[0], area_type=p[1], days_back=p[2],
            value_cast="double",
        )
    raise ValueError(q.family)


class ReleasePublish:
    """Publish consecutive seeded release days into one serving store:
    build_panel -> process_panel -> to_long_store -> write_store. A
    traced run then publishes one more release, untimed, and every
    ``plans.serving`` query family reads the two-release store once,
    after the plain SQL statements it is checked against."""

    name = "release_publish"
    OP_COST_S = 10.0
    HISTORY_DAYS = 30

    def __init__(self, run: Run):
        self.run = run
        self.days = ops_for(run.seconds, self.OP_COST_S)
        self.queries = inputs.read_back_queries(run.seed)
        # a traced run publishes one more release, untimed, so the
        # read-back has a release-over-release history
        self.extra = 1 if run.tracer.enabled else 0

    def setup(self, rep: int) -> dict:
        run = self.run
        st = {"store": run.path(f"rep{rep}", "store"), "json": {}, "last": {}, "obs": {}, "bytes": {}}
        st["pop"] = run.path(f"rep{rep}", "population.parquet")
        st["latest_release"] = self.days + self.extra + 1
        inputs.write_parquet(inputs.population_rows(run.seed), POP_SCHEMA, st["pop"])
        for day in range(1, self.days + self.extra + 1):
            d = run.path(f"rep{rep}", "release", str(day), "")
            st["obs"][day], st["last"][day] = inputs.release_files(run.seed, day, d, self.HISTORY_DAYS)
            st["json"][day] = d
            st["bytes"][day] = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        st["meter"] = ByteMeter([st["store"]])
        return st

    def seed(self, st: dict) -> None:
        """Nothing to seed: the first release starts the store."""

    def processed(self, st: dict, day: int) -> DataFrame:
        spark = self.run.spark
        return process_panel(
            build_panel(spark, st["json"][day]),
            spark.read.parquet(st["pop"]),
            release_timestamp=inputs.release_date(day).isoformat(),
        )

    def publish(self, st: dict, day: int) -> None:
        group = F.when(F.col("area_type").isin("utla", "ltla"), F.col("area_type")).otherwise(
            F.lit("other")
        )
        long = to_long_store(
            self.processed(st, day),
            release_id=day + 1,
            # the reference's Y_m_d|group partition id: each release adds partitions
            partition_group_expr=F.concat_ws("|", F.lit(inputs.partition_tag(day)), group),
            hash_key=HASH_KEY,
        )
        write_store(long, st["store"])

    def ops(self, st: dict):
        st["meter"].snap()
        for day in range(1, self.days + 1):
            yield lambda traced, day=day: self.op(st, day, traced)

    def op(self, st: dict, day: int, traced: bool):
        run, span = self.run, self.run.tracer.span
        with span("plans.main_pipeline.write_store", meter=st["meter"]):
            wall, _ = run.timed(lambda: self.publish(st, day))
        st["meter"].snap()
        if traced:
            # lazy layers get their times by prefix difference: the parse
            # alone, then parse + processing chain, each into a noop sink.
            # They run after the publish so they cannot warm it.
            def noop(df: DataFrame) -> None:
                df.write.format("noop").mode("overwrite").save()

            t0 = time.perf_counter()
            with span("sources.nested_json.build_panel"):
                noop(build_panel(run.spark, st["json"][day]))
            with span("operators.process_panel"):
                noop(self.processed(st, day))
            run.prefix_extra_s += time.perf_counter() - t0
        return wall, lambda: checks.release(run, st, day)

    def finish(self, st: dict) -> None:
        run, tracer = self.run, self.run.tracer
        if not tracer.enabled:
            return  # the read-back is a traced-run layer probe (see README)
        day = self.days + 1
        self.publish(st, day)
        run.attempt(f"release day {day}", lambda: checks.release(run, st, day))
        # the reference statements run first: they are the checks' answers
        # and they warm the scans and joins the library queries share
        want = {q.family: checks.serving_reference(run, st, q) for q in self.queries}
        for q in self.queries:
            with tracer.activated(), tracer.span(f"plans.serving.{q.family}"):
                rows = serving_query(run.spark, st, q).collect()
            run.attempt(
                f"read-back {q.family}",
                lambda q=q, rows=rows: checks.serving(run, st, q, rows, want[q.family]),
            )

    def store_stats(self, st: dict) -> dict:
        days = range(1, self.days + 1)
        return dict(
            roots=[st["store"]],
            meter=st["meter"],
            rows=sum(st["obs"][d] for d in days),
            user_bytes=sum(st["bytes"][d] for d in days),
        )


# --------------------------------------------------------------------------
# store_maintenance


class StoreMaintenance:
    """Crawl waves against the dedup state (fp store, band index) plus one
    serving-store backfill per wave, budgeted folds every few waves, and a
    full fold of every store at the end."""

    name = "store_maintenance"
    OP_COST_S = 9.0
    SEED_DOCS = 2000
    WAVE_DOCS = 300
    K, BANDS, THRESHOLD = 16, 2, 0.9
    FOLD_EVERY = 1
    FOLD_BUDGET = 2
    SERVING_AREAS, SERVING_DAYS, BACKFILL_ROWS = 24, 30, 200

    def __init__(self, run: Run):
        self.run = run
        self.waves = ops_for(run.seconds, self.OP_COST_S)
        docs = inputs.documents(os.path.join("testdata_sf1", "documents.parquet"))
        self.plan = inputs.crawl_plan(run.seed, docs, self.SEED_DOCS, self.waves, self.WAVE_DOCS)

    def setup(self, rep: int) -> dict:
        run = self.run
        d = lambda *p: run.path(f"rep{rep}", *p)  # noqa: E731
        st = {k: d(k) for k in ("fp", "index", "corpus", "store")}
        # the corpus the probe verifies against is the benchmark's own glue:
        # the seed documents land in it as one file, and survivors append
        st["seed_file"] = d("corpus", "seed.parquet")
        inputs.write_parquet(self.plan.seed_docs, DOC_SCHEMA, st["seed_file"])
        rows = inputs.long_rows(run.seed, 200, self.SERVING_DAYS, n_areas=self.SERVING_AREAS)
        st["serving_file"] = d("in", "serving.parquet")
        inputs.write_parquet(rows, inputs.LONG_SCHEMA, st["serving_file"])
        st["store_rows"] = {(r[6], r[8]): r for r in rows}
        st["wave_files"], st["backfill_files"], st["backfills"] = [], [], []
        # the stores hold the seeded state too, so it counts as rows taken in
        st["rows"] = len(self.plan.seed_docs) + len(rows)
        st["user_bytes"] = 0
        for w, wave in enumerate(self.plan.waves):
            f = d("in", f"wave{w}.parquet")
            b = inputs.write_parquet(wave, DOC_SCHEMA, f)
            bf = inputs.backfill_rows(run.seed, f"wave{w}", rows, self.BACKFILL_ROWS)
            g = d("in", f"backfill{w}.parquet")
            b += inputs.write_parquet(bf, inputs.LONG_SCHEMA, g)
            st["wave_files"].append(f)
            st["backfill_files"].append(g)
            st["backfills"].append(bf)
            st["rows"] += len(wave) + len(bf)
            st["user_bytes"] += b
        st["latest"] = dict(self.plan.seed_docs)  # doc id -> latest indexed text
        st["survivor_texts"] = []
        st["folds"] = []
        st["meter"] = ByteMeter([st["fp"], st["index"], st["store"]])
        return st

    def seed(self, st: dict) -> None:
        """Seed the fp store, the band index and the serving store through
        the library."""
        spark = self.run.spark
        seed = spark.read.parquet(st["seed_file"])
        fp_store_write(
            seed.select(checks.plain_fingerprint("text").alias("fp")).distinct(), st["fp"],
            mode="overwrite",
        )
        band_index_write(
            minhash_band_index(seed, k=self.K, bands=self.BANDS), st["index"],
            k=self.K, bands=self.BANDS,
        )
        write_store(spark.read.parquet(st["serving_file"]), st["store"])

    def wave(self, st: dict, w: int) -> dict:
        spark, span = self.run.spark, self.run.tracer.span
        batch = spark.read.parquet(st["wave_files"][w])
        with span("functions.dedup.fp_store_pruned"):
            seen = fp_store_pruned(spark, st["fp"], batch)
        with span("functions.dedup.dedup_incremental"):
            # the exact stage's survivors come back to the driver (a wave is
            # small), so later stages never recompute them against the
            # state this wave advances
            kept_rows = dedup_incremental(batch, seen).select("doc_id", "text", "fp").collect()
        kept = spark.createDataFrame(kept_rows, KEPT_SCHEMA)
        with span("functions.dedup.band_index_pruned"):
            bands = band_index_pruned(spark, st["index"], kept, k=self.K, bands=self.BANDS)
        with span("functions.dedup.minhash_probe_pairs"):
            near = {
                r[0]
                for r in minhash_probe_pairs(
                    kept, spark.read.parquet(st["corpus"]), k=self.K, bands=self.BANDS,
                    threshold=self.THRESHOLD, corpus_bands=bands,
                )
                # a re-crawl of the same id replaces the document; it is
                # not a near duplicate of its own earlier version
                .filter(F.col("new_id") != F.col("old_id"))
                .select("new_id")
                .distinct()
                .collect()
            }
        survivors = spark.createDataFrame(
            [r for r in kept_rows if r.doc_id not in near], KEPT_SCHEMA
        )
        with span("functions.dedup.fp_store_write", meter=st["meter"]):
            fp_store_write(survivors.select("fp"), st["fp"])
        with span("streaming.ingest.index_upsert_batch", meter=st["meter"]):
            index_upsert_batch(
                survivors.select("doc_id", "text"), st["index"], k=self.K, bands=self.BANDS
            )
        survivors.select("doc_id", "text").write.mode("append").parquet(st["corpus"])
        with span("plans.main_pipeline.merge_upsert_store", meter=st["meter"]):
            merge_upsert_store(spark.read.parquet(st["backfill_files"][w]), st["store"])
        return {"kept": [(r.doc_id, r.text) for r in kept_rows], "near": near}

    def apply_wave(self, st: dict, w: int, out: dict) -> None:
        """Advance the check replay by one wave's library-chosen survivors
        and the plain merge rule."""
        survivors = [(i, t) for i, t in out["kept"] if i not in out["near"]]
        st["latest"].update(survivors)
        st["survivor_texts"].extend(t for _, t in survivors)
        checks.merge_rule(st["store_rows"], st["backfills"][w])

    def fold(self, st: dict, final: bool) -> None:
        spark, tracer = self.run.spark, self.run.tracer
        with tracer.activated(), tracer.span("functions.dedup.compact_dedup_store", meter=st["meter"]) as s:
            t0 = time.perf_counter()
            if final:
                reports = [compact_dedup_store(spark, st["index"]), compact_dedup_store(spark, st["fp"])]
            else:
                reports = [
                    compact_dedup_store(
                        spark, st["index"], incremental=True, bucket_budget=self.FOLD_BUDGET
                    )
                ]
            st["folds"].append(time.perf_counter() - t0)
            if s is not None:
                s.extra["reports"] = reports
        st["meter"].snap()

    def ops(self, st: dict):
        st["meter"].snap()
        for w in range(self.waves):
            yield lambda traced, w=w: self.op(st, w, traced)

    def op(self, st: dict, w: int, traced: bool):
        wall, out = self.run.timed(lambda: self.wave(st, w))
        st["meter"].snap()
        self.apply_wave(st, w, out)
        if (w + 1) % self.FOLD_EVERY == 0:
            self.fold(st, final=False)
        return wall, lambda: checks.wave(self, st, w, out)

    def finish(self, st: dict) -> None:
        run = self.run
        run.attempt("store_maintenance merge-on-read band index", lambda: checks.band_index(self, st))
        self.fold(st, final=True)
        with run.tracer.activated(), run.tracer.span(
            "plans.main_pipeline.compact_store", meter=st["meter"]
        ):
            t0 = time.perf_counter()
            compact_store(run.spark, st["store"])
            st["folds"].append(time.perf_counter() - t0)
        st["meter"].snap()
        run.notes["fold_s"] = sum(st["folds"])
        run.attempt("store_maintenance folded band index", lambda: checks.band_index(self, st))
        run.attempt("store_maintenance fp store", lambda: checks.fp_store(self, st))
        run.attempt("store_maintenance serving store", lambda: checks.serving_store(self, st))

    def store_stats(self, st: dict) -> dict:
        return dict(
            roots=[st["fp"], st["index"], st["store"]],
            meter=st["meter"],
            rows=st["rows"],
            user_bytes=st["user_bytes"],
        )


WORKLOADS = {w.name: w for w in (ReleasePublish, StoreMaintenance)}

