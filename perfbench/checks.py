"""Output checks. Each compares what the library produced with an
independent statement of the same result: plain Spark SQL for the serving
query families, a plain-Python replay of the merge rule for the serving store, a
from-scratch rebuild for the band index and the fingerprint store, and
invariants plus recorded checksums for a published release."""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

from pyspark.sql import Column, DataFrame, functions as F

from coronavirus_dashboard_pipeline_etl_spark.config import DEFAULT_METRICS, TAIL_TRIM_DAYS

from . import inputs

_CHECKSUMS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "checksums.json")


def plain_fingerprint(col: str) -> Column:
    """md5 of the lower-cased, whitespace-collapsed text, written out."""
    return F.expr(f"md5(regexp_replace(lower(trim({col})), '\\\\s+', ' '))")


def _same(what: str, got: list, want: list) -> bool:
    if sorted(got) == sorted(want):
        return True
    extra = sorted(set(got) - set(want))[:3]
    missing = sorted(set(want) - set(got))[:3]
    print(
        f"perfbench: {what}: {len(got)} rows vs {len(want)} expected; "
        f"unexpected {extra}; missing {missing}",
        file=sys.stderr,
    )
    return False


def _norm(v):
    return round(v, 9) if isinstance(v, float) else v


def _rows(df_or_rows) -> list[tuple]:
    rows = df_or_rows.collect() if isinstance(df_or_rows, DataFrame) else df_or_rows
    return [tuple(_norm(v) for v in r) for r in rows]


# --------------------------------------------------------------------------
# release_publish


def recorded_checksum(seed: int, day: int):
    with open(_CHECKSUMS) as fh:
        return json.load(fh).get("release_publish", {}).get(str(seed), {}).get(str(day))


def _trim_cutoff(last_date: str) -> str:
    return (dt.date.fromisoformat(last_date) - dt.timedelta(days=TAIL_TRIM_DAYS)).isoformat()


def release(run, st: dict, day: int) -> bool:
    """Key uniqueness, every input area present, the trim-end mask, and
    the recorded checksum of the day's partitions when the seed has one."""
    spark = run.spark
    tag = inputs.partition_tag(day)
    df = spark.read.parquet(st["store"]).filter(F.col("partition_id").startswith(f"{tag}|"))
    valued = F.get_json_object("payload", "$.value").isNotNull()
    # one pass, per (area, metric): a hash or a key covers its area and
    # metric, so per-group distinct counts add up to the day's
    last = (
        df.groupBy("area_code", "metric")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("hash").alias("n_hash"),
            F.count_distinct("date", "area_type").alias("n_keys"),
            F.expr("bit_xor(xxhash64(partition_id, hash, payload))").alias("xor"),
            F.max(F.when(valued, F.col("date"))).alias("d"),
        )
        .collect()
    )
    n, n_hash, n_keys = (sum(r[k] for r in last) for k in ("n", "n_hash", "n_keys"))
    xor = 0
    for r in last:
        xor ^= r.xor
    ok = n > 0 and n == n_hash == n_keys
    if not ok:
        print(f"perfbench: release day {day}: {n} rows, {n_hash} hashes, {n_keys} keys", file=sys.stderr)
    areas = {r.area_code for r in last}
    want_areas = {code for _, code, _ in inputs.area_codes()}
    if areas != want_areas:
        ok = False
        print(f"perfbench: release day {day}: areas differ {sorted(areas ^ want_areas)[:5]}", file=sys.stderr)
    for r in last:
        trimmed = r.metric in DEFAULT_METRICS.trim_end and r.d is not None
        if trimmed and r.d > _trim_cutoff(st["last"][day][r.area_code]):
            ok = False
            print(f"perfbench: release day {day}: {r.area_code}/{r.metric} unmasked at {r.d}", file=sys.stderr)
    run.notes.setdefault("checksums", {})[str(day)] = [n, xor]
    want = recorded_checksum(run.seed, day)
    if want is not None and want != [n, xor]:
        ok = False
        print(f"perfbench: release day {day}: checksum {[n, xor]} != recorded {want}", file=sys.stderr)
    return ok


# --------------------------------------------------------------------------
# read-back: each serving family as one plain SQL statement over the same tables

_JOINED = """
  SELECT t.*, a.area_type, a.area_code, a.area_name, m.metric,
         CAST(get_json_object(t.payload, '$.value') AS DOUBLE) AS v
  FROM ts t JOIN areas a ON t.area_id = a.area_id JOIN metrics m ON t.metric_id = m.metric_id
"""


def _in(names) -> str:
    return ", ".join(f"'{n}'" for n in names)


def reference_sql(q: inputs.Query) -> str:
    p = q.params
    if q.family == "latest_metrics":
        return f"""
        SELECT area_type, area_code, area_name, metric, date, v FROM (
          SELECT *, RANK() OVER (PARTITION BY area_id, metric_id ORDER BY date DESC) AS rk
          FROM ({_JOINED}) WHERE metric IN ({_in(p[0])}))
        WHERE rk = 1"""
    if q.family == "latest_n_dates":
        return f"""
        WITH j AS ({_JOINED}), f AS (SELECT * FROM j WHERE metric IN ({_in(p[1])})),
        d AS (SELECT area_id, date FROM (
          SELECT area_id, date, RANK() OVER (PARTITION BY area_id ORDER BY date DESC) AS rk
          FROM (SELECT DISTINCT area_id, date FROM f)) WHERE rk <= {p[0]})
        SELECT f.area_type, f.area_code, f.metric, f.date, f.payload
        FROM f JOIN d ON f.area_id = d.area_id AND f.date = d.date"""
    if q.family == "landing_cache_rows":
        return f"""
        WITH j AS ({_JOINED}),
        l AS (SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY area_id, metric_id, date ORDER BY release_id DESC) AS rn
          FROM j WHERE metric IN ({_in(p[0])})) WHERE rn = 1),
        w AS (SELECT *, MAX(date) OVER (PARTITION BY area_id, metric_id) AS mx FROM l)
        SELECT area_type, area_code, metric,
               to_json(sort_array(collect_list(named_struct('date', date, 'value', v)), false)) AS cache_value,
               concat_ws('|', area_type, area_code, metric) AS cache_key
        FROM w WHERE datediff(to_date(mx), to_date(date)) < {p[1]}
        GROUP BY area_type, area_code, metric"""
    if q.family == "area_percentiles":
        return f"""
        WITH j AS (SELECT * FROM ({_JOINED}) WHERE metric = '{p[0]}'),
        lt AS (SELECT area_type, MAX(date) AS d FROM j GROUP BY area_type)
        SELECT j.area_type, j.date, percentile(v, 0.25), percentile(v, 0.5),
               percentile(v, 0.75), MIN(v), MAX(v)
        FROM j JOIN lt ON j.area_type = lt.area_type AND j.date = lt.d
        GROUP BY j.area_type, j.date"""
    if q.family == "release_over_release_delta":
        return f"""
        WITH j AS (SELECT area_id, date, release_id, v FROM ({_JOINED}) WHERE metric = '{p[0]}'),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY area_id, date ORDER BY release_id DESC) AS rn FROM j)
        SELECT a.area_id, a.date, GREATEST(a.v - b.v, 0.0)
        FROM r a JOIN r b ON a.area_id = b.area_id AND a.date = b.date AND b.rn = 2
        WHERE a.rn = 1 AND a.v - b.v IS NOT NULL"""
    if q.family == "map_layer_features":
        return f"""
        WITH j AS (SELECT * FROM ({_JOINED}) WHERE metric = '{p[0]}' AND area_type = '{p[1]}'
                   AND get_json_object(payload, '$.value') IS NOT NULL),
        mx AS (SELECT MAX(to_date(date)) AS mx FROM j)
        SELECT j.date,
               to_json(named_struct('date', j.date, 'code', j.area_code, 'value', j.v)),
               to_json(named_struct('type', g.geometry_type, 'coordinates', g.coordinates))
        FROM j CROSS JOIN mx LEFT JOIN geo g ON j.area_id = g.area_id
        WHERE datediff(mx.mx, to_date(j.date)) < {p[2]}"""
    raise ValueError(q.family)


def serving_reference(run, st: dict, q: inputs.Query) -> list[tuple]:
    """The plain SQL statement's rows for one query."""
    from .workloads import star_dims, time_series

    spark = run.spark
    ts = time_series(spark, st["store"])
    ts.createOrReplaceTempView("ts")
    if q.family == "latest_metrics":
        ts.filter(F.col("release_id") == st["latest_release"]).createOrReplaceTempView("ts")
    for name, dim in star_dims(spark).items():
        dim.createOrReplaceTempView(name)
    return _rows(spark.sql(reference_sql(q)))


def serving(run, st: dict, q: inputs.Query, rows: list, want: list | None = None) -> bool:
    """The library's rows equal the plain SQL statement's."""
    if want is None:
        want = serving_reference(run, st, q)
    return _same(f"serving {q.family}{q.params}", _rows(rows), want)


# --------------------------------------------------------------------------
# store_maintenance


def merge_rule(store: dict, batch: list[tuple]) -> None:
    """The serving store's upsert rule replayed on a dict keyed by
    (partition_id, hash): the batch keeps its largest payload per key and
    every batch row lands; other rows of the store are untouched."""
    best: dict = {}
    for row in batch:
        key = (row[6], row[8])
        if key not in best or row[5] > best[key][5]:
            best[key] = row
    store.update(best)


def wave(wl, st: dict, w: int, out: dict) -> bool:
    """Every planted exact copy of a seed document was dropped."""
    planted = {i for i, _ in wl.plan.waves[w] if i >= 100_000_000}
    kept = {i for i, _ in out["kept"]}
    return _same(f"wave {w} planted copies kept", sorted(planted & kept), [])


def band_index_rebuilt(wl, st: dict) -> list[tuple]:
    """``minhash_band_index`` rebuilt from scratch over each document's
    latest crawl."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import minhash_band_index

    latest = wl.run.spark.createDataFrame(sorted(st["latest"].items()), "doc_id long, text string")
    return _rows(minhash_band_index(latest, k=wl.K, bands=wl.BANDS))


def band_index(wl, st: dict) -> bool:
    """The store's (merge-on-read) band rows equal the from-scratch
    rebuild, made once per run (the end-of-run checks share it)."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import band_index_read

    if "want_bands" not in st:
        st["want_bands"] = band_index_rebuilt(wl, st)
    got = band_index_read(wl.run.spark, st["index"]).select("doc_id", "band", "sig")
    return _same("band index", _rows(got), st["want_bands"])


def fp_store(wl, st: dict) -> bool:
    """The fingerprint store holds each seed and survivor fingerprint once."""
    spark = wl.run.spark
    texts = [t for _, t in wl.plan.seed_docs] + st["survivor_texts"]
    want = (
        spark.createDataFrame([(t,) for t in texts], "text string")
        .select(plain_fingerprint("text").alias("fp"))
        .distinct()
    )
    got = spark.read.parquet(st["fp"]).select("fp")
    return _same("fp store", _rows(got), _rows(want))


def serving_store(wl, st: dict) -> bool:
    """The serving store equals the seeded rows with every wave's backfill
    merged by the plain rule."""
    got = wl.run.spark.read.parquet(st["store"]).select(*inputs.LONG_COLUMNS)
    return _same("serving store", _rows(got), list(st["store_rows"].values()))
