"""Seeded input generators for the three benchmark workloads.

Every input the library sees is made here from ``(seed, name)``; the same
seed always gives byte-identical files and rows. Sizes are fixed per
workload so the cost of a run does not depend on the seed: the seed moves
values, gaps, short series, query parameters and which documents a crawl
wave carries, never how many there are.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# Area types written one file each, as the release lands in production:
# (file key, code prefix, number of areas).
AREA_TYPES = (
    ("nations", "E92", 4),
    ("regions", "E12", 9),
    ("utlas", "E10", 24),
    ("ltlas", "E07", 36),
)

# Release metrics, chosen from the default MetricConfig so every operator
# of the processing chain has work: zero fills, cumulative fills,
# negatives, pair sums, adjacent fill, rates, the rolling family, ratio to
# percentage and the trim-end mask.
COUNT_METRICS = (
    "newCasesBySpecimenDate",
    "newCasesByPublishDate",
    "newDeaths28DaysByDeathDate",
    "newDeaths28DaysByPublishDate",
    "newAdmissions",
    "newVirusTestsByPublishDate",
    "newPillarOneTestsByPublishDate",
    "newPillarTwoTestsByPublishDate",
)
CUMULATIVE_METRICS = (
    "cumCasesBySpecimenDate",
    "cumDeaths28DaysByDeathDate",
    "cumAdmissions",
    "cumAdmissionsByAge",
)
RATIO_METRICS = ("uniqueCasePositivityBySpecimenDateRollingSum",)
RELEASE_METRICS = COUNT_METRICS + CUMULATIVE_METRICS + RATIO_METRICS

FIRST_RELEASE = dt.date(2021, 3, 1)


def rng(seed: int, *name: object) -> random.Random:
    """Independent deterministic stream per (seed, name...)."""
    return random.Random(":".join(str(x) for x in (seed, *name)))


def release_date(day: int) -> dt.date:
    return FIRST_RELEASE + dt.timedelta(days=day)


def partition_tag(day: int) -> str:
    """The reference's ``Y_m_d`` release prefix of a partition id."""
    return release_date(day).strftime("%Y_%m_%d")


def area_codes() -> list[tuple[str, str, str]]:
    """``(file key, area code, area name)`` for every area, fixed across
    seeds so the store shape is too."""
    out = []
    for key, prefix, n in AREA_TYPES:
        for i in range(n):
            out.append((key, f"{prefix}{i:06d}", f"{key[:-1].title()} {i}"))
    return out


def _series(r: random.Random, metric: str, dates: list[str]) -> list[dict]:
    """One metric's time series with gaps, negatives and short series."""
    n = len(dates)
    start = 0 if r.random() < 0.8 else r.randrange(n // 2, n - 3)  # short
    end = n if r.random() < 0.9 else r.randrange(start + 3, n)  # stops early
    level = r.uniform(5, 400)
    out = []
    total = 0.0
    for i in range(start, end):
        if r.random() < 0.04:  # gap: homogenise and fills repair it
            continue
        if metric in RATIO_METRICS:
            value = round(r.uniform(0.01, 0.2), 4)
        else:
            step = max(0, int(r.gauss(level, level / 4)))
            if metric in CUMULATIVE_METRICS:
                total += step
                value = int(total)
            else:
                value = step if r.random() > 0.02 else -r.randrange(1, 20)
        out.append({"date": dates[i], "value": value})
    return out


def release_files(
    seed: int, day: int, out_dir: str, history_days: int
) -> tuple[int, dict[str, str]]:
    """Write one release as nested JSON, one file per area type
    (``{areaType: {areaCode: {metric: [{date, value}]}}}``). Returns the
    number of observations and each area's last observed date."""
    os.makedirs(out_dir, exist_ok=True)
    rel = release_date(day)
    dates = [
        (rel - dt.timedelta(days=history_days - i)).isoformat()
        for i in range(history_days)
    ]
    by_type: dict[str, dict] = {}
    last_date: dict[str, str] = {}
    n_obs = 0
    for key, code, name in area_codes():
        r = rng(seed, "release", day, code)
        area = {"name": {"value": name}}
        for metric in RELEASE_METRICS:
            series = _series(r, metric, dates)
            if series:
                area[metric] = series
                n_obs += len(series)
                last_date[code] = max(last_date.get(code, ""), series[-1]["date"])
        by_type.setdefault(key, {})[code] = area
    for key, areas in by_type.items():
        with open(os.path.join(out_dir, f"{key}.json"), "w") as fh:
            json.dump({key: areas}, fh, separators=(",", ":"))
    return n_obs, last_date


def population_rows(seed: int) -> list[tuple[str, float]]:
    """``(areaCode, population)`` for every area."""
    r = rng(seed, "population")
    return [(code, float(r.randrange(50_000, 2_000_000))) for _, code, _ in area_codes()]


# The serving store's long-row schema, as ``to_long_store`` writes it.
LONG_SCHEMA = pa.schema(
    [
        ("area_type", pa.string()),
        ("area_code", pa.string()),
        ("areaName", pa.string()),
        ("date", pa.string()),
        ("metric", pa.string()),
        ("payload", pa.string()),
        ("partition_id", pa.string()),
        ("release_id", pa.int32()),
        ("hash", pa.string()),
    ]
)
LONG_COLUMNS = LONG_SCHEMA.names
SERVING_METRICS = (
    "newCasesBySpecimenDate",
    "cumCasesBySpecimenDate",
    "newAdmissions",
    "cumAdmissions",
    "newDeaths28DaysByDeathDate",
    "cumDeaths28DaysByDeathDate",
)
TYPE_NAMES = {"nations": "nation", "regions": "region", "utlas": "utla", "ltlas": "ltla"}


def payload(value: float) -> str:
    return json.dumps({"value": value}, separators=(",", ":"))


def long_rows(seed: int, day: int, history_days: int, n_areas: int) -> list[tuple]:
    """Long serving-store rows of one published release (release id 1), one
    per (area, metric, date) with a few gaps."""
    rel = release_date(day)
    tag = partition_tag(day)
    out = []
    for key, code, name in area_codes()[:n_areas]:
        area_type = TYPE_NAMES[key]
        group = area_type if area_type in ("utla", "ltla") else "other"
        for metric in SERVING_METRICS:
            r = rng(seed, "long", code, metric)
            level = r.uniform(5, 400)
            total = 0.0
            for i in range(history_days):
                date = (rel - dt.timedelta(days=history_days - 1 - i)).isoformat()
                value = float(max(0, int(r.gauss(level, level / 4))))
                total += value
                if r.random() < 0.04:
                    continue  # a gap in the series
                h = hashlib.blake2s(
                    f"{date}{area_type}{code}{metric}1".encode(), digest_size=12
                ).hexdigest()
                value = total if metric.startswith("cum") else value
                out.append(
                    (area_type, code, name, date, metric, payload(value), f"{tag}|{group}", 1, h)
                )
    return out


def backfill_rows(seed: int, name: str, rows: list[tuple], n: int) -> list[tuple]:
    """A late-metric backfill batch over existing long rows: each chosen
    row gets a new payload under its own hash (an update), and a tenth of
    the batch repeats an earlier batch row with another payload, so the
    batch dedup has work."""
    r = rng(seed, "backfill", name)
    out = [row[:5] + (payload(float(r.randrange(0, 10_000))),) + row[6:] for row in r.sample(rows, n)]
    for row in out[: n // 10]:
        out.append(row[:5] + (payload(float(r.randrange(0, 10_000))),) + row[6:])
    return out


def write_parquet(rows: list[tuple], schema: pa.Schema, path: str) -> int:
    """Write rows as one parquet file and return its size in bytes."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema.names]
    pq.write_table(
        pa.table({n: list(c) for n, c in zip(schema.names, cols)}, schema=schema), path
    )
    return os.path.getsize(path)


QUERY_FAMILIES = (
    "latest_metrics",
    "latest_n_dates",
    "landing_cache_rows",
    "area_percentiles",
    "release_over_release_delta",
    "map_layer_features",
)


@dataclass(frozen=True)
class Query:
    family: str
    params: tuple


def read_back_queries(seed: int) -> list[Query]:
    """One dashboard query per ``plans.serving`` family, seeded parameters."""
    r = rng(seed, "queries")
    m = list(SERVING_METRICS)
    params = {
        "latest_metrics": (tuple(sorted(r.sample(m, 3))),),
        "latest_n_dates": (r.choice((2, 3, 5)), tuple(sorted(r.sample(m, 2)))),
        "landing_cache_rows": (tuple(sorted(r.sample(m, 2))), r.choice((7, 14, 30))),
        "area_percentiles": (r.choice(m),),
        "release_over_release_delta": (r.choice(m),),
        "map_layer_features": (r.choice(m), r.choice(("utla", "ltla")), r.choice((14, 30))),
    }
    return [Query(f, params[f]) for f in QUERY_FAMILIES]


def documents(path: str) -> list[tuple[int, str]]:
    """``(doc_id, text)`` of the tracked document corpus."""
    t = pq.read_table(path, columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def _edit(r: random.Random, text: str) -> str:
    """A re-crawl's edit: replace about a third of the tokens, so the new
    version is a different document under the same id."""
    toks = text.split(" ")
    for i in range(len(toks)):
        if r.random() < 0.35:
            toks[i] = f"edit{r.randrange(1_000_000)}"
    return " ".join(toks)


@dataclass(frozen=True)
class CrawlPlan:
    seed_docs: list[tuple[int, str]]
    waves: list[list[tuple[int, str]]]


def crawl_plan(
    seed: int, docs: list[tuple[int, str]], seed_size: int, n_waves: int,
    wave_size: int,
) -> CrawlPlan:
    """Seed corpus plus ``n_waves`` crawl waves. Each wave holds fresh
    documents, planted exact copies of seed documents under new ids (the
    exact stage must drop them) and edited re-crawls of seed ids (the band
    index must replace their rows, so the tombstone path fires)."""
    r = rng(seed, "crawl")
    pool = r.sample(docs, seed_size + n_waves * wave_size)
    seed_docs = pool[:seed_size]
    waves = []
    next_id = 100_000_000
    n_copies = n_recrawl = wave_size // 10
    for w in range(n_waves):
        lo = seed_size + w * wave_size
        fresh = pool[lo : lo + wave_size - n_copies - n_recrawl]
        copies = []
        for _, text in r.sample(seed_docs, n_copies):
            copies.append((next_id, text))
            next_id += 1
        recrawls = [(i, _edit(r, text)) for i, text in r.sample(seed_docs, n_recrawl)]
        wave = fresh + copies + recrawls
        r.shuffle(wave)
        waves.append(wave)
    return CrawlPlan(seed_docs, waves)


def digest(obj: object) -> str:
    """Stable digest of generated inputs, for the determinism test."""
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()
