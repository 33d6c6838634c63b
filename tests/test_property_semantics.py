"""Property-based parity: hypothesis generates adversarial panels (null
runs, all-zero groups, short series, constant series) and the Spark
operators must match an independent pandas implementation of the
reference semantics row-for-row.

This is the test style SURVEY.md §5 calls for on the hard parts: the
reference's behaviour lives in pandas quirks (min_periods, ffill bounds,
`denominator or 1`), and example-based tests alone under-sample the edge
space.
"""

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from coronavirus_dashboard_pipeline_etl_spark.operators import (
    change_by_sum,
    normalise_records,
)
from tests.test_rolling import oracle_change_by_sum

# one series = up to 20 days of values from a nasty domain
value_strategy = st.lists(
    st.one_of(
        st.none(),
        st.integers(min_value=-3, max_value=5).map(float),
    ),
    min_size=1,
    max_size=20,
)


def build_panel(series_per_area):
    rows = []
    for i, values in enumerate(series_per_area):
        code = f"A{i:03d}"
        dates = pd.date_range("2021-01-01", periods=len(values)).strftime("%Y-%m-%d")
        rows += [
            {"areaType": "t", "areaCode": code, "date": d, "m": v}
            for d, v in zip(dates, values)
        ]
    return pd.DataFrame(rows)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(value_strategy, min_size=1, max_size=3))
def test_change_by_sum_property(spark, series_per_area):
    pdf = build_panel(series_per_area)
    sdf = spark.createDataFrame(pdf.astype({"m": "float64"}))
    got = (
        change_by_sum(sdf, ["m"])
        .toPandas()
        .sort_values(["areaCode", "date"])
        .reset_index(drop=True)
    )
    exp = (
        oracle_change_by_sum(pdf, "m")
        .sort_values(["areaCode", "date"])
        .reset_index(drop=True)
    )
    for g_col, e_col in [
        ("mRollingSum", "rsum"),
        ("mChange", "chg"),
        ("mDirection", "dirn"),
        ("mChangePercentage", "pct"),
    ]:
        for i in range(len(exp)):
            gv, ev = got[g_col].iloc[i], exp[e_col].iloc[i]
            if ev is None or (not isinstance(ev, str) and pd.isna(ev)):
                assert gv is None or pd.isna(gv), (g_col, i, gv, ev, pdf)
            elif isinstance(ev, str):
                assert gv == ev, (g_col, i, gv, ev, pdf)
            else:
                assert gv == pytest.approx(ev, abs=1e-9), (g_col, i, gv, ev, pdf)


def oracle_normalise(pdf, zero_filled=(), cumulative=()):
    """Independent pandas implementation of normalisation.py:26-89."""
    out = pdf.sort_values(["areaCode", "date"]).copy()
    for col in zero_filled:
        for code in out.areaCode.unique():
            sel = out.areaCode == code
            dm = out.loc[sel, [col, "date"]].dropna()
            if dm.empty:
                continue
            idx = sel & (out.date >= dm.date.min()) & (out.date < dm.date.max())
            out.loc[idx, col] = out.loc[idx, col].fillna(0)
    for col in cumulative:
        for code in out.areaCode.unique():
            sel = out.areaCode == code
            dm = out.loc[sel, [col, "date"]].dropna()
            if dm.empty:
                continue
            idx = sel & (out.date >= dm.date.min()) & (out.date < dm.date.max())
            out.loc[idx, col] = out.loc[sel, col].ffill()[idx]
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(value_strategy, min_size=1, max_size=3))
def test_normalise_property(spark, series_per_area):
    pdf = build_panel(series_per_area)
    sdf = spark.createDataFrame(pdf.astype({"m": "float64"}))
    got = (
        normalise_records(sdf, zero_filled=["m"])
        .toPandas()
        .sort_values(["areaCode", "date"])
        .reset_index(drop=True)
    )
    exp = (
        oracle_normalise(pdf, zero_filled=["m"])
        .sort_values(["areaCode", "date"])
        .reset_index(drop=True)
    )
    for i in range(len(exp)):
        gv, ev = got["m"].iloc[i], exp["m"].iloc[i]
        if ev is None or pd.isna(ev):
            assert gv is None or pd.isna(gv), (i, gv, ev, pdf)
        else:
            assert gv == pytest.approx(ev), (i, gv, ev, pdf)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(value_strategy, min_size=1, max_size=3))
def test_normalise_cumulative_property(spark, series_per_area):
    pdf = build_panel(series_per_area)
    sdf = spark.createDataFrame(pdf.astype({"m": "float64"}))
    got = (
        normalise_records(sdf, cumulative=["m"])
        .toPandas()
        .sort_values(["areaCode", "date"])
        .reset_index(drop=True)
    )
    exp = (
        oracle_normalise(pdf, cumulative=["m"])
        .sort_values(["areaCode", "date"])
        .reset_index(drop=True)
    )
    for i in range(len(exp)):
        gv, ev = got["m"].iloc[i], exp["m"].iloc[i]
        if ev is None or pd.isna(ev):
            assert gv is None or pd.isna(gv), (i, gv, ev, pdf)
        else:
            assert gv == pytest.approx(ev), (i, gv, ev, pdf)


def oracle_msoa_suppress(pdf, metric="m"):
    """Reference EP3 semantics: pre-suppression (rolling sums < 3 become
    2) inside the rolling family, then null ALL stats where the rolling
    sum is <= 2 or missing (msoa_etl_db/processor.py:211-226, 279-281)."""
    out = oracle_change_by_sum(pdf, metric, min_sum_allowed=3, min_sum_sub=2)
    suppressed = out["rsum"].isna() | (out["rsum"] <= 2)
    out.loc[suppressed, [metric, "chg", "dirn", "pct"]] = np.nan
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.one_of(
                st.none(), st.integers(min_value=0, max_value=4).map(float)
            ),
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=3,
    )
)
def test_msoa_suppression_property(spark, series_per_area):
    """Small-count panels where the 3/2 substitution actually fires."""
    from coronavirus_dashboard_pipeline_etl_spark.operators import (
        suppress_by_rolling_sum,
    )

    pdf = build_panel(series_per_area)
    sdf = spark.createDataFrame(pdf.astype({"m": "float64"}))
    got = change_by_sum(sdf, ["m"], min_sum_allowed=3, min_sum_sub=2)
    got = (
        suppress_by_rolling_sum(
            got, "mRollingSum", ["m", "mChange", "mDirection", "mChangePercentage"]
        )
        .toPandas()
        .sort_values(["areaCode", "date"])
        .reset_index(drop=True)
    )
    exp = (
        oracle_msoa_suppress(pdf)
        .sort_values(["areaCode", "date"])
        .reset_index(drop=True)
    )
    for g_col, e_col in [
        ("m", "m"),
        ("mChange", "chg"),
        ("mDirection", "dirn"),
        ("mChangePercentage", "pct"),
    ]:
        for i in range(len(exp)):
            gv, ev = got[g_col].iloc[i], exp[e_col].iloc[i]
            if ev is None or (not isinstance(ev, str) and pd.isna(ev)):
                assert gv is None or pd.isna(gv), (g_col, i, gv, ev, pdf)
            elif isinstance(ev, str):
                assert gv == ev, (g_col, i, gv, ev, pdf)
            else:
                assert gv == pytest.approx(ev, abs=1e-9), (g_col, i, gv, ev, pdf)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from(
                list("abcdefghijklmnopqrstuvwxyz0123456789@.+-_ ")
            ),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_scrub_pii_idempotent_property(spark, texts):
    """scrub(scrub(x)) == scrub(x): placeholders never re-match any
    pattern, so a double scrub is a no-op — the property that makes the
    pass safe to re-run over partially-scrubbed corpora."""
    from pyspark.sql import Row, functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions import scrub_pii

    df = spark.createDataFrame(
        [Row(i=i, text=t) for i, t in enumerate(texts)]
    )
    out = df.select(
        "i",
        scrub_pii("text").alias("once"),
        scrub_pii(scrub_pii("text")).alias("twice"),
    )
    assert out.filter(F.col("once") != F.col("twice")).count() == 0


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.integers(min_value=1, max_value=256), min_size=1, max_size=40)
)
def test_assign_packs_invariants_property(spark, token_counts):
    """Invariants of concat-and-split packing for any chunk-size mix:
    offsets stay inside the context, pack ids are non-decreasing in
    stream order, and offset/pack agree with the running prefix sum."""
    from pyspark.sql import Row

    from coronavirus_dashboard_pipeline_etl_spark.functions import assign_packs

    ctx = 256
    rows = [
        Row(doc_id=i, chunk_index=0, chunk_tokens=t)
        for i, t in enumerate(token_counts)
    ]
    out = sorted(
        assign_packs(spark.createDataFrame(rows), context_len=ctx).collect(),
        key=lambda r: r.doc_id,
    )
    prefix = 0
    prev_pack = 0
    for r in out:
        assert 0 <= r.pack_offset < ctx
        assert r.pack_id == prefix // ctx
        assert r.pack_offset == prefix % ctx
        assert r.pack_id >= prev_pack
        prev_pack = r.pack_id
        prefix += r.chunk_tokens


# ---------------------------------------------------------------------------
# temporal operators: property checks against brute-force references
# ---------------------------------------------------------------------------

@st.composite
def _event_streams(draw):
    n_users = draw(st.integers(1, 4))
    events = []
    eid = 0
    for u in range(n_users):
        n = draw(st.integers(1, 12))
        t = 0
        for _ in range(n):
            t += draw(st.integers(0, 4000))  # seconds; gap threshold 1800
            events.append((eid, u, t))
            eid += 1
    return events


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_event_streams())
def test_sessionize_property(spark, events):
    from datetime import datetime, timedelta

    from coronavirus_dashboard_pipeline_etl_spark.operators.sessions import (
        sessionize,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (eid, u, base + timedelta(seconds=s)) for eid, u, s in events
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r.event_id: r.session_index for r in sessionize(df, gap_seconds=1800).collect()
    }

    # brute force per user
    for u in {e[1] for e in events}:
        evs = sorted((s, eid) for eid, uu, s in events if uu == u)
        sess = 0
        prev = None
        for s, eid in evs:
            if prev is not None and s - prev > 1800:
                sess += 1
            assert got[eid] == sess, (u, eid, s, prev)
            prev = s


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_event_streams())
def test_asof_join_matches_bruteforce(spark, events):
    from datetime import datetime, timedelta

    from coronavirus_dashboard_pipeline_etl_spark.operators.asof import asof_join

    base = datetime(2024, 1, 1)
    # right side: every third event is a "marker"; left: the rest
    right = [(u, base + timedelta(seconds=s), eid)
             for eid, u, s in events if eid % 3 == 0]
    left = [(eid, u, base + timedelta(seconds=s))
            for eid, u, s in events if eid % 3 != 0]
    if not left or not right:
        return
    # dedup right per (user, ts): keep max ref (mirrors the gate contract)
    rd = {}
    for u, ts, ref in right:
        rd[(u, ts)] = max(rd.get((u, ts), -1), ref)
    right = [(u, ts, ref) for (u, ts), ref in rd.items()]

    ldf = spark.createDataFrame(left, "event_id long, user_id long, ts timestamp")
    rdf = spark.createDataFrame(right, "user_id long, ts timestamp, ref long")
    got = {
        r.event_id: r.ref
        for r in asof_join(ldf, rdf, keys=["user_id"], right_cols=["ref"]).collect()
    }
    for eid, u, lts in left:
        cands = [(ts, ref) for (ru, ts, ref) in right if ru == u and ts <= lts]
        expect = max(cands)[1] if cands else None
        assert got[eid] == expect, (eid, u, lts, cands)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_event_streams(), st.integers(60, 7200))
def test_range_join_matches_bruteforce(spark, events, bucket_s):
    from datetime import datetime, timedelta

    from coronavirus_dashboard_pipeline_etl_spark.operators.asof import range_join

    base = datetime(2024, 1, 1)
    base_us = 1_704_067_200_000_000
    ev = spark.createDataFrame(
        [(eid, base + timedelta(seconds=s)) for eid, _, s in events],
        "event_id long, ts timestamp",
    )
    # a few deterministic intervals over the stream's time range
    intervals = [
        (i, base_us + i * 3_000_000_000, base_us + i * 3_000_000_000 + 2_000_000_000)
        for i in range(8)
    ]
    iv = spark.createDataFrame(
        intervals, "interval_id long, start_us long, end_us long"
    )
    got = sorted(
        (r.event_id, r.interval_id)
        for r in range_join(ev, iv, bucket_seconds=bucket_s).collect()
    )
    expect = sorted(
        (eid, i)
        for eid, _, s in events
        for i, lo, hi in intervals
        if lo <= base_us + s * 1_000_000 < hi
    )
    assert got == expect


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                         min_size=1, max_size=5),
                min_size=1, max_size=8))
def test_dedup_paragraphs_properties(spark, paras_per_doc):
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        dedup_paragraphs,
    )

    docs = [(i, "\n\n".join(ps)) for i, ps in enumerate(paras_per_doc)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dedup_paragraphs(df).collect()
    # totality: every doc survives
    assert {r.doc_id for r in out} == {d[0] for d in docs}
    # global uniqueness: every kept paragraph fingerprint appears once
    kept = [
        p for r in out if r.text for p in r.text.split("\n\n")
    ]
    assert len(kept) == len(set(kept))
    # conservation: kept + removed == total paragraphs
    assert sum(r.n_kept + r.n_removed for r in out) == sum(
        len(ps) for ps in paras_per_doc
    )
    # idempotence
    once = {(r.doc_id, r.text) for r in out}
    twice = {
        (r.doc_id, r.text)
        for r in dedup_paragraphs(
            spark.createDataFrame(
                [(r.doc_id, r.text) for r in out], "doc_id long, text string"
            )
        ).collect()
    }
    assert once == twice


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.tuples(st.sampled_from(["en", "fr"]),
                          st.integers(0, 100)),
                min_size=4, max_size=40),
       st.floats(0.1, 1.0))
def test_percentile_filter_fraction_bound(spark, rows, keep_top):
    from coronavirus_dashboard_pipeline_etl_spark.functions.curation import (
        percentile_filter,
    )

    data = [(i, lang, float(s)) for i, (lang, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, lang string, score double")
    out = percentile_filter(df, "score", keep_top, partition_cols=("lang",))
    per_lang = {}
    for r in out.collect():
        n, k = per_lang.get(r.lang, (0, 0))
        per_lang[r.lang] = (n + 1, k + int(r.kept))
    for lang, (n, k) in per_lang.items():
        # top tie class always kept (cume_dist = 1 > 1-keep_top)
        assert k >= 1
        # at-least contract: kept count >= keep_top fraction of group
        assert k >= n * keep_top - 1e-9, (lang, n, k, keep_top)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_event_streams())
def test_session_window_equals_sessionize(spark, events):
    """Cross-operator equivalence: the streaming-native F.session_window
    aggregation and the batch lag/cumsum sessionize must describe the
    SAME sessions (bounds differing only by the fixed +gap on the window
    end) for any event stream."""
    from datetime import datetime, timedelta

    from coronavirus_dashboard_pipeline_etl_spark.operators.sessions import (
        session_stats,
    )
    from coronavirus_dashboard_pipeline_etl_spark.streaming.windows import (
        session_window_stats,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (eid, u, base + timedelta(seconds=s), 1.0) for eid, u, s in events
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    gap_us = 1800 * 1_000_000
    from_window = {
        (r.user_id, r.session_start_us, r.session_end_us - gap_us,
         r.n_events, r.value_sum)
        for r in session_window_stats(df, gap="30 minutes").collect()
    }
    from_batch = {
        (r.user_id, r.session_start_us, r.session_end_us,
         r.n_events, r.value_sum)
        for r in session_stats(df, gap_seconds=1800).collect()
    }
    assert from_window == from_batch


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="abcx ", min_size=0, max_size=30),
        min_size=2,
        max_size=10,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_editdist_pairs_matches_bruteforce(spark, texts, d):
    """Blocked Levenshtein == brute force for every threshold: the
    length-bucket blocking must never lose a qualifying pair (pairs
    straddling bucket edges are the adversarial case hypothesis finds)."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        editdist_pairs,
    )

    rows = [(i, "en", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in editdist_pairs(df, max_distance=d).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    want = {}
    for ia, _, ta in rows:
        for ib, _, tb in rows:
            if ia < ib and lev(ta, tb) <= d:
                want[(ia, ib)] = lev(ta, tb)
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=60, unique=True))
def test_split_corpus_partition_property(spark, ids):
    """Every doc lands in exactly one split, and membership is a pure
    function of the id (stable under input order and partitioning)."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.curation import (
        split_corpus,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = split_corpus(df).collect()
    assert len(out) == len(ids)
    assert set(r["split"] for r in out) <= {"train", "val", "test"}
    again = {
        r["doc_id"]: r["split"]
        for r in split_corpus(df.repartition(5).sortWithinPartitions("doc_id")).collect()
    }
    assert {r["doc_id"]: r["split"] for r in out} == again


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=0, max_value=400),
        ),
        min_size=1,
        max_size=12,
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=0, max_value=400),
        ),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from([1, 7, 60]),
)
def test_interval_overlap_join_matches_bruteforce(spark, lspec, rspec, bucket_s):
    """Grid-bucketed interval overlap == brute force for every bucket
    width — the first-shared-cell dedup must emit each overlapping pair
    EXACTLY once (cross-cell pairs are the adversarial case)."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.asof import (
        interval_overlap_join,
    )

    def frame(spec, tag):
        rows = [
            (i, s * 1_000_000, (s + dur) * 1_000_000)
            for i, (s, dur) in enumerate(spec)
        ]
        return spark.createDataFrame(
            rows, "interval_id long, start_us long, end_us long"
        ), rows

    ldf, lrows = frame(lspec, "l")
    rdf, rrows = frame(rspec, "r")
    got = sorted(
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            ldf, rdf, bucket_seconds=bucket_s
        ).collect()
    )
    # half-open semantics: EMPTY intervals ([s, s)) overlap nothing —
    # the bare predicate alone would match a degenerate point inside
    # the other interval (the bug this property now pins)
    want = sorted(
        (li, ri)
        for li, ls, le in lrows
        for ri, rs, re in rrows
        if ls < le and rs < re and ls < re and rs < le
    )
    assert got == want


def test_multiprobe_improves_recall(spark):
    """nprobe=2 must dominate nprobe=1 recall against brute force —
    the lever's whole point — and probe_assign's first probe must equal
    the assign_centroids bucket (consistency of the two expressions)."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        assign_centroids,
        cosine_topk,
        cosine_topk_ivf,
        probe_assign,
    )
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    indexed = assign_centroids(emb, cents).select(
        "vec_id", "embedding", "centroid_id"
    )
    queries = probe_assign(
        indexed.filter(F.col("vec_id") % 17 == 0), cents, nprobe=2
    )
    first_probe = queries.filter(
        F.col("probe_buckets")[0] != F.col("centroid_id")
    ).count()
    assert first_probe == 0

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(indexed, queries, k=5).collect()
    }

    def recall(out):
        got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
        return len(got & truth) / len(truth)

    r1 = recall(
        cosine_topk_ivf(indexed, queries, bucket_col="centroid_id", k=5)
    )
    r2 = recall(
        cosine_topk_ivf(
            indexed, queries, bucket_col="centroid_id", k=5,
            probe_col="probe_buckets",
        )
    )
    # strict dominance: the second probe cell must add recall (absolute
    # recall is data-dependent — measured 0.23 -> 0.37 on this fixture)
    assert r2 > r1


def test_farthest_seeding_spreads_clusters(spark):
    """Farthest-point seeding must place seeds in BOTH clusters of a
    corpus whose smallest ids all sit in one cluster (the degenerate
    case min_id seeding gets wrong), and the seeded kmeans must then
    separate the clusters exactly."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        kmeans_lloyd,
        kmeans_seeds_farthest,
    )

    # ids 0-9: cluster around +x; ids 10-19: cluster around +y
    rows = [(i, [10.0 + (i % 5) * 0.01, float(i % 3) * 0.01]) for i in range(10)]
    rows += [(i, [float(i % 3) * 0.01, 10.0 + (i % 5) * 0.01]) for i in range(10, 20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    seeds = kmeans_seeds_farthest(df, k=2).collect()
    vecs = {r["centroid_id"]: r["centroid"] for r in seeds}
    # one seed per cluster: one x-dominant, one y-dominant
    assert len(vecs) == 2
    dominant = sorted(v[0] > v[1] for v in vecs.values())
    assert dominant == [False, True]

    assigned, _ = kmeans_lloyd(df, k=2, n_iter=3, seeding="farthest")
    clusters = {
        r["vec_id"]: r["centroid_id"] for r in assigned.collect()
    }
    a = {clusters[i] for i in range(10)}
    b = {clusters[i] for i in range(10, 20)}
    assert len(a) == 1 and len(b) == 1 and a != b

    import pytest
    with pytest.raises(ValueError, match="seeding"):
        kmeans_lloyd(df, k=2, seeding="random")


def test_probe_assign_zero_norm_fails_loudly(spark):
    """A zero-norm query vector must raise at execution, not silently
    pick an arbitrary probe set (NULL cosines sort first otherwise)."""
    import pytest
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        probe_assign,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])], ["vec_id", "embedding"]
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["centroid_id", "centroid"]
    )
    good = probe_assign(
        df.filter(F.col("vec_id") == 1), cents, nprobe=1
    ).collect()
    assert good[0]["probe_buckets"] == [0]
    with pytest.raises(Exception, match="zero-norm"):
        probe_assign(df, cents, nprobe=1).collect()


def test_kmeans_lloyd_exact_mode(spark):
    """exact=True must be reproducible across partitionings (decimal
    sums are order-independent), and on this well-separated fixture its
    assignment decisions must agree with the production exact=False
    path — a regression that shifts exact-mode centroids (wrong scale,
    dropped /count) would diverge from the plain path even while
    staying internally deterministic."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        kmeans_lloyd,
    )
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a1, _ = kmeans_lloyd(emb, k=4, n_iter=2, exact=True)
    a2, _ = kmeans_lloyd(emb.repartition(7), k=4, n_iter=2, exact=True)
    r1 = {(r["vec_id"], r["centroid_id"]) for r in a1.collect()}
    r2 = {(r["vec_id"], r["centroid_id"]) for r in a2.collect()}
    assert r1 == r2 and len(r1) > 0

    a3, _ = kmeans_lloyd(emb, k=4, n_iter=2, exact=False)
    r3 = {(r["vec_id"], r["centroid_id"]) for r in a3.collect()}
    assert r1 == r3


def test_embedding_neardup_guard_and_symmetry(spark):
    """Oversized probe buckets must raise loudly (the never-all-pairs
    contract); pair output must be canonical (id_l < id_r, no dups)."""
    import pytest
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        embedding_neardup_pairs,
    )
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seeds = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    with pytest.raises(ValueError, match="max_bucket"):
        embedding_neardup_pairs(emb, seeds, threshold=0.3, max_bucket=10)

    pairs = embedding_neardup_pairs(emb, seeds, threshold=0.3).collect()
    assert pairs, "fixture should produce pairs at threshold 0.3"
    seen = set()
    for p in pairs:
        assert p["id_l"] < p["id_r"]
        assert (p["id_l"], p["id_r"]) not in seen
        seen.add((p["id_l"], p["id_r"]))
        assert p["cosine"] >= 0.3

    with pytest.raises(ValueError, match="threshold"):
        embedding_neardup_pairs(emb, seeds, threshold=1.5)


def test_embedding_neardup_blas_kernel_equivalence(spark):
    """The BLAS kernel (embedding_neardup_pairs_blas) must keep exactly
    the pair set the expression path keeps — same probe assignment,
    same first-shared-bucket dedup, same HALF_UP rounded threshold —
    including with a block size smaller than the buckets (exercising
    the blocked matmul's boundary arithmetic). Guards must match too."""
    import pytest
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_blas,
    )
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seeds = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    expr_pairs = {
        (r["id_l"], r["id_r"])
        for r in embedding_neardup_pairs(emb, seeds, threshold=0.3).collect()
    }
    for block_rows in (512, 7):  # 7 < bucket sizes -> multi-block path
        blas_pairs = {
            (r["id_l"], r["id_r"])
            for r in embedding_neardup_pairs_blas(
                emb, seeds, threshold=0.3, block_rows=block_rows
            ).collect()
        }
        assert blas_pairs == expr_pairs, block_rows

    with pytest.raises(ValueError, match="max_bucket"):
        embedding_neardup_pairs_blas(emb, seeds, threshold=0.3, max_bucket=10)
    with pytest.raises(ValueError, match="threshold"):
        embedding_neardup_pairs_blas(emb, seeds, threshold=1.5)
    with pytest.raises(ValueError, match="block_rows"):
        embedding_neardup_pairs_blas(emb, seeds, threshold=0.3, block_rows=0)


def test_zero_norm_raises_identically_in_both_kernels(spark):
    """A zero-norm vector must raise LOUDLY in probe_assign before any
    cosine is evaluated, in BOTH the expression and BLAS kernels — the
    0/0 NaN that could otherwise make the two paths diverge (Spark
    sorts NaN greatest; numpy's NaN >= t is False) is unreachable."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_blas,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.01])],
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0])], "centroid_id long, centroid array<double>"
    )
    for fn in (embedding_neardup_pairs, embedding_neardup_pairs_blas):
        with pytest.raises(
            (SparkRuntimeException, Py4JJavaError), match="zero-norm"
        ):
            fn(df, cent, threshold=0.9, nprobe=1).collect()


def test_blas_kernel_supports_string_ids(spark):
    """The BLAS kernel derives its output schema from the input id
    column — string ids must work and keep the same pair set as the
    expression path (ASCII ids: numpy and Spark orderings agree)."""
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_blas,
    )
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        F.format_string("doc-%05d", F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    seeds = (
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .filter(F.col("vec_id") < 4)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid"),
        )
    )
    expr_pairs = {
        (r["id_l"], r["id_r"])
        for r in embedding_neardup_pairs(emb, seeds, threshold=0.3).collect()
    }
    got = embedding_neardup_pairs_blas(emb, seeds, threshold=0.3)
    assert dict(got.dtypes) == {"id_l": "string", "id_r": "string"}
    blas_pairs = {(r["id_l"], r["id_r"]) for r in got.collect()}
    assert blas_pairs == expr_pairs and expr_pairs


def test_blas_pairs_non_ascii_ids(spark):
    """Non-ASCII string ids orient pairs IDENTICALLY on the BLAS and
    expression paths: Spark compares strings as UTF-8 bytes, UTF-8
    byte order equals code-point order for well-formed text, and
    Python str compares by code point — closing the round-11 advice
    question. Ids span 1-byte (z), 2-byte (é, ß) and 3-byte (中)
    UTF-8 so every width pairing is exercised."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_blas,
    )

    # near-identical vectors -> every pair clears the threshold, so the
    # test is entirely about id ORIENTATION, not selection
    rows = [
        ("z-doc", [1.0, 0.00]),
        ("é-doc", [1.0, 0.01]),
        ("ß-doc", [1.0, 0.02]),
        ("中-doc", [1.0, 0.03]),
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0])], "centroid_id long, centroid array<double>"
    )
    expr = {
        (r["id_l"], r["id_r"])
        for r in embedding_neardup_pairs(
            emb, seeds, threshold=0.9, nprobe=1
        ).collect()
    }
    blas = {
        (r["id_l"], r["id_r"])
        for r in embedding_neardup_pairs_blas(
            emb, seeds, threshold=0.9, nprobe=1
        ).collect()
    }
    assert blas == expr and len(expr) == 6
    # and the orientation is the UTF-8/code-point order in every pair
    assert all(a < b for a, b in expr)


# --------------------------------------------------------------------------
# round 5: EWMA and duplicated-span references
# --------------------------------------------------------------------------

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    series=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=30
    ),
    lags=st.integers(min_value=1, max_value=12),
)
def test_ewma_halving_matches_python_reference(spark, series, lags):
    from coronavirus_dashboard_pipeline_etl_spark.operators.rolling import (
        ewma_halving,
    )

    rows = [("g", f"d{i:03d}", float(v)) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "g string, date string, v double")
    got = {
        r.date: r.ewma
        for r in ewma_halving(df, ["g"], "date", "v", lags=lags).collect()
    }

    for t in range(len(series)):
        window = series[max(0, t - lags + 1): t + 1]
        # newest value (end of window) pairs with the largest weight
        # 2^(lags-1)
        num = sum(
            v * (2 ** (lags - 1 - (len(window) - 1 - i)))
            for i, v in enumerate(window)
        )
        den = sum(2 ** (lags - 1 - k) for k in range(len(window)))
        expect = num / den
        assert math.isclose(
            got[f"d{t:03d}"], expect, rel_tol=0, abs_tol=1e-9
        ), (t, got[f"d{t:03d}"], expect)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcde"), min_size=0, max_size=12
        ).map(lambda ts: " ".join(ts)),
        min_size=1,
        max_size=8,
    ),
    span=st.integers(min_value=1, max_value=4),
)
def test_duplicated_spans_matches_python_reference(spark, docs, span):
    import hashlib
    from collections import defaultdict

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        duplicated_spans,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r.fp: (r.n_docs, r.n_occurrences, r.first_doc)
        for r in duplicated_spans(
            df, span_tokens=span, min_docs=1
        ).collect()
    }

    expect = defaultdict(lambda: [set(), 0, None])
    for i, t in enumerate(docs):
        toks = [w for w in t.split(" ") if w != ""]
        for s in range(len(toks) - span + 1):
            fp = hashlib.md5(
                " ".join(toks[s: s + span]).encode()
            ).hexdigest()
            e = expect[fp]
            e[0].add(i)
            e[1] += 1
            e[2] = i if e[2] is None else min(e[2], i)
    assert got == {
        fp: (len(d), n, first) for fp, (d, n, first) in expect.items()
    }


@given(
    data=st.binary(min_size=0, max_size=400),
    mcs=st.integers(min_value=2, max_value=8),
)
@settings(max_examples=60, deadline=None)
def test_lzw_roundtrip_property(data, mcs):
    """GIF LZW is lossless for ANY symbol stream whose values fit the
    code size — including streams that overflow the dictionary or end
    mid-pattern (pure function: no Spark fixture needed)."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    clipped = bytes(b % (1 << mcs) for b in data)
    if not clipped:
        return  # decode contract requires expect >= 1 raster byte
    out = _lzw_decode(_lzw_encode(clipped, mcs), mcs, len(clipped))
    assert out.tobytes() == clipped


@given(
    bw=st.integers(min_value=1, max_value=4),
    bh=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    rst=st.sampled_from([0, 1, 3]),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_constant_blocks_exact_property(bw, bh, seed, rst):
    """Per-8x8-constant grayscale JPEGs round-trip BIT-EXACTLY for any
    block grid, block values, and restart interval — the invariant the
    m8 oracle relies on."""
    import numpy as np

    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _parse_jpeg,
        build_jpeg,
    )

    rng = np.random.RandomState(seed)
    vals = rng.randint(0, 256, size=(bh, bw)).astype(np.uint8)
    px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    w, h = bw * 8, bh * 8
    gw, gh, rgb = _parse_jpeg(
        build_jpeg(w, h, px.reshape(-1), restart_interval=rst)
    )
    assert (gw, gh) == (w, h)
    assert np.array_equal(rgb.reshape(h, w, 3)[..., 0], px)


@given(
    bw=st.integers(min_value=1, max_value=4),
    bh=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    amplitude=st.sampled_from([2, 40, 255]),
    color=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_progressive_jpeg_equals_baseline_property(bw, bh, seed, amplitude, color):
    """Progressive (SOF2) decode must equal baseline decode of the same
    pixels for ANY content — the two scan structures carry identical
    quant=1 coefficients, so equality pins the whole successive-
    approximation machinery (DC shift/refine-OR, AC band split, EOB
    runs, correction-bit weave). Low amplitudes force dense ±1
    refinement coefficients; high amplitudes force multi-bit
    magnitudes and ZRL runs."""
    import numpy as np

    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _parse_jpeg,
        build_jpeg,
        build_jpeg_progressive,
    )

    rng = np.random.RandomState(seed)
    w, h = bw * 8, bh * 8
    lo, hi = 128 - amplitude // 2, 128 + (amplitude + 1) // 2
    shape = (h, w, 3) if color else (h, w)
    px = rng.randint(lo, hi + 1, size=shape).astype(np.uint8)
    _, _, prog = _parse_jpeg(
        build_jpeg_progressive(w, h, px.reshape(-1), color=color)
    )
    _, _, base = _parse_jpeg(build_jpeg(w, h, px.reshape(-1), color=color))
    assert np.array_equal(prog, base)


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=10),
    npal=st.integers(min_value=2, max_value=256),
    interlace=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_gif_roundtrip_property(w, h, npal, interlace, seed):
    """GIF encode/decode recovers every index raster exactly for any
    geometry, palette size, and interlace flag."""
    import numpy as np

    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _parse_gif,
        build_gif,
    )

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, size=(npal, 3)).astype(np.uint8)
    idx = rng.randint(0, npal, size=w * h).astype(np.uint8)
    gw, gh, rgb = _parse_gif(build_gif(w, h, idx, pal, interlace=interlace))
    assert (gw, gh) == (w, h)
    assert np.array_equal(rgb, pal[idx].reshape(-1))


# -- the store fold against a plain replay ---------------------------------

_TEXTS = ["", "alpha beta gamma delta eps", "gamma delta eps zeta eta", "w1 w2 w3 w4 w5 w6"]


def _band_rows(spark, bands: dict, doc: int, text: int) -> list:
    """The band-index rows of document ``doc`` crawled with text
    ``_TEXTS[text]``; ``bands`` caches them, built once per text for
    every document."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        minhash_band_index,
    )

    if (doc, text) not in bands:
        frame = spark.createDataFrame(
            [(d, _TEXTS[text]) for d in range(4)], "doc_id long, text string"
        )
        for d in range(4):
            bands[(d, text)] = []
        for r in minhash_band_index(frame, k=8, bands=2).collect():
            bands[(r.doc_id, text)].append((r.doc_id, r.band, r.sig))
    return bands[(doc, text)]


_store_step = st.one_of(
    st.tuples(
        st.just("index"),
        st.dictionaries(st.integers(0, 3), st.integers(0, len(_TEXTS) - 1), min_size=1, max_size=3),
    ),
    st.tuples(
        st.just("serve"),
        st.lists(
            st.tuples(st.integers(0, 4), st.integers(0, 2), st.integers(0, 2)),
            min_size=1,
            max_size=4,
        ),
    ),
    st.tuples(
        st.just("fold_index"),
        st.tuples(st.booleans(), st.sampled_from([None, 1, 2]), st.sampled_from([0, 1, 4])),
    ),
    st.tuples(st.just("fold_serve"), st.sampled_from([None, ["p0"], ["p1", "p2"]])),
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_store_step, min_size=1, max_size=5))
def test_store_fold_matches_replay(spark, tmp_path, steps):
    """Random band-index upserts (empty re-crawls included), serving
    upserts and folds of any shape and budget: after every step the
    merged read of each store equals a plain Python replay of the
    upserts, and once a fold has cleared the tombstones a raw parquet
    read equals it too."""
    import os
    import uuid

    from coronavirus_dashboard_pipeline_etl_spark import store
    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_upsert_write,
        compact_dedup_store,
    )
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        compact_store,
        merge_upsert_store,
    )

    root = str(tmp_path / uuid.uuid4().hex)
    idx, serving = f"{root}/bidx", f"{root}/store"
    bands: dict = {}
    latest: dict[int, int] = {}  # doc -> text index
    served: dict[tuple, tuple] = {}  # (hash, partition_id) -> (payload, release_id)
    for n, (kind, arg) in enumerate(steps):
        if kind == "index":
            batch = [(d, _TEXTS[t]) for d, t in arg.items()]
            band_index_upsert_write(
                spark.createDataFrame(batch, "doc_id long, text string"),
                idx, k=8, bands=2, buckets=4,
            )
            latest.update(arg)
        elif kind == "serve":
            rows = [(f"h{h}", f"p{p}", f"v{v}", n) for h, p, v in arg]
            merge_upsert_store(
                spark.createDataFrame(
                    rows, "hash string, partition_id string, payload string, release_id long"
                ),
                serving,
            )
            for h, p, v, rel in rows:  # the batch keeps the max payload per key
                if served.get((h, p), ("", -1))[1] != n or v > served[(h, p)][0]:
                    served[(h, p)] = (v, rel)
        elif kind == "fold_index" and latest:
            incremental, budget, max_files = arg
            compact_dedup_store(
                spark, idx, max_files_per_bucket=max_files,
                incremental=incremental, bucket_budget=budget,
            )
        elif kind == "fold_serve" and served:
            compact_store(spark, serving, partitions=arg)

        want_idx = sorted(r for d, t in latest.items() for r in _band_rows(spark, bands, d, t))
        want_served = sorted((h, p, v, rel) for (h, p), (v, rel) in served.items())
        for path, want, cols in (
            (idx, want_idx, ("doc_id", "band", "sig")),
            (serving, want_served, ("hash", "partition_id", "payload", "release_id")),
        ):
            if not store.list_files(path):
                assert not want
                continue
            views = [store.read_bucketed(spark, path)]
            if not os.path.isdir(store.tombstone_path(path)):
                views.append(spark.read.parquet(path))
            for view in views:
                got = sorted(tuple(r) for r in view.select(*cols).collect())
                assert got == want, (steps[: n + 1], path)
