"""Driver-gate query registry: every SURVEY.md §2 operator exercised on
the driver's synthetic tables, each with an exact DuckDB oracle.

Determinism contract (what makes value-hash comparison possible):

* every SUM/rolling/cumulative aggregation runs on DECIMAL(18,6) casts —
  decimal addition is associative, so Spark's partition-order-dependent
  aggregation and DuckDB's sequential one agree bit-for-bit;
* derived ratios/averages cast the exact decimals to DOUBLE first and
  then do plain IEEE ops (deterministic), never ROUND (engines differ in
  decimal-vs-binary rounding of doubles);
* dates cross the boundary as ISO 'yyyy-MM-dd' strings;
* hashes are md5-based (identical everywhere);
* every computed column is aliased identically in the DataFrame plan and
  the oracle SQL (the driver sorts columns by name before hashing).

The Spark side deliberately goes through the library operators
(operators/*, functions/*) rather than spark.sql, so the gate verifies
the engine's public surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.functions import broadcast

from .. import store
from ..functions.dedup import (
    MERSENNE_P,
    exact_dedup,
    hash_params,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from ..functions.similarity import cosine_topk, cosine_topk_ivf
from ..functions.text import fingerprint, langid_scores, quality_stats, token_stats
from ..operators import (
    calculate_pair_summations,
    change_by_sum,
    homogenise_dates,
    latest_date_only,
    latest_per_group,
    latest_two_releases_delta,
    melt,
    normalise_records,
    pivot_max,
    rolling_mean_centered,
    trim_end,
    weekly_thin,
)
from ..operators.nesting import wrap_payload
from ..operators.util import ts_micros, with_scalars
from ..sources import load_table
from .crawl import crawl_day

QueryFn = Callable[[SparkSession, str], DataFrame]

DEC = "decimal(18,6)"


# --------------------------------------------------------------------------
# shared builders
# --------------------------------------------------------------------------

def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day) panel with an exact-decimal value sum — the
    engine's canonical wide-panel input built from the events table."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("date")
    ).agg(F.sum(F.col("value").cast(DEC)).alias("val_d"))


_DAILY_SQL = """
daily AS (
    SELECT event_type,
           strftime(ts, '%Y-%m-%d') AS date,
           SUM(CAST(value AS DECIMAL(18,6))) AS val_d
    FROM events
    GROUP BY 1, 2
)
"""

def _sparse_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gappy variant of the daily panel so densify/fill operators have
    real holes to repair at EVERY scale factor: a deterministic day-of-
    month pattern knocks out mid-series days for 'click', the tail for
    'error', and the head for 'signup' (leading/trailing null runs
    exercise the ffill/zero-fill bounds)."""
    daily = _daily(spark, sf_dir)
    dom = F.substring("date", 9, 2).cast("int")
    keep = ~(
        ((F.col("event_type") == "click") & (dom % 3 == 0))
        | ((F.col("event_type") == "error") & (dom > 10))
        | ((F.col("event_type") == "signup") & (dom <= 5))
    )
    return daily.filter(keep)


_SPARSE_DAILY_SQL = """
daily AS (
    SELECT * FROM (
        SELECT event_type,
               strftime(ts, '%Y-%m-%d') AS date,
               SUM(CAST(value AS DECIMAL(18,6))) AS val_d
        FROM events
        GROUP BY 1, 2
    )
    WHERE NOT ((event_type = 'click'  AND CAST(substr(date, 9, 2) AS INT) % 3 = 0)
            OR (event_type = 'error'  AND CAST(substr(date, 9, 2) AS INT) > 10)
            OR (event_type = 'signup' AND CAST(substr(date, 9, 2) AS INT) <= 5))
)
"""

_DENSE_SQL = """
bounds AS (
    SELECT CAST(min(date) AS DATE) AS lo, CAST(max(date) AS DATE) AS hi FROM daily
),
scaffold AS (
    SELECT t.event_type, strftime(g.d, '%Y-%m-%d') AS date
    FROM (SELECT DISTINCT event_type FROM daily) t
    CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds) g
),
dense AS (
    SELECT s.event_type, s.date, d.val_d
    FROM scaffold s LEFT JOIN daily d
      ON s.event_type = d.event_type AND s.date = d.date
)
"""


def _dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    return homogenise_dates(
        _sparse_daily(spark, sf_dir), group_keys=("event_type",)
    )


# --------------------------------------------------------------------------
# TPC-H-ish core (scan/filter/join/agg)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship grouped aggregation (A-family; TPC-H Q1 shape)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "2001-08-06"
    )
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc_price = price * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).alias("__sq"),
        F.sum(price).alias("__sp"),
        F.sum(disc_price).alias("__sd"),
        F.count(F.lit(1)).alias("count_order"),
    )
    # NB: wide-scale decimals (scale 12 from the 2dp*2dp product) must be
    # re-cast to a narrow scale BEFORE the double cast: DuckDB converts
    # decimal->double as unscaled/10^scale, which double-rounds once the
    # unscaled value exceeds 2^53. DECIMAL(18,4) is lossless here (the
    # product is exactly 4dp) and keeps the unscaled value small.
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("__sq").cast("double").alias("sum_qty"),
        F.col("__sp").cast("double").alias("sum_base_price"),
        F.col("__sd").cast("decimal(18,4)").cast("double").alias("sum_disc_price"),
        (F.col("__sq").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("__sp").cast("double") / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '2001-08-06'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-k (broadcast dims, J-family)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .agg(F.sum(rev).alias("__rev"))
        .select(
            "o_orderkey",
            F.col("__rev").cast("decimal(18,4)").cast("double").alias("revenue"),
            "o_orderdate",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join revenue by nation inside one region (J7 star joins)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).alias("__rev"))
        .select("n_name", F.col("__rev").cast("decimal(18,4)").cast("double").alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def p2_filter_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate scan (P1/P2) — filters reach the parquet
    reader as PushedFilters (verified in tests/test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("l_shipdate"),
    )


P2_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice,
       strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate
FROM lineitem
WHERE l_quantity > 45 AND l_returnflag = 'R'
"""


def p7_melt_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt (P7) — values pass through bit-identical."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )
    return melt(li, id_vars=["l_orderkey", "l_linenumber"])


P7_SQL = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS payload FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
"""


def p8_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide pivot with max agg (P8/A7)."""
    piv = pivot_max(
        _daily(spark, sf_dir),
        index=["date"],
        column="event_type",
        value="val_d",
        values=["click", "error", "purchase", "signup", "view"],
    )
    return piv.select(
        "date", *[F.col(c).cast("double").alias(c) for c in piv.columns if c != "date"]
    )


P8_SQL = f"""
WITH {_DAILY_SQL}
SELECT date,
       CAST(MAX(val_d) FILTER (WHERE event_type = 'click')    AS DOUBLE) AS click,
       CAST(MAX(val_d) FILTER (WHERE event_type = 'error')    AS DOUBLE) AS error,
       CAST(MAX(val_d) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase,
       CAST(MAX(val_d) FILTER (WHERE event_type = 'signup')   AS DOUBLE) AS signup,
       CAST(MAX(val_d) FILTER (WHERE event_type = 'view')     AS DOUBLE) AS view
FROM daily
GROUP BY date
"""


# --------------------------------------------------------------------------
# panel/window family (the reference's processor pipeline)
# --------------------------------------------------------------------------

def j4_homogenise_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date densification (J4) on a gappy panel: scaffold rows appear with
    null values."""
    return _dense(spark, sf_dir).select(
        "event_type", "date", F.col("val_d").cast("double").alias("val")
    )


J4_SQL = f"""
WITH {_SPARSE_DAILY_SQL}, {_DENSE_SQL}
SELECT event_type, date, CAST(val_d AS DOUBLE) AS val FROM dense
"""


def w1_normalise_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded forward-fill of cumulative metrics (W1) after densify."""
    dense = _dense(spark, sf_dir).withColumn(
        "cum", F.col("val_d").cast("double")
    )
    out = normalise_records(dense, cumulative=["cum"], group_keys=("event_type",))
    return out.select("event_type", "date", "cum")


W1_SQL = f"""
WITH {_SPARSE_DAILY_SQL}, {_DENSE_SQL}
, b AS (
    SELECT event_type, date, CAST(val_d AS DOUBLE) AS cum,
           MIN(CASE WHEN val_d IS NOT NULL THEN date END) OVER (PARTITION BY event_type) AS lo,
           MAX(CASE WHEN val_d IS NOT NULL THEN date END) OVER (PARTITION BY event_type) AS hi
    FROM dense
)
SELECT event_type, date,
       CASE WHEN cum IS NULL AND date >= lo AND date < hi
            THEN last_value(cum IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ELSE cum END AS cum
FROM b
"""


def w2_normalise_zerofill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded zero-fill of new-metrics (W2) after densify."""
    dense = _dense(spark, sf_dir).withColumn("val", F.col("val_d").cast("double"))
    out = normalise_records(dense, zero_filled=["val"], group_keys=("event_type",))
    return out.select("event_type", "date", "val")


W2_SQL = f"""
WITH {_SPARSE_DAILY_SQL}, {_DENSE_SQL}
, b AS (
    SELECT event_type, date, CAST(val_d AS DOUBLE) AS val,
           MIN(CASE WHEN val_d IS NOT NULL THEN date END) OVER (PARTITION BY event_type) AS lo,
           MAX(CASE WHEN val_d IS NOT NULL THEN date END) OVER (PARTITION BY event_type) AS hi
    FROM dense
)
SELECT event_type, date,
       CASE WHEN val IS NULL AND date >= lo AND date < hi THEN 0.0 ELSE val END AS val
FROM b
"""


def _rolling_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense = _dense(spark, sf_dir)
    panel = dense.withColumn("val", F.coalesce(F.col("val_d"), F.lit(0).cast(DEC)))
    return change_by_sum(
        panel, ["val"], group_keys=("event_type",), pct_precision=None
    )


def a1_rolling_sum_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _rolling_family(spark, sf_dir)
    return out.select(
        "event_type", "date", F.col("valRollingSum").cast("double").alias("rsum")
    )


_ROLLING_CORE_SQL = f"""
WITH {_SPARSE_DAILY_SQL}, {_DENSE_SQL}
, panel AS (
    SELECT event_type, date, COALESCE(val_d, CAST(0 AS DECIMAL(18,6))) AS val FROM dense
),
r1 AS (
    SELECT event_type, date, val,
           CASE WHEN COUNT(val) OVER w7 = 7 THEN SUM(val) OVER w7 END AS rsum0
    FROM panel
    WINDOW w7 AS (PARTITION BY event_type ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
r2 AS (
    SELECT event_type, date, val,
           CASE WHEN SUM(rsum0) OVER (PARTITION BY event_type) = 0 THEN NULL ELSE rsum0 END AS rsum
    FROM r1
)
"""


A1_SQL = (
    _ROLLING_CORE_SQL
    + """
SELECT event_type, date,
       CASE WHEN val IS NULL THEN NULL ELSE CAST(rsum AS DOUBLE) END AS rsum
FROM r2
"""
)


def a234_change_direction_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _rolling_family(spark, sf_dir)
    return out.select(
        "event_type",
        "date",
        F.col("valChange").cast("double").alias("chg"),
        F.col("valDirection").alias("direction"),
        F.col("valChangePercentage").cast("double").alias("pct"),
    )


A234_SQL = (
    _ROLLING_CORE_SQL
    + """
, r3 AS (
    SELECT event_type, date, val, rsum,
           CAST(rsum - LAG(rsum, 7) OVER w AS DOUBLE) AS chg,
           CAST(rsum AS DOUBLE) AS cur,
           CAST(LAG(rsum, 7) OVER w AS DOUBLE) AS prev,
           COUNT(rsum) OVER w8 AS cnt8
    FROM r2
    WINDOW w  AS (PARTITION BY event_type ORDER BY date),
           w8 AS (PARTITION BY event_type ORDER BY date ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT event_type, date,
       CASE WHEN val IS NULL THEN NULL ELSE chg END AS chg,
       CASE WHEN val IS NULL THEN NULL
            WHEN chg < 0 THEN 'DOWN' WHEN chg > 0 THEN 'UP' WHEN chg = 0 THEN 'SAME' END AS direction,
       CASE WHEN val IS NULL THEN NULL
            WHEN cnt8 = 8 THEN
              CASE WHEN cur = 0 AND prev > 0 THEN -100.0
                   WHEN (cur / (CASE WHEN prev <> 0 THEN prev ELSE 1.0 END)) - 1.0 = -1.0 THEN 0.0
                   ELSE ((cur / (CASE WHEN prev <> 0 THEN prev ELSE 1.0 END)) - 1.0) * 100.0 END
            END AS pct
FROM r3
"""
)


def a5_cumulative_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group cumulative sum (A5) — exact decimal running total."""
    daily = _daily(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "event_type",
        "date",
        F.sum("val_d").over(w).cast("double").alias("cum_val"),
    )


A5_SQL = f"""
WITH {_DAILY_SQL}
SELECT event_type, date,
       CAST(SUM(val_d) OVER (PARTITION BY event_type ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_val
FROM daily
"""


def a6_group_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.max("c_acctbal").alias("max_acctbal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


A6_SQL = """
SELECT c_nationkey, MAX(c_acctbal) AS max_acctbal, COUNT(*) AS n_customers
FROM customer GROUP BY c_nationkey
"""


def a8_pair_summation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-gated pair sum (A8): null unless both present."""
    piv = pivot_max(
        _sparse_daily(spark, sf_dir),
        index=["date"],
        column="event_type",
        value="val_d",
        values=["click", "purchase"],
    )
    out = calculate_pair_summations(
        piv, [("click", "purchase", "click_plus_purchase")]
    )
    return out.select(
        "date",
        F.col("click").cast("double").alias("click"),
        F.col("purchase").cast("double").alias("purchase"),
        F.col("click_plus_purchase").cast("double").alias("click_plus_purchase"),
    )


A8_SQL = f"""
WITH {_SPARSE_DAILY_SQL},
piv AS (
    SELECT date,
           MAX(val_d) FILTER (WHERE event_type = 'click')    AS click,
           MAX(val_d) FILTER (WHERE event_type = 'purchase') AS purchase
    FROM daily GROUP BY date
)
SELECT date, CAST(click AS DOUBLE) AS click, CAST(purchase AS DOUBLE) AS purchase,
       CAST(CASE WHEN click IS NOT NULL AND purchase IS NOT NULL THEN click + purchase END AS DOUBLE) AS click_plus_purchase
FROM piv
"""


def a10_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (A10) on integer-valued quantities."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("p25"),
        F.expr("percentile(l_quantity, 0.5)").alias("p50"),
        F.expr("percentile(l_quantity, 0.75)").alias("p75"),
    )


A10_SQL = """
SELECT l_returnflag,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS p25,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.5)  AS p50,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS p75
FROM lineitem GROUP BY l_returnflag
"""


def a11_nest_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nesting aggregation (A11): deterministic ordered record list per key
    (string form so the oracle can reproduce it exactly)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("orderkeys"),
        F.count(F.lit(1)).alias("n_orders"),
    )


A11_SQL = """
SELECT o_custkey,
       string_agg(o_orderkey, ',' ORDER BY o_orderkey) AS orderkeys,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey
"""


def a12_rank_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank-latest extraction (A12/W7): newest event per user."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        "ts",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_id", "event_type", "date")
    )


A12_SQL = """
SELECT user_id, event_id, event_type, strftime(ts, '%Y-%m-%d') AS date
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


def a15_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderstatus", "o_orderpriority").distinct()


A15_SQL = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


def w5_trim_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail freshness mask (W5): null metrics in the last 5 days."""
    daily = _daily(spark, sf_dir).withColumn("val", F.col("val_d").cast("double"))
    out = trim_end(daily.select("event_type", "date", "val"), ["val"], days_to_trim=5)
    return out.select("event_type", "date", "val")


W5_SQL = f"""
WITH {_DAILY_SQL}
SELECT event_type, date,
       CASE WHEN CAST(date AS DATE) <= (SELECT CAST(max(date) AS DATE) - INTERVAL 5 DAY FROM daily)
            THEN CAST(val_d AS DOUBLE) END AS val
FROM daily
"""


def w6_centered_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered rolling mean (W6) — sum/count in exact decimal, IEEE divide."""
    daily = _daily(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("date").rowsBetween(-3, 3)
    return daily.select(
        "event_type",
        "date",
        F.when(
            F.count("val_d").over(w) == 7,
            F.sum("val_d").over(w).cast("double") / F.lit(7.0),
        ).alias("smoothed"),
    )


W6_SQL = f"""
WITH {_DAILY_SQL}
SELECT event_type, date,
       CASE WHEN COUNT(val_d) OVER w = 7 THEN CAST(SUM(val_d) OVER w AS DOUBLE) / 7.0 END AS smoothed
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY date ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
"""


def w8_weekly_thin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly output cadence (W8): keep the -7D grid from the max date."""
    daily = _daily(spark, sf_dir).withColumn("val", F.col("val_d").cast("double"))
    out = weekly_thin(daily.select("event_type", "date", "val"))
    return out.select("event_type", "date", "val")


W8_SQL = f"""
WITH {_DAILY_SQL},
mx AS (SELECT CAST(max(date) AS DATE) AS anchor FROM daily)
SELECT event_type, date, CAST(val_d AS DOUBLE) AS val
FROM daily, mx
WHERE date_diff('day', CAST(date AS DATE), anchor) % 7 = 0
  AND CAST(date AS DATE) <= anchor
"""


def j9_release_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today-vs-previous-snapshot delta (J9), clamped at 0."""
    daily = _daily(spark, sf_dir).withColumn("val", F.col("val_d").cast("double"))
    out = latest_two_releases_delta(
        daily.select("event_type", "date", "val"),
        group_keys=["event_type"],
        release_col="date",
        value_col="val",
        out="delta",
    )
    return out.select("event_type", "date", "val", "delta")


J9_SQL = f"""
WITH {_DAILY_SQL},
ranked AS (
    SELECT event_type, date, CAST(val_d AS DOUBLE) AS val,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY date DESC) AS rn
    FROM daily
)
SELECT t.event_type, t.date, t.val,
       GREATEST(t.val - COALESCE(p.val, 0), 0) AS delta
FROM (SELECT * FROM ranked WHERE rn = 1) t
LEFT JOIN (SELECT * FROM ranked WHERE rn = 2) p USING (event_type)
"""


def j10_latest_date_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-date membership restriction (J10) per group."""
    daily = _daily(spark, sf_dir).withColumn("val", F.col("val_d").cast("double"))
    out = latest_date_only(
        daily.select("event_type", "date", "val"), scope_keys=("event_type",)
    )
    return out.select("event_type", "date", "val")


J10_SQL = f"""
WITH {_DAILY_SQL}
SELECT event_type, date, CAST(val_d AS DOUBLE) AS val
FROM daily
QUALIFY date = MAX(date) OVER (PARTITION BY event_type)
"""


def u1_union_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op concat (§2.7): tagged union of two filtered projections."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        F.lit("returned").alias("bucket"), "l_orderkey", "l_linenumber"
    )
    b = li.filter(F.col("l_quantity") >= 49).select(
        F.lit("bulk").alias("bucket"), "l_orderkey", "l_linenumber"
    )
    return a.unionByName(b)


U1_SQL = """
SELECT 'returned' AS bucket, l_orderkey, l_linenumber FROM lineitem WHERE l_returnflag = 'R'
UNION ALL
SELECT 'bulk', l_orderkey, l_linenumber FROM lineitem WHERE l_quantity >= 49
"""


def s11_payload_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload construction (P10/S11): {"value": n} cells."""
    daily = _daily(spark, sf_dir)
    return daily.select(
        "event_type",
        "date",
        wrap_payload(
            F.floor(F.col("val_d")).cast("bigint").alias("value")
        ).alias("payload"),
    )


S11_SQL = f"""
WITH {_DAILY_SQL}
SELECT event_type, date,
       to_json(struct_pack(value := CAST(FLOOR(val_d) AS BIGINT)))::VARCHAR AS payload
FROM daily
"""


# --------------------------------------------------------------------------
# LLM-training-data pipeline operators (BASELINE.json north star)
# --------------------------------------------------------------------------

# DuckDB equivalent of functions.dedup.md5_prefix_long — same 60-bit int.
def _md5int_sql(x: str) -> str:
    return (
        "list_reduce(list_transform(string_split(substr(md5(" + x + "),1,15), ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16+b)"
    )


_TH_SQL = (
    "list_transform(list_filter(list_distinct(string_split(text, ' ')), "
    "t -> t <> ''), t -> "
    + _md5int_sql("t")
    + f" % {MERSENNE_P})"
)


def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


D1_SQL = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       MIN(doc_id) AS rep_id, COUNT(*) AS n_dups
FROM documents
GROUP BY 1
"""


def d2_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, block_cols=("lang", "source"), threshold=0.5
    )


D2_SQL = """
WITH toks AS (
    SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks
    FROM documents
)
SELECT l.doc_id AS id_a, r.doc_id AS id_b,
       CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE)
       / CAST(len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks)) AS DOUBLE) AS jaccard
FROM toks l JOIN toks r
  ON l.lang = r.lang AND l.source = r.source AND l.doc_id < r.doc_id
WHERE CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE)
      / CAST(len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks)) AS DOUBLE) >= 0.5
"""


def d3_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, k=16)
    return sigs.select("doc_id", *[f"mh{i}" for i in range(16)])


def _d3_sql() -> str:
    sig_exprs = ",\n       ".join(
        f"list_min(list_transform(th, h -> ({a} * h + {b}) % {MERSENNE_P})) AS mh{i}"
        for i, (a, b) in enumerate(hash_params(16))
    )
    return f"""
WITH th AS (SELECT doc_id, {_TH_SQL} AS th FROM documents)
SELECT doc_id,
       {sig_exprs}
FROM th
"""


D3_SQL = _d3_sql()


def d3b_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded LSH candidate pairs. 2 bands x 8 rows targets a ~0.92
    Jaccard threshold ((1/2)^(1/8)) — near-dup detection; with the
    synthetic corpus's shared vocabulary, wider bands would flood the
    candidate set with merely-similar (not near-dup) pairs."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, k=16)
    return lsh_candidate_pairs(sigs, k=16, bands=2)


def _d3b_sql() -> str:
    bands = []
    for bidx in range(2):
        members = ", ".join(f"mh{i}" for i in range(bidx * 8, (bidx + 1) * 8))
        bands.append(
            f"SELECT doc_id, {bidx} AS band, concat_ws('_', {members}) AS sig "
            "FROM sig WHERE mh0 IS NOT NULL"
        )
    return f"""
WITH th AS (SELECT doc_id, {_TH_SQL} AS th FROM documents),
sig AS (
    SELECT doc_id,
           {','.join(f'list_min(list_transform(th, h -> ({a} * h + {b}) % {MERSENNE_P})) AS mh{i}' for i, (a, b) in enumerate(hash_params(16)))}
    FROM th
),
bands AS ({' UNION ALL '.join(bands)})
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM bands l JOIN bands r
  ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
"""


D3B_SQL = _d3b_sql()


def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs).select("doc_id", "simhash")


def _d4_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(th, h -> ((h >> {j}) & 1) * 2 - 1)) > 0 THEN CAST({2**j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(32)
    )
    return f"""
WITH th AS (SELECT doc_id, {_TH_SQL} AS th FROM documents)
SELECT doc_id,
       CASE WHEN th IS NOT NULL AND len(th) > 0
            THEN CAST({terms} AS BIGINT) END AS simhash
FROM th
"""


D4_SQL = _d4_sql()


def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return token_stats(docs).select(
        "doc_id", "n_tokens", "n_chars_total", "n_chars_alpha", "mean_token_len"
    )


T1_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_total,
       CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_alpha,
       CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len
FROM documents
"""


def t2_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return quality_stats(docs).select(
        "doc_id", "n_tokens", "stopword_ratio", "distinct_ratio", "len_ok"
    )


T2_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','of','and','to'], t))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
       len(string_split(text, ' ')) >= 20 AS len_ok
FROM documents
"""


def t3_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return langid_scores(docs).select(
        "doc_id", "score_de", "score_en", "score_fr", "lang_pred"
    )


T3_SQL = """
WITH s AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['der','die','und'], t))) AS BIGINT) AS score_de,
           CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','and'], t))) AS BIGINT) AS score_en,
           CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['le','la','et'], t))) AS BIGINT) AS score_fr
    FROM documents
)
SELECT doc_id, score_de, score_en, score_fr,
       CASE WHEN GREATEST(score_de, score_en, score_fr) > 0 THEN
           CASE WHEN score_de = GREATEST(score_de, score_en, score_fr) THEN 'de'
                WHEN score_en = GREATEST(score_de, score_en, score_fr) THEN 'en'
                WHEN score_fr = GREATEST(score_de, score_en, score_fr) THEN 'fr' END
       ELSE 'und' END AS lang_pred
FROM s
"""


def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


T4_SQL = r"""
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
FROM documents
"""


def s1_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk(emb, queries, k=5).select("query_id", "rank", "neighbor_id")


S1_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS score
    FROM embeddings e, q
    WHERE e.vec_id <> q.query_id
)
SELECT query_id, rn AS rank, neighbor_id
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= 5
"""


def s2_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk_ivf(emb, queries, bucket_col="label", k=5).select(
        "query_id", "rank", "neighbor_id"
    )


S2_SQL = """
WITH q AS (SELECT vec_id AS query_id, label, embedding FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS score
    FROM embeddings e JOIN q ON e.label = q.label
    WHERE e.vec_id <> q.query_id
)
SELECT query_id, rn AS rank, neighbor_id
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= 5
"""


def d5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by the coarse bucket.

    The double-cast and the norm are computed once per ROW before the
    blocked self-join (identical doubles — same fold on the same data —
    but linear instead of per-pair), and the left side round-robins so
    the quadratic in-block cosine work spreads over the cluster instead
    of inheriting the scan's partitioning under an auto-broadcast
    right.

    Threshold 0.35 on the 6-dp-rounded cosine (the d10 float-boundary
    contract) is measured non-vacuous at EVERY test scale — pairs =
    14 @ sf0.001, 26 @ sf0.01, 391 @ sf0.1, 42554 @ sf1 (r6 lesson:
    the old 0.9 threshold exceeded the corpus max cosine ~0.45-0.60,
    so the driver's 0==0 hash match verified nothing)."""
    from ..functions.similarity import _dot, _norm, _to_double

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("__v")
    ).withColumn("__n", _norm(F.col("__v")))
    left = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("la"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    ).repartition(spark.sparkContext.defaultParallelism)
    right = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("lb"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    score = _dot(F.col("__va"), F.col("__vb")) / (
        F.col("__na") * F.col("__nb")
    )
    return (
        left.join(right, on=[F.col("la") == F.col("lb"), F.col("id_a") < F.col("id_b")])
        .withColumn("score", F.round(score, 6))
        .filter(F.col("score") >= 0.35)
        .select("id_a", "id_b", "score")
    )


D5_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS score
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
"""


def m1_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary column + typed metadata
    (functions.multimodal handles decode; here the byte-level path)."""
    docs = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
        F.md5(blob.cast("string")).alias("content_md5"),
    )


M1_SQL = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""


# --------------------------------------------------------------------------
# shared store-gate fixtures
# --------------------------------------------------------------------------


def _scratch_store(spark: SparkSession, name: str) -> str:
    """A cleared store path ``name`` under the session's warehouse dir:
    a store gate proves THIS run's write -> read chain, so nothing an
    earlier run left there may survive."""
    path = store.join(spark.conf.get("spark.sql.warehouse.dir"), name)
    store.delete(path)
    return path


def _recrawl_waves(docs: DataFrame) -> dict[int, DataFrame]:
    """Two crawl waves over ``doc_id, lang, text`` (seed corpus = %3==0)
    carrying PLANTED exact duplicates, which the corpus has none of
    naturally: wave 1 = %3==1 plus a re-crawl of every %5==0 seed doc
    under a fresh id (+1,000,000 — drops against the SEED state), wave 2
    = %3==2 plus a re-crawl of every %5==1 wave-1 doc (+2,000,000 —
    drops only if wave 1's survivors advanced the state)."""
    corpus0 = docs.filter(F.col("doc_id") % 3 == 0)
    raw1 = docs.filter(F.col("doc_id") % 3 == 1)
    return {
        1: raw1.unionByName(
            corpus0.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "lang", "text"
            )
        ),
        2: docs.filter(F.col("doc_id") % 3 == 2).unionByName(
            raw1.filter(F.col("doc_id") % 5 == 1).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"), "lang", "text"
            )
        ),
    }


def _index_slices(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The band-index maintenance sequence's ``doc_id, text`` slices:
    the base corpus (%5 in 1, 2, 3), a STALE first crawl of the %5==4
    docs ('stale0 ' prepended) and their re-crawl with current text."""
    base = docs.filter((F.col("doc_id") % 5).isin(1, 2, 3)).select(
        "doc_id", "text"
    )
    stale = docs.filter(F.col("doc_id") % 5 == 4).select(
        "doc_id", F.concat(F.lit("stale0 "), F.col("text")).alias("text")
    )
    recrawl = docs.filter(F.col("doc_id") % 5 == 4).select("doc_id", "text")
    return base, stale, recrawl


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, QueryFn] = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_revenue_orders": q3_top_revenue_orders,
    "q5_region_volume": q5_region_volume,
    "p2_filter_pushdown_scan": p2_filter_pushdown_scan,
    "p7_melt_lineitem": p7_melt_lineitem,
    "p8_pivot_events": p8_pivot_events,
    "j4_homogenise_dates": j4_homogenise_dates,
    "w1_normalise_ffill": w1_normalise_ffill,
    "w2_normalise_zerofill": w2_normalise_zerofill,
    "a1_rolling_sum_7day": a1_rolling_sum_7day,
    "a234_change_direction_pct": a234_change_direction_pct,
    "a5_cumulative_sum": a5_cumulative_sum,
    "a6_group_max": a6_group_max,
    "a8_pair_summation": a8_pair_summation,
    "a10_percentiles": a10_percentiles,
    "a11_nest_records": a11_nest_records,
    "a12_rank_latest": a12_rank_latest,
    "a15_distinct": a15_distinct,
    "w5_trim_end": w5_trim_end,
    "w6_centered_mean": w6_centered_mean,
    "w8_weekly_thin": w8_weekly_thin,
    "j9_release_delta": j9_release_delta,
    "j10_latest_date_semi": j10_latest_date_semi,
    "u1_union_frames": u1_union_frames,
    "s11_payload_wrap": s11_payload_wrap,
    "d1_exact_dedup": d1_exact_dedup,
    "d2_jaccard_pairs": d2_jaccard_pairs,
    "d3_minhash_signatures": d3_minhash_signatures,
    "d3b_lsh_pairs": d3b_lsh_pairs,
    "d4_simhash": d4_simhash,
    "d5_embedding_neardup": d5_embedding_neardup,
    "t1_token_stats": t1_token_stats,
    "t2_quality_stats": t2_quality_stats,
    "t3_langid": t3_langid,
    "t4_fingerprint": t4_fingerprint,
    "s1_ann_cosine_topk": s1_ann_cosine_topk,
    "s2_ann_ivf_topk": s2_ann_ivf_topk,
    "m1_binary_meta": m1_binary_meta,
}

ORACLE: dict[str, str] = {
    "q1_pricing_summary": Q1_SQL,
    "q3_top_revenue_orders": Q3_SQL,
    "q5_region_volume": Q5_SQL,
    "p2_filter_pushdown_scan": P2_SQL,
    "p7_melt_lineitem": P7_SQL,
    "p8_pivot_events": P8_SQL,
    "j4_homogenise_dates": J4_SQL,
    "w1_normalise_ffill": W1_SQL,
    "w2_normalise_zerofill": W2_SQL,
    "a1_rolling_sum_7day": A1_SQL,
    "a234_change_direction_pct": A234_SQL,
    "a5_cumulative_sum": A5_SQL,
    "a6_group_max": A6_SQL,
    "a8_pair_summation": A8_SQL,
    "a10_percentiles": A10_SQL,
    "a11_nest_records": A11_SQL,
    "a12_rank_latest": A12_SQL,
    "a15_distinct": A15_SQL,
    "w5_trim_end": W5_SQL,
    "w6_centered_mean": W6_SQL,
    "w8_weekly_thin": W8_SQL,
    "j9_release_delta": J9_SQL,
    "j10_latest_date_semi": J10_SQL,
    "u1_union_frames": U1_SQL,
    "s11_payload_wrap": S11_SQL,
    "d1_exact_dedup": D1_SQL,
    "d2_jaccard_pairs": D2_SQL,
    "d3_minhash_signatures": D3_SQL,
    "d3b_lsh_pairs": D3B_SQL,
    "d4_simhash": D4_SQL,
    "d5_embedding_neardup": D5_SQL,
    "t1_token_stats": T1_SQL,
    "t2_quality_stats": T2_SQL,
    "t3_langid": T3_SQL,
    "t4_fingerprint": T4_SQL,
    "s1_ann_cosine_topk": S1_SQL,
    "s2_ann_ivf_topk": S2_SQL,
    "m1_binary_meta": M1_SQL,
}


# --------------------------------------------------------------------------
# round-1 additions: A13 release stats, J3 adjacent fill, W4 trim_sides
# --------------------------------------------------------------------------

def a13_release_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-release row stats (A13: COUNT(*) GROUP BY release_id,
    db_etl_update_db/update.py:24-38) — on events keyed by type."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


A13_SQL = """
SELECT event_type, COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def j3_adjacent_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-column fill (J3, derived_metrics.py:24-101): where the
    target is null on the global latest date, fill with the per-group max
    of the source column."""
    from ..operators import calculate_by_adjacent_column

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("date")
    ).agg(
        F.sum(F.col("value").cast(DEC)).alias("val_d"),
        F.count(F.lit(1)).cast("double").alias("cnt"),
    )
    dom = F.substring("date", 9, 2).cast("int")
    keep = ~((F.col("event_type") == "click") & (dom % 3 == 0))
    sparse = daily.filter(keep)
    dense = homogenise_dates(sparse, group_keys=("event_type",)).withColumn(
        "val", F.col("val_d").cast("double")
    )
    out = calculate_by_adjacent_column(
        dense, [("val", "cnt")], group_keys=("event_type",)
    )
    return out.select("event_type", "date", "val", "cnt")


J3_SQL = """
WITH daily0 AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS date,
           SUM(CAST(value AS DECIMAL(18,6))) AS val_d,
           CAST(COUNT(*) AS DOUBLE) AS cnt
    FROM events GROUP BY 1, 2
),
daily AS (
    SELECT * FROM daily0
    WHERE NOT (event_type = 'click' AND CAST(substr(date, 9, 2) AS INT) % 3 = 0)
),
bounds AS (SELECT CAST(min(date) AS DATE) AS lo, CAST(max(date) AS DATE) AS hi FROM daily),
scaffold AS (
    SELECT t.event_type, strftime(g.d, '%Y-%m-%d') AS date
    FROM (SELECT DISTINCT event_type FROM daily) t
    CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds) g
),
dense AS (
    SELECT s.event_type, s.date, CAST(d.val_d AS DOUBLE) AS val, d.cnt
    FROM scaffold s LEFT JOIN daily d ON s.event_type = d.event_type AND s.date = d.date
),
mx AS (SELECT max(date) AS max_date FROM dense),
grp AS (SELECT event_type, MAX(cnt) AS fill FROM dense GROUP BY event_type)
SELECT d.event_type, d.date,
       CASE WHEN d.val IS NULL AND d.date = (SELECT max_date FROM mx) THEN g.fill ELSE d.val END AS val,
       d.cnt
FROM dense d JOIN grp g ON d.event_type = g.event_type
"""


def w4_trim_sides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-series side trimming (W4, uploader.py:55-90) on a panel with
    forced leading zeros."""
    from ..operators import trim_sides

    daily = _daily(spark, sf_dir)
    dom = F.substring("date", 9, 2).cast("int")
    long = daily.select(
        F.lit("event").alias("area_type"),
        F.col("event_type").alias("area_code"),
        F.lit("val").alias("metric"),
        "date",
        F.when(dom <= 3, F.lit(0.0)).otherwise(F.col("val_d").cast("double")).alias("payload"),
    )
    out = trim_sides(long)
    return out.select("area_code", "metric", "date", "payload")


W4_SQL = f"""
WITH {_DAILY_SQL},
long AS (
    SELECT event_type AS area_code, 'val' AS metric, date,
           CASE WHEN CAST(substr(date, 9, 2) AS INT) <= 3 THEN 0.0
                ELSE CAST(val_d AS DOUBLE) END AS payload
    FROM daily
),
r1 AS (
    SELECT *, ROW_NUMBER() OVER w AS rn,
           SUM(ABS(payload)) OVER (PARTITION BY area_code, metric ORDER BY date
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumabs
    FROM long
    WINDOW w AS (PARTITION BY area_code, metric ORDER BY date)
),
r2 AS (
    SELECT *,
           MIN(CASE WHEN cumabs > 0 THEN rn END) OVER (PARTITION BY area_code, metric) AS first_nonzero,
           MIN(CASE WHEN payload IS NOT NULL THEN rn END) OVER (PARTITION BY area_code, metric) AS first_valid
    FROM r1
),
r3 AS (
    SELECT area_code, metric, date, rn,
           CASE WHEN rn <= COALESCE(first_nonzero, first_valid) + 1 THEN NULL ELSE payload END AS payload
    FROM r2
),
r4 AS (
    SELECT *,
           MAX(CASE WHEN payload IS NOT NULL THEN rn END) OVER (PARTITION BY area_code, metric) AS last_valid
    FROM r3
)
-- drop exactly the MASKED rows (lead strip handled by r3's NULLing;
-- trailing strip UNBOUNDED from last_valid-1 to the series end —
-- the reference's dm.loc[last_valid - 1:, :] = NaN label slice has
-- no right bound, so trailing null-payload rows are dropped too)
SELECT area_code, metric, date, payload
FROM r4
WHERE payload IS NOT NULL
  AND rn < last_valid - 1
"""

QUERIES.update({
    "a13_release_counts": a13_release_counts,
    "j3_adjacent_fill": j3_adjacent_fill,
    "w4_trim_sides": w4_trim_sides,
})
ORACLE.update({
    "a13_release_counts": A13_SQL,
    "j3_adjacent_fill": J3_SQL,
    "w4_trim_sides": W4_SQL,
})


def a1v_rolling_qty_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOLUME variant of the rolling sum: 7-row rolling quantity sum per
    part over every lineitem row. Unlike the 150-row daily panels, this
    scales linearly with sf — the bench's honest window workload (one
    exchange over ~600k rows at sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    w7 = w.rowsBetween(-6, 0)
    qty = F.col("l_quantity").cast(DEC)
    rsum = F.when(F.count(qty).over(w7) == 7, F.sum(qty).over(w7))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rsum.cast("double").alias("qty_rolling7"),
    )


A1V_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(CASE WHEN COUNT(l_quantity) OVER w7 = 7
                 THEN SUM(CAST(l_quantity AS DECIMAL(18,6))) OVER w7 END AS DOUBLE) AS qty_rolling7
FROM lineitem
WINDOW w7 AS (PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""

QUERIES["a1v_rolling_qty_by_part"] = a1v_rolling_qty_by_part
ORACLE["a1v_rolling_qty_by_part"] = A1V_SQL


# --------------------------------------------------------------------------
# serving-layer + remaining §2 operators (J8, A14, W3, W7, A9, P4, J2+A1,
# hash, MSOA suppression)
# --------------------------------------------------------------------------

from ..operators import (  # noqa: E402
    calculate_rates,
    negative_to_zero,
    row_hash_sha2,
    suppress_by_rolling_sum,
)
from .serving import dose_alignment, landing_cache_rows  # noqa: E402


def _mini_star(spark: SparkSession, sf_dir: str):
    """A tiny long-store star schema synthesised from events: time_series
    (area_id, metric_id, date, payload JSON) + areas + metrics dims — the
    substrate the serving layer queries run on (SURVEY.md §1.1)."""
    ev = load_table(spark, sf_dir, "events")
    long = ev.groupBy(
        (F.col("user_id") % 5).alias("area_id"),
        F.col("event_type").alias("metric"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
    ).agg(F.floor(F.sum(F.col("value").cast(DEC))).cast("bigint").alias("v"))
    ts = long.select(
        "area_id",
        F.col("metric").alias("metric_id"),
        "date",
        F.to_json(F.struct(F.col("v").alias("value"))).alias("payload"),
    )
    # Registry dims are their own tiny tables in production — building
    # them here from literals (not from the fact table) keeps the plan at
    # ONE fact scan; deriving them from `long` would re-execute the events
    # subtree once per dim.
    areas = spark.range(5).select(
        F.col("id").alias("area_id"),
        F.lit("nation").alias("area_type"),
        F.concat(F.lit("A"), F.col("id").cast("string")).alias("area_code"),
        F.concat(F.lit("Area "), F.col("id").cast("string")).alias("area_name"),
    )
    metrics = spark.createDataFrame(
        [(m, m) for m in ("click", "error", "purchase", "signup", "view")],
        "metric_id string, metric string",
    )
    return ts, areas, metrics


_MINI_STAR_SQL = """
long AS (
    SELECT user_id % 5 AS area_id, event_type AS metric,
           strftime(ts, '%Y-%m-%d') AS date,
           CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,6)))) AS BIGINT) AS v
    FROM events GROUP BY 1, 2, 3
)
"""


def j8_full_outer_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: FULL OUTER alignment of three series on (date, area) — the
    dose-uptake query (db_etl_homepage_graphs/queries.py:63-128),
    expressed as one pivot pass instead of three self-joins."""
    ts, areas, metrics = _mini_star(spark, sf_dir)
    return dose_alignment(
        ts, areas, metrics, dose_metrics=("click", "error", "signup")
    )


J8_SQL = f"""
WITH {_MINI_STAR_SQL}
SELECT date, 'A' || CAST(area_id AS VARCHAR) AS area_code,
       CAST(MAX(CASE WHEN metric = 'click'  THEN v END) AS DOUBLE) AS first_dose,
       CAST(MAX(CASE WHEN metric = 'error'  THEN v END) AS DOUBLE) AS second_dose,
       CAST(MAX(CASE WHEN metric = 'signup' THEN v END) AS DOUBLE) AS third_dose
FROM long
WHERE metric IN ('click', 'error', 'signup')
GROUP BY 1, 2
"""


def a14_cache_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14/S12: the Redis landing-cache rows — jsonb_agg(jsonb_build_object)
    per (area, metric) over the trailing 30 days (cache_prepopulate/query.sql)."""
    ts, areas, metrics = _mini_star(spark, sf_dir)
    return landing_cache_rows(
        ts, areas, metrics,
        metric_names=["click", "purchase"],
        last_n_days=30,
        value_cast="bigint",
    )


A14_SQL = f"""
WITH {_MINI_STAR_SQL},
scoped AS (
    SELECT *, MAX(date) OVER (PARTITION BY area_id, metric) AS mx
    FROM long WHERE metric IN ('click', 'purchase')
)
SELECT 'nation' AS area_type,
       'A' || CAST(area_id AS VARCHAR) AS area_code,
       metric,
       CAST(to_json(list(struct_pack(date := date, value := v) ORDER BY date DESC)) AS VARCHAR) AS cache_value,
       'nation' || '|' || 'A' || CAST(area_id AS VARCHAR) || '|' || metric AS cache_key
FROM scoped
WHERE date_diff('day', CAST(date AS DATE), CAST(mx AS DATE)) < 30
GROUP BY area_id, metric
"""


def w3_name_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: areaName propagation — first non-null name per areaCode in date
    order, broadcast to every row (normalisation.py:70-73, 88-89)."""
    daily = _daily(spark, sf_dir)
    dom = F.substring("date", 9, 2).cast("int")
    panel = daily.select(
        F.col("event_type").alias("areaCode"),
        "date",
        F.when(dom % 4 == 1, F.upper("event_type")).alias("areaName"),
    )
    out = normalise_records(panel, group_keys=("areaCode",))
    return out.select("areaCode", "date", "areaName", "areaNameLower")


W3_SQL = f"""
WITH {_DAILY_SQL},
named AS (
    SELECT event_type AS areaCode, date,
           CASE WHEN CAST(substr(date, 9, 2) AS INT) % 4 = 1
                THEN upper(event_type) END AS nm
    FROM daily
)
SELECT areaCode, date,
       first_value(nm IGNORE NULLS) OVER w AS areaName,
       lower(first_value(nm IGNORE NULLS) OVER w) AS areaNameLower
FROM named
WINDOW w AS (PARTITION BY areaCode ORDER BY date
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def w7_latest_n_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: latest-3-dates-per-group rank filter
    (main_etl_nested_metrics_converter/queries.py:22-56)."""
    daily = _daily(spark, sf_dir).withColumn("val", F.col("val_d").cast("double"))
    return latest_per_group(
        daily.select("event_type", "date", "val"),
        group_keys=["event_type"],
        order_col="date",
        k=3,
    )


W7_SQL = f"""
WITH {_DAILY_SQL}
SELECT event_type, date, CAST(val_d AS DOUBLE) AS val
FROM daily
QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY date DESC) <= 3
"""


def a9_allzero_group_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: a group whose rolling sums total zero has ALL its rolling stats
    nulled (replace_all_zero, rolling.py:58-62,164-168) — forced here by
    zeroing one event_type's series."""
    dense = _dense(spark, sf_dir)
    zero = F.lit(0).cast(DEC)
    panel = dense.withColumn(
        "val",
        F.when(F.col("event_type") == "click", zero).otherwise(
            F.coalesce(F.col("val_d"), zero)
        ),
    )
    out = change_by_sum(panel, ["val"], group_keys=("event_type",), pct_precision=None)
    return out.select(
        "event_type", "date", F.col("valRollingSum").cast("double").alias("rsum")
    )


A9_SQL = f"""
WITH {_SPARSE_DAILY_SQL}, {_DENSE_SQL},
panel AS (
    SELECT event_type, date,
           CASE WHEN event_type = 'click' THEN CAST(0 AS DECIMAL(18,6))
                ELSE COALESCE(val_d, CAST(0 AS DECIMAL(18,6))) END AS val
    FROM dense
),
r1 AS (
    SELECT event_type, date, val,
           CASE WHEN COUNT(val) OVER w7 = 7 THEN SUM(val) OVER w7 END AS rsum0
    FROM panel
    WINDOW w7 AS (PARTITION BY event_type ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, date,
       CAST(CASE WHEN SUM(rsum0) OVER (PARTITION BY event_type) = 0
                 THEN NULL ELSE rsum0 END AS DOUBLE) AS rsum
FROM r1
"""


def p4_negative_to_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: clip negatives to zero, preserving nulls (etl.py:925-935), on a
    day-over-day delta that actually goes negative."""
    daily = _daily(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("date")
    d = daily.withColumn(
        "delta", (F.col("val_d") - F.lag("val_d").over(w)).cast("double")
    )
    out = negative_to_zero(d, ["delta"])
    return out.select("event_type", "date", "delta")


P4_SQL = f"""
WITH {_DAILY_SQL},
d AS (
    SELECT event_type, date,
           CAST(val_d - LAG(val_d) OVER (PARTITION BY event_type ORDER BY date) AS DOUBLE) AS delta
    FROM daily
)
SELECT event_type, date,
       CASE WHEN delta < 0 THEN 0.0 ELSE delta END AS delta
FROM d
"""


def _nation_daily(spark: SparkSession, sf_dir: str, agg: str):
    """Shared J2-family builder: population dim (customers per nation) +
    per-(nation, order-date) aggregate of orders joined to the broadcast
    customer slice. ``agg`` = 'spend' (decimal total) or 'count'."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    pop = cust.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count("*").alias("population")
    )
    joined = orders.join(
        broadcast(
            cust.select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_nationkey").alias("nation"),
            )
        ),
        on="o_custkey",
    )
    grouped = joined.groupBy(
        "nation", F.date_format("o_orderdate", "yyyy-MM-dd").alias("date")
    )
    if agg == "spend":
        daily = grouped.agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("spend"))
    else:
        daily = grouped.agg(F.count("*").cast("double").alias("n_orders"))
    return daily, pop


_NATION_POP_SQL = """
pop AS (
    SELECT c_nationkey AS nation, COUNT(*) AS population FROM customer GROUP BY 1
)
"""


def j2_rolling_rate_per100k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+A1: the engine's signature rate — 7-row rolling spend per nation,
    per-100k of a broadcast population dimension
    (generic_rate.py:78-105). The fact side never shuffles for the join
    (population is broadcast); one window exchange total."""
    daily, pop = _nation_daily(spark, sf_dir, "spend")
    out = calculate_rates(
        daily,
        pop,
        rolling_rate=["spend"],
        group_keys=("nation",),
        join_keys=("nation",),
        precision=None,
    )
    return out.select(
        "nation",
        "date",
        F.col("spendRollingSum").cast("double").alias("rsum"),
        F.col("spendRollingRate").alias("rrate"),
    )


J2_SQL = f"""
WITH {_NATION_POP_SQL},
daily AS (
    SELECT c_nationkey AS nation, strftime(o_orderdate, '%Y-%m-%d') AS date,
           SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
),
r AS (
    SELECT nation, date,
           COALESCE(CASE WHEN COUNT(spend) OVER w7 = 7 THEN SUM(spend) OVER w7 END,
                    0) AS rsum
    FROM daily
    WINDOW w7 AS (PARTITION BY nation ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT nation, date, CAST(rsum AS DOUBLE) AS rsum,
       CAST(rsum AS DOUBLE) / population * 100000 AS rrate
FROM r JOIN pop USING (nation)
"""


def h1_row_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-identity hash (§2.8): sha256 of the concatenated key columns,
    truncated to the reference's 12-byte digest width
    (db_etl_upload/uploader.py:171-179 — blake2s variant is
    row_hash_blake2, not SQL-expressible)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )
    return row_hash_sha2(li, ["l_orderkey", "l_linenumber", "l_returnflag"])


H1_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       substr(sha256(
           COALESCE(CAST(l_orderkey AS VARCHAR), 'None')
           || COALESCE(CAST(l_linenumber AS VARCHAR), 'None')
           || COALESCE(l_returnflag, 'None')), 1, 24) AS hash
FROM lineitem
"""


def sup1_small_count_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MSOA small-count disclosure control (SURVEY §7 hard-part 7): rolling
    sums below 3 substituted with 2 inside change_by_sum
    (msoa_etl_db/processor.py:279-281), then every stat nulled where the
    rolling sum is <= 2 or missing (processor.py:211-226).

    The panel is zero-DENSIFIED (bucket x every purchase date, missing
    days = 0 cases, like the MSOA zero-padding msoa_etl_db/processor.py:
    146-171): without the zero days every present row has >= 1 case and
    7-row sums are always >= 7, leaving both suppression branches dead."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    counts = ev.groupBy(
        (F.col("user_id") % 29).alias("bucket"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
    ).agg(F.count("*").cast(DEC).alias("cases"))
    dates = ev.select(F.date_format("ts", "yyyy-MM-dd").alias("date")).distinct()
    buckets = spark.range(29).select(F.col("id").alias("bucket"))
    panel = (
        dates.crossJoin(buckets)
        .join(counts, on=["bucket", "date"], how="left")
        .withColumn("cases", F.coalesce(F.col("cases"), F.lit(0).cast(DEC)))
    )
    out = change_by_sum(
        panel,
        ["cases"],
        group_keys=("bucket",),
        min_sum_allowed=3.0,
        min_sum_sub=2.0,
        pct_precision=None,
    )
    out = suppress_by_rolling_sum(
        out,
        "casesRollingSum",
        ["cases", "casesChange", "casesDirection"],
        threshold=2,
    )
    return out.select(
        "bucket",
        "date",
        F.col("cases").cast("double").alias("cases"),
        F.col("casesRollingSum").cast("double").alias("rsum"),
        F.col("casesChange").cast("double").alias("chg"),
        F.col("casesDirection").alias("direction"),
    )


SUP1_SQL = """
WITH counts AS (
    SELECT user_id % 29 AS bucket, strftime(ts, '%Y-%m-%d') AS date,
           CAST(COUNT(*) AS DECIMAL(18,6)) AS cases
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1, 2
),
dates AS (
    SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS date
    FROM events WHERE event_type = 'purchase'
),
buckets AS (SELECT range AS bucket FROM range(29)),
panel AS (
    SELECT b.bucket, d.date,
           COALESCE(c.cases, CAST(0 AS DECIMAL(18,6))) AS cases
    FROM dates d CROSS JOIN buckets b
    LEFT JOIN counts c ON c.bucket = b.bucket AND c.date = d.date
),
r1 AS (
    SELECT bucket, date, cases,
           CASE WHEN COUNT(cases) OVER w7 = 7 THEN
               CASE WHEN SUM(cases) OVER w7 < 3 THEN 2.0
                    ELSE CAST(SUM(cases) OVER w7 AS DOUBLE) END
           END AS rsum0
    FROM panel
    WINDOW w7 AS (PARTITION BY bucket ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
r2 AS (
    SELECT bucket, date, cases,
           CASE WHEN SUM(rsum0) OVER (PARTITION BY bucket) = 0
                THEN NULL ELSE rsum0 END AS rsum
    FROM r1
),
r3 AS (
    SELECT bucket, date, cases, rsum,
           rsum - LAG(rsum, 7) OVER (PARTITION BY bucket ORDER BY date) AS chg
    FROM r2
),
r4 AS (
    SELECT bucket, date, cases, rsum, chg,
           CASE WHEN chg < 0 THEN 'DOWN' WHEN chg > 0 THEN 'UP'
                WHEN chg = 0 THEN 'SAME' END AS direction
    FROM r3
),
r5 AS (
    SELECT bucket, date,
           CASE WHEN rsum = 2.0 THEN NULL ELSE CAST(cases AS DOUBLE) END AS cases,
           CASE WHEN rsum = 2.0 THEN NULL ELSE rsum END AS rsum2,
           CASE WHEN rsum = 2.0 THEN NULL ELSE chg END AS chg,
           CASE WHEN rsum = 2.0 THEN NULL ELSE direction END AS direction
    FROM r4
)
SELECT bucket, date,
       CASE WHEN rsum2 IS NULL OR rsum2 <= 2 THEN NULL ELSE cases END AS cases,
       rsum2 AS rsum,
       CASE WHEN rsum2 IS NULL OR rsum2 <= 2 THEN NULL ELSE chg END AS chg,
       CASE WHEN rsum2 IS NULL OR rsum2 <= 2 THEN NULL ELSE direction END AS direction
FROM r5
"""


QUERIES.update({
    "j8_full_outer_align": j8_full_outer_align,
    "a14_cache_payload": a14_cache_payload,
    "w3_name_propagation": w3_name_propagation,
    "w7_latest_n_dates": w7_latest_n_dates,
    "a9_allzero_group_null": a9_allzero_group_null,
    "p4_negative_to_zero": p4_negative_to_zero,
    "j2_rolling_rate_per100k": j2_rolling_rate_per100k,
    "h1_row_hash": h1_row_hash,
    "sup1_small_count_suppression": sup1_small_count_suppression,
})
ORACLE.update({
    "j8_full_outer_align": J8_SQL,
    "a14_cache_payload": A14_SQL,
    "w3_name_propagation": W3_SQL,
    "w7_latest_n_dates": W7_SQL,
    "a9_allzero_group_null": A9_SQL,
    "p4_negative_to_zero": P4_SQL,
    "j2_rolling_rate_per100k": J2_SQL,
    "h1_row_hash": H1_SQL,
    "sup1_small_count_suppression": SUP1_SQL,
})


from ..operators import drop_empty_rows, relabel_area_names  # noqa: E402


def j5_relabel_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: drop incoming labels, broadcast-join the canonical ones from
    the geog reference list (match_area_names.py:53-68). Customers carry
    a scrambled nation label; the nation dim restores the canonical one."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("areaCode"),
        F.lit("mangled").alias("areaType"),
        F.upper("c_name").alias("areaName"),
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("areaCode"),
        F.lit("nation").alias("areaType"),
        F.col("n_name").alias("areaName"),
    )
    return relabel_area_names(cust, nation)


J5_SQL = """
SELECT c_nationkey AS areaCode, c_custkey AS id,
       'nation' AS areaType, n_name AS areaName
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
"""


def p6_drop_all_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: dropna(how='all') over the metric columns — a two-metric panel
    where the deterministic gap patterns leave some days fully empty."""
    daily = _sparse_daily(spark, sf_dir)
    dom = F.substring("date", 9, 2).cast("int")
    panel = daily.select(
        "event_type",
        "date",
        F.when(dom % 2 == 0, F.col("val_d").cast("double")).alias("val_a"),
        F.when(dom % 3 == 0, F.col("val_d").cast("double")).alias("val_b"),
    )
    return drop_empty_rows(panel, ["val_a", "val_b"])


P6_SQL = f"""
WITH {_SPARSE_DAILY_SQL},
panel AS (
    SELECT event_type, date,
           CASE WHEN CAST(substr(date, 9, 2) AS INT) % 2 = 0
                THEN CAST(val_d AS DOUBLE) END AS val_a,
           CASE WHEN CAST(substr(date, 9, 2) AS INT) % 3 = 0
                THEN CAST(val_d AS DOUBLE) END AS val_b
    FROM daily
)
SELECT * FROM panel WHERE val_a IS NOT NULL OR val_b IS NOT NULL
"""


QUERIES.update({
    "j5_relabel_names": j5_relabel_names,
    "p6_drop_all_null": p6_drop_all_null,
})
ORACLE.update({
    "j5_relabel_names": J5_SQL,
    "p6_drop_all_null": P6_SQL,
})


def j2a_age_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 age variant (generic_rate.py:180-199): rolling rate per 100k
    with (group, age-band) group keys against an (area, age)-keyed
    population dim — the demographics path's rate join."""
    ev = load_table(spark, sf_dir, "events")
    band = (F.col("user_id") % 3).alias("age_band")
    panel = ev.groupBy(
        F.col("event_type").alias("areaCode"),
        band,
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
    ).agg(F.sum(F.col("value").cast(DEC)).alias("cases"))
    pop = (
        ev.groupBy(
            F.col("event_type").alias("areaCode"),
            (F.col("user_id") % 3).alias("age_band"),
        )
        .agg(F.countDistinct("user_id").alias("population"))
    )
    out = calculate_rates(
        panel,
        pop,
        rolling_rate=["cases"],
        group_keys=("areaCode", "age_band"),
        join_keys=("areaCode", "age_band"),
        precision=None,
    )
    return out.select(
        "areaCode",
        "age_band",
        "date",
        F.col("casesRollingSum").cast("double").alias("rsum"),
        F.col("casesRollingRate").alias("rrate"),
    )


J2A_SQL = """
WITH panel AS (
    SELECT event_type AS areaCode, user_id % 3 AS age_band,
           strftime(ts, '%Y-%m-%d') AS date,
           SUM(CAST(value AS DECIMAL(18,6))) AS cases
    FROM events GROUP BY 1, 2, 3
),
pop AS (
    SELECT event_type AS areaCode, user_id % 3 AS age_band,
           COUNT(DISTINCT user_id) AS population
    FROM events GROUP BY 1, 2
),
r AS (
    SELECT areaCode, age_band, date,
           COALESCE(CASE WHEN COUNT(cases) OVER w7 = 7
                         THEN SUM(cases) OVER w7 END, 0) AS rsum
    FROM panel
    WINDOW w7 AS (PARTITION BY areaCode, age_band ORDER BY date
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT areaCode, age_band, date, CAST(rsum AS DOUBLE) AS rsum,
       CAST(rsum AS DOUBLE) / population * 100000 AS rrate
FROM r JOIN pop USING (areaCode, age_band)
"""

QUERIES["j2a_age_rate"] = j2a_age_rate
ORACLE["j2a_age_rate"] = J2A_SQL


from ..functions.dedup import dedup_components  # noqa: E402


def d6_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup RESOLUTION: LSH candidate pairs -> connected components ->
    (doc_id, canonical_id). The drop-list query for corpus dedup; the
    Spark side iterates min-label propagation to the (unique) fixpoint,
    the oracle unrolls propagate+pointer-jump rounds (``_cc_rounds_sql``)
    — the same fixpoint, reachable at every tested scale factor."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, k=16)
    pairs = lsh_candidate_pairs(sigs, k=16, bands=2)
    return dedup_components(pairs, docs.select("doc_id"))


def _cc_rounds_sql(n_rounds: int = 16) -> str:
    """Unrolled min-label connected components over CTEs ``edges(a, b)``
    (directed both ways) and ``documents(doc_id)``, ending in
    ``cc(node, label)`` with label = the component's minimum doc_id.

    Replaces a transitive-closure recursive CTE whose working set is
    O(sum of component size squared) — unusable on the sf0.1 candidate
    graph (millions of pairs; the recursion churned >30 min before
    being killed). Each unrolled round is a propagate step (min over
    own + in-neighbour labels, O(N+E) rows) followed by a pointer-jump
    (label <- label's label, O(N) rows) — the Shiloach-Vishkin
    schedule, so label reach at least doubles per round and
    ``n_rounds=16`` converges for any component diameter up to ~2^16:
    far beyond any gate-scale graph. A non-converged oracle would
    hash-mismatch the Spark fixpoint, which is the loud failure mode
    the gate wants.

    Every CTE is ``AS MATERIALIZED``: DuckDB otherwise INLINES each
    reference, so 16 rounds each referencing ``edges`` (and ``j``
    referencing ``p`` twice) would re-expand the whole upstream LSH
    pipeline per reference — file-handle exhaustion before it even
    runs. The caller's ``edges`` CTE must be MATERIALIZED for the same
    reason."""
    parts = [
        "l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS label FROM documents)"
    ]
    prev = "l0"
    for r in range(1, n_rounds + 1):
        parts.append(f"""
p{r} AS MATERIALIZED (
    SELECT node, MIN(label) AS label FROM (
        SELECT node, label FROM {prev}
        UNION ALL
        SELECT e.b AS node, l.label FROM {prev} l JOIN edges e ON e.a = l.node
    ) t GROUP BY node
),
j{r} AS MATERIALIZED (
    SELECT l.node, l2.label
    FROM p{r} l JOIN p{r} l2 ON l.label = l2.node
)""")
        prev = f"j{r}"
    parts.append(f"cc AS (SELECT node, label FROM {prev})")
    return ",".join(parts)


def _lsh_cc_prefix_sql() -> str:
    """Shared oracle prefix (d6, x22): minhash(16) -> 2-band LSH
    candidate pairs -> bidirectional edges -> the unrolled
    connected-component rounds, ending in ``cc(node, label)``."""
    bands = []
    for bidx in range(2):
        members = ", ".join(f"mh{i}" for i in range(bidx * 8, (bidx + 1) * 8))
        bands.append(
            f"SELECT doc_id, {bidx} AS band, concat_ws('_', {members}) AS sig "
            "FROM sig WHERE mh0 IS NOT NULL"
        )
    return f"""th AS (SELECT doc_id, {_TH_SQL} AS th FROM documents),
sig AS (
    SELECT doc_id,
           {','.join(f'list_min(list_transform(th, h -> ({a} * h + {b}) % {MERSENNE_P})) AS mh{i}' for i, (a, b) in enumerate(hash_params(16)))}
    FROM th
),
bands AS ({' UNION ALL '.join(bands)}),
pairs AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
edges AS MATERIALIZED (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM pairs
),
{_cc_rounds_sql()}"""


def _d6_sql() -> str:
    return f"""
WITH {_lsh_cc_prefix_sql()}
SELECT node AS doc_id, label AS canonical_id FROM cc
"""


QUERIES["d6_dedup_resolve"] = d6_dedup_resolve
ORACLE["d6_dedup_resolve"] = _d6_sql()


from ..functions.text import chunk_documents  # noqa: E402


def t5_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window document chunking (64-token windows, 8-token overlap)
    — the training-data chunking pass over the documents table."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=8)


T5_SQL = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
starts AS (
    SELECT doc_id, t,
           unnest(range(0, greatest(len(t) - 1, 0) + 1, 56)) AS s
    FROM toks
)
SELECT doc_id,
       CAST(s // 56 AS BIGINT) AS chunk_index,
       CAST(len(t[s + 1 : s + 64]) AS BIGINT) AS chunk_tokens,
       array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text
FROM starts
WHERE (s = 0 OR s < len(t) - 8)
  AND len(t[s + 1 : s + 64]) > 0
"""

QUERIES["t5_chunking"] = t5_chunking
ORACLE["t5_chunking"] = T5_SQL


from ..operators import ratio_to_percentage  # noqa: E402


def r1_ratio_to_percentage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ratio->percentage with the reference's round-to-1dp
    (db_etl/etl.py:961-972): exact on DECIMAL inputs, so the rounding is
    engine-independent (decimal HALF_UP == round-half-away for the
    positive ratios involved)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_discount").cast(DEC).alias("ratio")
    )
    out = ratio_to_percentage(li, ["ratio"], precision=1)
    return out.select(
        "l_orderkey", "l_linenumber", F.col("ratio").cast("double").alias("ratio")
    )


R1_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(CAST(l_discount AS DECIMAL(18,6)) * 100, 1) AS DOUBLE) AS ratio
FROM lineitem
"""

QUERIES["r1_ratio_to_percentage"] = r1_ratio_to_percentage
ORACLE["r1_ratio_to_percentage"] = R1_SQL


def j2b_incidence_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incidence rate (no window): value / population * 100k against the
    broadcast population dim (generic_rate.py:100-105 incidence path)."""
    daily, pop = _nation_daily(spark, sf_dir, "count")
    out = calculate_rates(
        daily,
        pop,
        incidence_rate=["n_orders"],
        group_keys=("nation",),
        join_keys=("nation",),
        precision=None,
    )
    return out.select("nation", "date", "n_orders", F.col("n_ordersRate").alias("rate"))


J2B_SQL = f"""
WITH {_NATION_POP_SQL},
daily AS (
    SELECT c_nationkey AS nation, strftime(o_orderdate, '%Y-%m-%d') AS date,
           CAST(COUNT(*) AS DOUBLE) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
)
SELECT nation, date, n_orders,
       n_orders / population * 100000 AS rate
FROM daily JOIN pop USING (nation)
"""

QUERIES["j2b_incidence_rate"] = j2b_incidence_rate
ORACLE["j2b_incidence_rate"] = J2B_SQL


from ..operators import homogenise_dates as _homogenise  # noqa: E402
from ..operators import normalise_demographics_records  # noqa: E402


def w2b_demographics_normalise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 nested-path normalisation (normalisation.py:97-147): scaffold
    densify crossed with the nesting dimension, cumulative metrics
    zero-seeded at the global min date, then bounded-ffilled per
    (area, band)."""
    ev = load_table(spark, sf_dir, "events")
    raw = ev.groupBy(
        F.col("event_type").alias("areaCode"),
        (F.col("user_id") % 3).alias("band"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
    ).agg(F.sum(F.col("value").cast(DEC)).alias("cum"))
    dom = F.substring("date", 9, 2).cast("int")
    keep = ~(
        ((F.col("areaCode") == "click") & (dom % 3 == 0))
        | ((F.col("areaCode") == "error") & (dom > 10))
        | ((F.col("areaCode") == "signup") & (dom <= 5))
    )
    sparse = raw.filter(keep)
    dense = _homogenise(
        sparse, group_keys=("areaCode",), extra_keys=("band",)
    ).withColumn("cum", F.col("cum").cast("double"))
    out = normalise_demographics_records(dense, "band", cumulative=["cum"])
    return out.select("areaCode", "band", "date", "cum")


W2B_SQL = """
WITH raw AS (
    SELECT event_type AS areaCode, user_id % 3 AS band,
           strftime(ts, '%Y-%m-%d') AS date,
           SUM(CAST(value AS DECIMAL(18,6))) AS cum
    FROM events GROUP BY 1, 2, 3
),
sparse AS (
    SELECT * FROM raw
    WHERE NOT ((areaCode = 'click'  AND CAST(substr(date, 9, 2) AS INT) % 3 = 0)
            OR (areaCode = 'error'  AND CAST(substr(date, 9, 2) AS INT) > 10)
            OR (areaCode = 'signup' AND CAST(substr(date, 9, 2) AS INT) <= 5))
),
bounds AS (SELECT CAST(MIN(date) AS DATE) AS lo, CAST(MAX(date) AS DATE) AS hi FROM sparse),
scaffold AS (
    SELECT a.areaCode, b.band, strftime(g.d, '%Y-%m-%d') AS date
    FROM (SELECT DISTINCT areaCode FROM sparse) a
    CROSS JOIN (SELECT DISTINCT band FROM sparse) b
    CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds) g
),
dense AS (
    SELECT s.areaCode, s.band, s.date, CAST(r.cum AS DOUBLE) AS cum
    FROM scaffold s LEFT JOIN sparse r USING (areaCode, band, date)
),
seeded AS (
    SELECT areaCode, band, date,
           CASE WHEN date = (SELECT MIN(date) FROM dense) AND cum IS NULL
                THEN 0.0 ELSE cum END AS cum
    FROM dense
),
b2 AS (
    SELECT *,
           MIN(CASE WHEN cum IS NOT NULL THEN date END) OVER (PARTITION BY areaCode, band) AS lo,
           MAX(CASE WHEN cum IS NOT NULL THEN date END) OVER (PARTITION BY areaCode, band) AS hi
    FROM seeded
)
SELECT areaCode, band, date,
       CASE WHEN cum IS NULL AND date >= lo AND date < hi
            THEN last_value(cum IGNORE NULLS) OVER (PARTITION BY areaCode, band ORDER BY date
                                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ELSE cum END AS cum
FROM b2
"""

QUERIES["w2b_demographics_normalise"] = w2b_demographics_normalise
ORACLE["w2b_demographics_normalise"] = W2B_SQL


def pipe1_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline: quality gates
    (length / stopword ratio / distinct ratio) -> language keep (en) ->
    exact-dedup canonical keep. One pass of JVM expressions + a
    broadcast-able semi-join against the representatives frame — the
    shape every corpus-prep job starts from."""
    docs = load_table(spark, sf_dir, "documents")
    q = quality_stats(docs)
    kept = q.filter(
        F.col("len_ok")
        & (F.col("stopword_ratio") <= 0.5)
        & (F.col("distinct_ratio") >= 0.3)
    )
    lang = langid_scores(kept).filter(F.col("lang_pred") == "en")
    reps = exact_dedup(docs).select(F.col("rep_id").alias("doc_id"))
    out = lang.join(reps, on="doc_id", how="left_semi")
    return out.select("doc_id", "n_tokens")


PIPE1_SQL = r"""
WITH q AS (
    SELECT doc_id, text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','of','and','to'], t))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
           len(string_split(text, ' ')) >= 20 AS len_ok
    FROM documents
),
kept AS (
    SELECT doc_id, text, n_tokens FROM q
    WHERE len_ok AND stopword_ratio <= 0.5 AND distinct_ratio >= 0.3
),
lang AS (
    SELECT doc_id, n_tokens,
           CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['der','die','und'], t))) AS BIGINT) AS s_de,
           CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','and'], t))) AS BIGINT) AS s_en,
           CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['le','la','et'], t))) AS BIGINT) AS s_fr
    FROM kept
),
en AS (
    SELECT doc_id, n_tokens FROM lang
    WHERE GREATEST(s_de, s_en, s_fr) > 0
      AND NOT (s_de = GREATEST(s_de, s_en, s_fr))
      AND s_en = GREATEST(s_de, s_en, s_fr)
),
reps AS (
    SELECT MIN(doc_id) AS doc_id
    FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents)
    GROUP BY fp
)
SELECT doc_id, n_tokens FROM en JOIN reps USING (doc_id)
"""

QUERIES["pipe1_corpus_clean"] = pipe1_corpus_clean
ORACLE["pipe1_corpus_clean"] = PIPE1_SQL


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + aggregate. Every predicate reaches
    the parquet scan (date range, discount band, quantity cap) — the
    pushdown-efficiency benchmark."""
    li = load_table(spark, sf_dir, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC)
    return sel.agg(
        F.sum(rev).cast("decimal(18,4)").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q6_SQL = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

QUERIES["q6_forecast_revenue"] = q6_forecast_revenue
ORACLE["q6_forecast_revenue"] = Q6_SQL


def pipe2_main_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1's processor pipeline composed end-to-end as ONE lazy plan:
    densify (J4) -> bounded zero-fill (W2) -> rolling family (A1-A4) ->
    5-day tail trim (W5) — the reference's `.pipe()` order
    (db_etl/etl.py:996-1022) over the gappy events panel. The panel
    value stays exact DECIMAL through every stage (type-preserving
    fills), so the whole composition is bit-deterministic across
    engines. Physically: the scaffold stats scan + ONE window exchange
    shared by all four derived columns + a broadcast 1-row cross-join
    for the trim cutoff."""
    dense = _dense(spark, sf_dir)
    panel = dense.withColumnRenamed("val_d", "val")
    panel = normalise_records(panel, zero_filled=["val"], group_keys=("event_type",))
    fam = change_by_sum(panel, ["val"], group_keys=("event_type",), pct_precision=None)
    out = trim_end(
        fam,
        ["valRollingSum", "valChange", "valDirection", "valChangePercentage"],
        days_to_trim=5,
    )
    return out.select(
        "event_type",
        "date",
        F.col("val").cast("double").alias("val"),
        F.col("valRollingSum").cast("double").alias("rsum"),
        F.col("valChange").cast("double").alias("chg"),
        F.col("valDirection").alias("direction"),
        F.col("valChangePercentage").alias("pct"),
    )


PIPE2_SQL = f"""
WITH {_SPARSE_DAILY_SQL}, {_DENSE_SQL}
, b AS (
    SELECT event_type, date, val_d,
           MIN(CASE WHEN val_d IS NOT NULL THEN date END) OVER (PARTITION BY event_type) AS lo,
           MAX(CASE WHEN val_d IS NOT NULL THEN date END) OVER (PARTITION BY event_type) AS hi
    FROM dense
),
panel AS (
    SELECT event_type, date,
           CASE WHEN val_d IS NULL AND date >= lo AND date < hi
                THEN CAST(0 AS DECIMAL(18,6)) ELSE val_d END AS val
    FROM b
),
r1 AS (
    SELECT event_type, date, val,
           CASE WHEN COUNT(val) OVER w7 = 7 THEN SUM(val) OVER w7 END AS rsum0
    FROM panel
    WINDOW w7 AS (PARTITION BY event_type ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
r2 AS (
    SELECT event_type, date, val,
           CASE WHEN SUM(rsum0) OVER (PARTITION BY event_type) = 0 THEN NULL ELSE rsum0 END AS rsum
    FROM r1
),
r3 AS (
    SELECT event_type, date, val, rsum,
           CAST(rsum - LAG(rsum, 7) OVER w AS DOUBLE) AS chg,
           CAST(rsum AS DOUBLE) AS cur,
           CAST(LAG(rsum, 7) OVER w AS DOUBLE) AS prev,
           COUNT(rsum) OVER w8 AS cnt8
    FROM r2
    WINDOW w  AS (PARTITION BY event_type ORDER BY date),
           w8 AS (PARTITION BY event_type ORDER BY date ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
),
r4 AS (
    SELECT event_type, date,
           CAST(val AS DOUBLE) AS val,
           CASE WHEN val IS NULL THEN NULL ELSE CAST(rsum AS DOUBLE) END AS rsum,
           CASE WHEN val IS NULL THEN NULL ELSE chg END AS chg,
           CASE WHEN val IS NULL THEN NULL
                WHEN chg < 0 THEN 'DOWN' WHEN chg > 0 THEN 'UP' WHEN chg = 0 THEN 'SAME' END AS direction,
           CASE WHEN val IS NULL THEN NULL
                WHEN cnt8 = 8 THEN
                  CASE WHEN cur = 0 AND prev > 0 THEN -100.0
                       WHEN (cur / (CASE WHEN prev <> 0 THEN prev ELSE 1.0 END)) - 1.0 = -1.0 THEN 0.0
                       ELSE ((cur / (CASE WHEN prev <> 0 THEN prev ELSE 1.0 END)) - 1.0) * 100.0 END
           END AS pct
    FROM r3
),
mx AS (SELECT CAST(max(date) AS DATE) - INTERVAL 5 DAY AS cutoff FROM r4)
SELECT event_type, date, val,
       CASE WHEN CAST(date AS DATE) <= cutoff THEN rsum END AS rsum,
       CASE WHEN CAST(date AS DATE) <= cutoff THEN chg END AS chg,
       CASE WHEN CAST(date AS DATE) <= cutoff THEN direction END AS direction,
       CASE WHEN CAST(date AS DATE) <= cutoff THEN pct END AS pct
FROM r4, mx
"""

QUERIES["pipe2_main_panel"] = pipe2_main_panel
ORACLE["pipe2_main_panel"] = PIPE2_SQL


from ..operators import flatten_nested_metrics, nest_records  # noqa: E402


def n2_flatten_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-metrics converter round trip: build array<struct> age-band
    cells per (user, date) with nest_records (A11), then flatten them
    back to flat suffixed metrics (main_etl_nested_metrics_converter
    semantics) — proving the typed nested cells survive a full
    nest -> flatten cycle. Narrow after the nesting groupBy: the flatten
    itself never shuffles."""
    ev = load_table(spark, sf_dir, "events")
    per_band = ev.groupBy(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        F.col("event_type").alias("age"),
    ).agg(F.count(F.lit(1)).cast("double").alias("nEvents"))
    nested = nest_records(
        per_band,
        group_keys=["user_id", "date"],
        record_cols=["age", "nEvents"],
        out="payload",
        sort_key="age",
    )
    flat = flatten_nested_metrics(
        nested,
        {"click": ["nEvents"], "error": ["nEvents"]},
    )
    return flat.select("user_id", "date", "metric", "value")


N2_SQL = """
SELECT user_id, strftime(ts, '%Y-%m-%d') AS date,
       'nEvents' || event_type AS metric,
       CAST(COUNT(*) AS DOUBLE) AS value
FROM events
WHERE event_type IN ('click', 'error')
GROUP BY 1, 2, 3
"""

QUERIES["n2_flatten_nested"] = n2_flatten_nested
ORACLE["n2_flatten_nested"] = N2_SQL


# --------------------------------------------------------------------------
# N3/N4 — nested age-array row math (db_etl/etl.py:678-799)
# --------------------------------------------------------------------------

def _age_panel(spark: SparkSession, sf_dir: str):
    """Per (areaCode, date, age-band) pair panel + population dim built
    from events: side a = value sum over even users, side b = over odd
    users (either may be empty -> coalesced to exact-decimal zero)."""
    from ..operators.agearrays import calculate_pair_tested  # noqa: F401

    ev = load_table(spark, sf_dir, "events")
    age = (F.col("user_id") % 3).cast("string").alias("age")
    zero = F.lit(0).cast(DEC)
    base = ev.groupBy(
        F.col("event_type").alias("areaCode"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        age,
    ).agg(
        F.coalesce(
            F.sum(F.when(F.col("user_id") % 2 == 0, F.col("value")).cast(DEC)), zero
        ).alias("a"),
        F.coalesce(
            F.sum(F.when(F.col("user_id") % 2 == 1, F.col("value")).cast(DEC)), zero
        ).alias("b"),
    )
    pop = ev.groupBy(
        F.col("event_type").alias("areaCode"),
        (F.col("user_id") % 3).cast("string").alias("age"),
    ).agg(F.countDistinct("user_id").alias("population"))
    return base, pop


def n3_pair_tested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """calculate_pair_tested (db_etl/etl.py:760-799): element-wise sum of
    two nested age arrays + rate per 100k against the per-(area, age)
    population dim — zip_with/withField HOFs over typed array<struct>
    cells, population as a broadcast map<age, pop>. Exploded back to
    flat rows for the oracle."""
    from ..operators.agearrays import calculate_pair_tested

    base, pop = _age_panel(spark, sf_dir)
    nested = base.groupBy("areaCode", "date").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("age"), F.col("a").alias("value")))
        ).alias("sideA"),
        F.sort_array(
            F.collect_list(F.struct(F.col("age"), F.col("b").alias("value")))
        ).alias("sideB"),
    )
    paired = calculate_pair_tested(
        nested, ("sideA", "sideB"), "pairTested", population=pop, precision=None
    )
    e = F.explode("pairTested").alias("e")
    return paired.select("areaCode", "date", e).select(
        "areaCode",
        "date",
        F.col("e.age").alias("age"),
        F.col("e.value").cast("double").alias("pair_value"),
        F.col("e.rate").alias("pair_rate"),
    )


N3_SQL = """
WITH base AS (
    SELECT event_type AS areaCode, strftime(ts, '%Y-%m-%d') AS date,
           CAST(user_id % 3 AS VARCHAR) AS age,
           COALESCE(SUM(CASE WHEN user_id % 2 = 0
                             THEN CAST(value AS DECIMAL(18,6)) END), 0) AS a,
           COALESCE(SUM(CASE WHEN user_id % 2 = 1
                             THEN CAST(value AS DECIMAL(18,6)) END), 0) AS b
    FROM events GROUP BY 1, 2, 3
),
pop AS (
    SELECT event_type AS areaCode, CAST(user_id % 3 AS VARCHAR) AS age,
           COUNT(DISTINCT user_id) AS population
    FROM events GROUP BY 1, 2
)
SELECT base.areaCode, base.date, base.age,
       CAST(a + b AS DOUBLE) AS pair_value,
       CAST(a + b AS DOUBLE) / population * 100000 AS pair_rate
FROM base JOIN pop ON base.areaCode = pop.areaCode AND base.age = pop.age
"""


def n4_age_rate_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """process_outlier rate enrichment (db_etl/etl.py:678-711): nest per
    (area, date) age cells with nest_records, then add rate = value /
    population[age] * 100k to every entry via transform + withField over
    the broadcast population map. Exploded for the oracle."""
    from ..operators.agearrays import enrich_nested_rates

    base, pop = _age_panel(spark, sf_dir)
    per_age = base.select(
        "areaCode", "date", "age", (F.col("a") + F.col("b")).alias("value")
    )
    nested = nest_records(
        per_age,
        group_keys=["areaCode", "date"],
        record_cols=["age", "value"],
        out="cell",
        sort_key="age",
    )
    enriched = enrich_nested_rates(nested, "cell", pop, precision=None)
    e = F.explode("cell").alias("e")
    return enriched.select("areaCode", "date", e).select(
        "areaCode",
        "date",
        F.col("e.age").alias("age"),
        F.col("e.value").cast("double").alias("value"),
        F.col("e.rate").alias("rate"),
    )


N4_SQL = """
WITH base AS (
    SELECT event_type AS areaCode, strftime(ts, '%Y-%m-%d') AS date,
           CAST(user_id % 3 AS VARCHAR) AS age,
           COALESCE(SUM(CASE WHEN user_id % 2 = 0
                             THEN CAST(value AS DECIMAL(18,6)) END), 0)
         + COALESCE(SUM(CASE WHEN user_id % 2 = 1
                             THEN CAST(value AS DECIMAL(18,6)) END), 0) AS value
    FROM events GROUP BY 1, 2, 3
),
pop AS (
    SELECT event_type AS areaCode, CAST(user_id % 3 AS VARCHAR) AS age,
           COUNT(DISTINCT user_id) AS population
    FROM events GROUP BY 1, 2
)
SELECT base.areaCode, base.date, base.age,
       CAST(value AS DOUBLE) AS value,
       CAST(value AS DOUBLE) / population * 100000 AS rate
FROM base JOIN pop ON base.areaCode = pop.areaCode AND base.age = pop.age
"""

QUERIES["n3_pair_tested"] = n3_pair_tested
ORACLE["n3_pair_tested"] = N3_SQL
QUERIES["n4_age_rate_enrich"] = n4_age_rate_enrich
ORACLE["n4_age_rate_enrich"] = N4_SQL


# --------------------------------------------------------------------------
# PIPE3 — composed MSOA pipeline, suppressed + dry-run (msoa_etl_db)
# --------------------------------------------------------------------------

def _msoa_inputs(spark: SparkSession, sf_dir: str):
    """29 synthetic MSOA areas from purchase events: per-(area, day)
    case counts + a per-area population dim."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    area = F.concat(F.lit("M"), (F.col("user_id") % 29)).alias("areaCode")
    cases = ev.groupBy(
        area, F.date_format("ts", "yyyy-MM-dd").alias("date")
    ).agg(F.count("*").cast("double").alias("newCasesBySpecimenDate"))
    pop = ev.groupBy(
        F.concat(F.lit("M"), (F.col("user_id") % 29)).alias("areaCode")
    ).agg(F.countDistinct("user_id").alias("population"))
    return cases, pop


_MSOA_RELEASE_TS = "2024-02-02"  # anchor -5d = 2024-01-28 weekly grid


def _pipe3(spark: SparkSession, sf_dir: str, suppress: bool) -> DataFrame:
    from .msoa_pipeline import run_msoa

    cases, pop = _msoa_inputs(spark, sf_dir)
    out = run_msoa(
        cases,
        pop,
        release_timestamp=_MSOA_RELEASE_TS,
        suppress=suppress,
        pct_precision=None,
        rate_precision=None,
    )
    m = "newCasesBySpecimenDate"
    return out.select(
        "area_code",
        "date",
        F.col(f"{m}RollingSum").cast("double").alias("rsum"),
        F.col(f"{m}Change").cast("double").alias("chg"),
        F.col(f"{m}Direction").alias("direction"),
        F.col(f"{m}ChangePercentage").alias("pct"),
        F.col(f"{m}RollingRate").alias("rate"),
    )


def pipe3_msoa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed EP3 (msoa_etl_db/processor.py:267-298): densify ->
    small-count substitution inside the rolling family -> rate on the
    substituted sum -> threshold suppression -> weekly grid thinning.
    One window exchange + one broadcast join end to end."""
    return _pipe3(spark, sf_dir, suppress=True)


def pipe3b_msoa_dryrun(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 dry-run variant (processor.py:238-264): same chain with the
    disclosure-control branches off — QA output parity."""
    return _pipe3(spark, sf_dir, suppress=False)


def _pipe3_sql(suppress: bool) -> str:
    if suppress:
        rsum0 = """CASE WHEN COUNT(cases) OVER w7 = 7 THEN
               CASE WHEN SUM(cases) OVER w7 < 3 THEN 2.0
                    ELSE CAST(SUM(cases) OVER w7 AS DOUBLE) END END"""
        post = """
r5 AS (
    SELECT area_code, date,
           CASE WHEN rsum = 2.0 THEN NULL ELSE cases END AS cases,
           CASE WHEN rsum = 2.0 THEN NULL ELSE rsum END AS rsum,
           CASE WHEN rsum = 2.0 THEN NULL ELSE chg END AS chg,
           CASE WHEN rsum = 2.0 THEN NULL ELSE direction END AS direction,
           CASE WHEN rsum = 2.0 THEN NULL ELSE pct END AS pct
    FROM r4
),
r6 AS (
    SELECT r5.area_code, date,
           CASE WHEN rsum IS NULL OR rsum <= 2 THEN NULL ELSE rsum END AS rsum,
           CASE WHEN rsum IS NULL OR rsum <= 2 THEN NULL ELSE chg END AS chg,
           CASE WHEN rsum IS NULL OR rsum <= 2 THEN NULL
                ELSE direction END AS direction,
           CASE WHEN rsum IS NULL OR rsum <= 2 THEN NULL ELSE pct END AS pct,
           CASE WHEN rsum IS NULL OR rsum <= 2 THEN NULL
                ELSE rsum / population * 100000 END AS rate
    FROM r5 JOIN pop ON r5.area_code = pop.area_code
)"""
    else:
        rsum0 = """CASE WHEN COUNT(cases) OVER w7 = 7
               THEN CAST(SUM(cases) OVER w7 AS DOUBLE) END"""
        post = """
r6 AS (
    SELECT r4.area_code, date, rsum, chg, direction, pct,
           rsum / population * 100000 AS rate
    FROM r4 JOIN pop ON r4.area_code = pop.area_code
)"""
    return f"""
WITH cases AS (
    SELECT 'M' || (user_id % 29) AS area_code, strftime(ts, '%Y-%m-%d') AS date,
           CAST(COUNT(*) AS DOUBLE) AS c
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
pop AS (
    SELECT 'M' || (user_id % 29) AS area_code,
           COUNT(DISTINCT user_id) AS population
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
bounds AS (SELECT MIN(date)::DATE AS lo, MAX(date)::DATE AS hi FROM cases),
dates AS (
    SELECT strftime(d, '%Y-%m-%d') AS date
    FROM (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
          FROM bounds)
),
areas AS (
    -- each area's series begins at its OWN first observed date
    -- (reference get_dataset pads only trailing dates) — the global
    -- scaffold is bounded below per area
    SELECT area_code, MIN(date) AS area_min FROM cases GROUP BY 1
),
panel AS (
    SELECT a.area_code, d.date, COALESCE(c.c, 0.0) AS cases
    FROM areas a CROSS JOIN dates d
    LEFT JOIN cases c ON c.area_code = a.area_code AND c.date = d.date
    WHERE d.date >= a.area_min
),
r1 AS (
    SELECT area_code, date, cases,
           {rsum0} AS rsum0
    FROM panel
    WINDOW w7 AS (PARTITION BY area_code ORDER BY date
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
r2 AS (
    SELECT area_code, date, cases,
           CASE WHEN SUM(rsum0) OVER (PARTITION BY area_code) = 0
                THEN NULL ELSE rsum0 END AS rsum
    FROM r1
),
r3 AS (
    SELECT area_code, date, cases, rsum,
           rsum - LAG(rsum, 7) OVER w AS chg,
           LAG(rsum, 7) OVER w AS prev,
           COUNT(rsum) OVER (PARTITION BY area_code ORDER BY date
                             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS nvis
    FROM r2
    WINDOW w AS (PARTITION BY area_code ORDER BY date)
),
r4 AS (
    SELECT area_code, date, cases, rsum, chg,
           CASE WHEN chg < 0 THEN 'DOWN' WHEN chg > 0 THEN 'UP'
                WHEN chg = 0 THEN 'SAME' END AS direction,
           CASE WHEN nvis = 8 THEN
               CASE WHEN rsum = 0 AND prev > 0 THEN -100.0
                    WHEN rsum / (CASE WHEN prev <> 0 THEN prev ELSE 1 END) - 1 = -1
                         THEN 0.0
                    ELSE (rsum / (CASE WHEN prev <> 0 THEN prev ELSE 1 END) - 1)
                         * 100 END
           END AS pct
    FROM r3
),{post}
SELECT area_code, date, rsum, chg, direction, pct, rate
FROM r6
WHERE (DATE '2024-01-28' - date::DATE) % 7 = 0
  AND date::DATE <= DATE '2024-01-28'
"""


QUERIES["pipe3_msoa"] = pipe3_msoa
ORACLE["pipe3_msoa"] = _pipe3_sql(True)
QUERIES["pipe3b_msoa_dryrun"] = pipe3b_msoa_dryrun
ORACLE["pipe3b_msoa_dryrun"] = _pipe3_sql(False)


# --------------------------------------------------------------------------
# X1-X5 — corpus curation (contamination, sampling, vocab, repetition,
# embedding normalise/quantise)
# --------------------------------------------------------------------------

def _shingle_sql(n: int, toks: str = "string_split(text, ' ')") -> str:
    """DuckDB word n-grams matching functions.curation.word_shingles."""
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> array_to_string(({toks})[i:i+{n}-1], ' ')) "
        "ELSE CAST([] AS VARCHAR[]) END"
    )


def x1_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag docs sharing any 8-word shingle
    with the benchmark subset (doc_id % 97 == 0). Benchmark shingles
    broadcast; corpus explode is map-side; one shuffle for hit counts."""
    from ..functions.curation import contamination_check

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = contamination_check(docs, bench, n=8)
    return out.select(
        "doc_id",
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        "contaminated",
    )


X1_SQL = f"""
WITH sh AS (
    SELECT doc_id, {_shingle_sql(8)} AS shingles FROM documents
),
bench AS (
    SELECT DISTINCT UNNEST(shingles) AS shingle FROM sh WHERE doc_id % 97 = 0
),
corpus AS (
    SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
),
hits AS (
    SELECT doc_id, COUNT(DISTINCT corpus.shingle) AS n
    FROM corpus JOIN bench ON corpus.shingle = bench.shingle
    GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(n, 0) AS n_contaminated, COALESCE(n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
"""

# DuckDB md5-bucket matching functions.curation.sample_bucket
def _bucket_sql(x: str) -> str:
    return (
        "(list_reduce(list_transform(string_split(substr(md5(" + x + "),1,15), ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16+b) "
        "% 10000)"
    )


def x2_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: md5-bucket keep decision per
    lang stratum — reproducible across engines and re-runs (no sampling
    seeds), pure row filter."""
    from ..functions.curation import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        {"en": 0.5, "de": 0.25},
        stratum_col="lang",
        default_fraction=0.1,
    )
    return out.select("doc_id", "lang")


X2_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE {_bucket_sql("CAST(doc_id AS VARCHAR)")} <
      CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END
"""


def x3_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top 50 tokens by document frequency (ties by
    token); map-side partial aggregation, sort only on the aggregated
    side."""
    from ..functions.curation import vocab_topk

    docs = load_table(spark, sf_dir, "documents")
    return vocab_topk(docs, k=50)


X3_SQL = """
SELECT token, doc_freq, total_freq FROM (
    SELECT token, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS total_freq
    FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
)
ORDER BY doc_freq DESC, token ASC
LIMIT 50
"""


def x4_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-token and duplicate-
    3-gram fractions, per-row array expressions only."""
    from ..functions.curation import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs).select(
        "doc_id", "dup_token_ratio", "dup_3gram_ratio"
    )


X4_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           {_shingle_sql(3)} AS sh3
    FROM documents
)
SELECT doc_id,
       CASE WHEN len(toks) > 0
            THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
            ELSE 0.0 END AS dup_token_ratio,
       CASE WHEN len(sh3) > 0
            THEN 1.0 - CAST(len(list_distinct(sh3)) AS DOUBLE) / len(sh3)
            ELSE 0.0 END AS dup_3gram_ratio
FROM t
"""


def x5_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding normalise + int8 quantise: L2 norm, symmetric scale,
    and exact integer checks (sum + first element) over the quantised
    vector — elementwise HOFs, sequential folds matching the oracle's
    evaluation order bit-for-bit."""
    from ..functions.curation import normalize_embeddings, quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    q = quantize_embeddings(emb, "embedding")
    normed = normalize_embeddings(q, "embedding", out="unit")
    unit_norm = F.sqrt(
        F.aggregate(F.col("unit"), F.lit(0.0), lambda a, x: a + x * x)
    )
    return normed.select(
        "vec_id",
        norm.alias("l2norm"),
        F.col("embedding_q_scale").alias("scale"),
        F.aggregate(
            "embedding_q", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("q_sum"),
        F.element_at("embedding_q", 1).alias("q_first"),
        F.round(unit_norm, 9).alias("unit_norm"),
    )


X5_SQL = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
    FROM embeddings
),
s AS (
    SELECT vec_id, vd,
           sqrt(list_reduce(list_prepend(0.0, list_transform(vd, x -> x*x)),
                            (a,b) -> a+b)) AS l2norm,
           list_reduce(list_prepend(0.0, list_transform(vd, x -> abs(x))),
                       (a,b) -> CASE WHEN b > a THEN b ELSE a END) AS amax
    FROM v
),
q AS (
    SELECT vec_id, vd, l2norm,
           CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END AS scale
    FROM s
)
SELECT vec_id, l2norm, scale,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(vd, x -> CAST(FLOOR(x * scale + 0.5) AS BIGINT))),
           (a,b) -> a+b) AS q_sum,
       CAST(FLOOR(vd[1] * scale + 0.5) AS INTEGER) AS q_first,
       ROUND(CASE WHEN l2norm > 0
             THEN sqrt(list_reduce(list_prepend(0.0,
                  list_transform(vd, x -> (x/l2norm)*(x/l2norm))), (a,b) -> a+b))
             ELSE 0.0 END, 9) AS unit_norm
FROM q
"""

QUERIES["x1_contamination"] = x1_contamination
ORACLE["x1_contamination"] = X1_SQL
QUERIES["x2_stratified_sample"] = x2_stratified_sample
ORACLE["x2_stratified_sample"] = X2_SQL
QUERIES["x3_vocab_topk"] = x3_vocab_topk
ORACLE["x3_vocab_topk"] = X3_SQL
QUERIES["x4_repetition"] = x4_repetition
ORACLE["x4_repetition"] = X4_SQL
QUERIES["x5_embed_quantize"] = x5_embed_quantize
ORACLE["x5_embed_quantize"] = X5_SQL


def pipe4_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline a training-data prep job runs
    AFTER cleaning (pipe1): repetition filter -> benchmark
    decontamination -> reproducible stratified downsample. Everything
    except the contamination hit-count is a narrow row filter; the
    benchmark side broadcasts."""
    from ..functions.curation import (
        contamination_check,
        repetition_stats,
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    rep = repetition_stats(docs).filter(F.col("dup_token_ratio") <= 0.3)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    cont = contamination_check(rep, bench, n=8)
    clean = rep.join(
        cont.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
    )
    sampled = stratified_sample(clean, {"en": 0.5}, default_fraction=0.2)
    return sampled.select("doc_id", "lang", "dup_token_ratio")


PIPE4_SQL = f"""
WITH rep AS (
    SELECT doc_id, lang, text,
           CASE WHEN len(string_split(text, ' ')) > 0
                THEN 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' '))
                ELSE 0.0 END AS dup_token_ratio
    FROM documents
),
kept AS (SELECT * FROM rep WHERE dup_token_ratio <= 0.3),
sh AS (
    SELECT doc_id, {_shingle_sql(8)} AS shingles FROM documents
),
bench AS (
    SELECT DISTINCT UNNEST(shingles) AS shingle FROM sh WHERE doc_id % 97 = 0
),
contaminated AS (
    SELECT DISTINCT k.doc_id
    FROM kept k
    JOIN sh ON sh.doc_id = k.doc_id
    JOIN bench ON list_contains(sh.shingles, bench.shingle)
),
clean AS (
    SELECT k.* FROM kept k
    WHERE k.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT doc_id, lang, dup_token_ratio FROM clean
WHERE {_bucket_sql("CAST(doc_id AS VARCHAR)")} <
      CASE lang WHEN 'en' THEN 5000 ELSE 2000 END
"""

QUERIES["pipe4_training_data"] = pipe4_training_data
ORACLE["pipe4_training_data"] = PIPE4_SQL


def st1_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window counts (§2.9): window() is an ordinary
    grouping expression in batch, so the SAME function that runs
    watermarked on a stream is oracle-checked here in batch mode."""
    from ..streaming.windows import windowed_event_counts

    ev = load_table(spark, sf_dir, "events")
    return windowed_event_counts(
        ev, group_cols=("event_type",), window_duration="1 hour", value_col=None
    )


ST1_SQL = """
SELECT event_type,
       strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour',
                '%Y-%m-%d %H:%M:%S') AS window_end,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2, 3
"""

QUERIES["st1_windowed_counts"] = st1_windowed_counts
ORACLE["st1_windowed_counts"] = ST1_SQL


def pipe2b_process_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUBLIC EP1 API oracle-checked end to end: process_panel()
    itself — densify, bounded zero-fill + ffill, negative clip, rate
    family (0-coerced leading windows, global-last tail), rolling
    change family REUSING the rate path's sums, incidence rate, 5-day
    tail trim — on a two-metric panel with planted gaps."""
    from ..config import MetricConfig
    from .main_pipeline import process_panel

    ev = load_table(spark, sf_dir, "events")
    day = F.dayofmonth(F.to_date(F.date_format("ts", "yyyy-MM-dd")))
    base = ev.groupBy(
        F.col("event_type").alias("areaCode"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
    ).agg(
        F.count("*").cast("double").alias("cases_full"),
        F.countDistinct("user_id").cast("double").alias("cum_raw"),
    )
    d = F.substring("date", 9, 2).cast("int")
    panel = base.select(
        F.lit("et").alias("areaType"),
        "areaCode",
        F.upper("areaCode").alias("areaName"),
        "date",
        F.when(d % 5 != 0, F.col("cases_full")).alias("cases"),
        F.when(d % 7 != 3, F.col("cum_raw")).alias("cumCases"),
    )
    pop = ev.groupBy(F.col("event_type").alias("areaCode")).agg(
        F.countDistinct("user_id").alias("population")
    )
    cfg = MetricConfig(
        sum_change_direction=frozenset({"cases"}),
        rolling_rate=frozenset({"cases"}),
        incidence_rate=frozenset({"cumCases"}),
        negative_to_zero=frozenset({"cases"}),
        fill_with_zeros=frozenset({"cases"}),
        start_with_zero=frozenset({"cumCases"}),
        trim_end=frozenset({"cases"}),
    )
    out = process_panel(
        panel, pop, cfg, pct_precision=None, rate_precision=None
    )
    return out.select(
        "areaCode",
        "date",
        F.col("cases").cast("double").alias("cases"),
        F.col("casesRollingSum").cast("double").alias("rsum"),
        F.col("casesRollingRate").alias("rrate"),
        F.col("casesChange").cast("double").alias("chg"),
        F.col("casesDirection").alias("direction"),
        F.col("casesChangePercentage").alias("pct"),
        F.col("cumCases").cast("double").alias("cum"),
        F.col("cumCasesRate").alias("cum_rate"),
    )


PIPE2B_SQL = """
WITH base AS (
    SELECT event_type AS areaCode, strftime(ts, '%Y-%m-%d') AS date,
           CAST(COUNT(*) AS DOUBLE) AS cases_full,
           CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS cum_raw
    FROM events GROUP BY 1, 2
),
sparse AS (
    SELECT areaCode, date,
           CASE WHEN CAST(substr(date, 9, 2) AS INT) % 5 <> 0
                THEN cases_full END AS cases,
           CASE WHEN CAST(substr(date, 9, 2) AS INT) % 7 <> 3
                THEN cum_raw END AS cum
    FROM base
),
pop AS (
    SELECT event_type AS areaCode, COUNT(DISTINCT user_id) AS population
    FROM events GROUP BY 1
),
bounds AS (SELECT MIN(date)::DATE lo, MAX(date)::DATE hi FROM sparse),
dates AS (
    SELECT strftime(dd, '%Y-%m-%d') AS date
    FROM (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE dd
          FROM bounds)
),
areas AS (SELECT DISTINCT areaCode FROM sparse),
dense AS (
    SELECT a.areaCode, d.date, s.cases, s.cum
    FROM areas a CROSS JOIN dates d
    LEFT JOIN sparse s ON s.areaCode = a.areaCode AND s.date = d.date
),
b AS (
    SELECT areaCode, date, cases, cum,
           MIN(CASE WHEN cases IS NOT NULL THEN date END) OVER wa AS lo_c,
           MAX(CASE WHEN cases IS NOT NULL THEN date END) OVER wa AS hi_c,
           MIN(CASE WHEN cum IS NOT NULL THEN date END) OVER wa AS lo_m,
           MAX(CASE WHEN cum IS NOT NULL THEN date END) OVER wa AS hi_m
    FROM dense WINDOW wa AS (PARTITION BY areaCode)
),
filled AS (
    SELECT areaCode, date,
           -- DuckDB GREATEST ignores NULLs, so guard the negative clip
           -- explicitly (counts are never negative anyway)
           CASE WHEN cases IS NULL AND date >= lo_c AND date < hi_c THEN 0.0
                WHEN cases < 0 THEN 0.0
                ELSE cases END AS cases,
           CASE WHEN cum IS NULL AND date >= lo_m AND date < hi_m
                THEN last_value(cum IGNORE NULLS) OVER
                     (PARTITION BY areaCode ORDER BY date
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                ELSE cum END AS cum
    FROM b
),
r AS (
    SELECT areaCode, date, cases, cum,
           COALESCE(CASE WHEN COUNT(cases) OVER w7 = 7
                         THEN SUM(cases) OVER w7 END, 0.0) AS rsum0
    FROM filled
    WINDOW w7 AS (PARTITION BY areaCode ORDER BY date
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
lastv AS (SELECT MAX(CASE WHEN cases IS NOT NULL THEN date END) AS last_c FROM filled),
rm AS (
    SELECT r.areaCode, r.date, r.cases, r.cum,
           CASE WHEN r.date > last_c THEN NULL ELSE rsum0 END AS rsum0m,
           CASE WHEN r.date > last_c THEN NULL
                ELSE rsum0 / population * 100000 END AS rrate0,
           r.cum / population * 100000 AS cum_rate
    FROM r, lastv
    JOIN pop ON r.areaCode = pop.areaCode
),
z AS (
    SELECT *, CASE WHEN SUM(rsum0m) OVER (PARTITION BY areaCode) = 0
                   THEN NULL ELSE rsum0m END AS rsum1
    FROM rm
),
c AS (
    SELECT *,
           rsum1 - LAG(rsum1, 7) OVER w AS chg0,
           LAG(rsum1, 7) OVER w AS prev,
           COUNT(rsum1) OVER (PARTITION BY areaCode ORDER BY date
                              ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS n8
    FROM z WINDOW w AS (PARTITION BY areaCode ORDER BY date)
),
fam AS (
    SELECT areaCode, date, cases, cum, cum_rate,
           CASE WHEN cases IS NULL THEN NULL ELSE rsum1 END AS rsum,
           CASE WHEN cases IS NULL THEN NULL ELSE rrate0 END AS rrate,
           CASE WHEN cases IS NULL THEN NULL ELSE chg0 END AS chg,
           CASE WHEN cases IS NULL THEN NULL
                WHEN chg0 < 0 THEN 'DOWN' WHEN chg0 > 0 THEN 'UP'
                WHEN chg0 = 0 THEN 'SAME' END AS direction,
           CASE WHEN cases IS NULL THEN NULL
                WHEN n8 = 8 THEN
                    CASE WHEN rsum1 = 0 AND prev > 0 THEN -100.0
                         WHEN rsum1 / (CASE WHEN prev <> 0 THEN prev ELSE 1 END) - 1 = -1
                              THEN 0.0
                         ELSE (rsum1 / (CASE WHEN prev <> 0 THEN prev ELSE 1 END) - 1)
                              * 100 END
           END AS pct
    FROM c
),
mx AS (SELECT MAX(date)::DATE AS maxd FROM fam)
SELECT areaCode, date,
       CASE WHEN date::DATE <= maxd - 5 THEN cases END AS cases,
       rsum, rrate, chg, direction, pct, cum, cum_rate
FROM fam, mx
"""

QUERIES["pipe2b_process_panel"] = pipe2b_process_panel
ORACLE["pipe2b_process_panel"] = PIPE2B_SQL


def pipe5_demographics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUBLIC EP2 API oracle-checked end to end: run_demographics()
    itself — per-(area, date, age-band) scaffold densify, blanket
    zero-fill, per-band rolling rate against the (area, age) population
    dim, and the sorted array<struct> nesting — exploded back to flat
    rows for the oracle."""
    from .demographics_pipeline import run_demographics

    ev = load_table(spark, sf_dir, "events")
    data = ev.groupBy(
        F.col("event_type").alias("areaCode"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        (F.col("user_id") % 3).cast("string").alias("age"),
    ).agg(F.count("*").cast("double").alias("value"))
    data = data.select(
        F.lit("et").alias("areaType"),
        "areaCode",
        F.upper("areaCode").alias("areaName"),
        "date",
        "age",
        # planted gaps: the scaffold + zero-fill must repair these
        F.when(F.substring("date", 9, 2).cast("int") % 6 != 0, F.col("value")).alias(
            "value"
        ),
    )
    pop = ev.groupBy(
        F.col("event_type").alias("areaCode"),
        (F.col("user_id") % 3).cast("string").alias("age"),
    ).agg(F.countDistinct("user_id").alias("population"))
    out = run_demographics(
        data,
        nesting_param="age",
        value_metrics=["value"],
        out_col="ageDemographics",
        population=pop,
        rolling_rate=["value"],
        zero_filled=["value"],
        rate_precision=None,
    )
    e = F.explode("ageDemographics").alias("e")
    return out.select("areaCode", "date", e).select(
        "areaCode",
        "date",
        F.col("e.age").alias("age"),
        F.col("e.value").cast("double").alias("value"),
        F.col("e.valueRollingSum").cast("double").alias("rsum"),
        F.col("e.valueRollingRate").alias("rrate"),
    )


PIPE5_SQL = """
WITH data AS (
    SELECT event_type AS areaCode, strftime(ts, '%Y-%m-%d') AS date,
           CAST(user_id % 3 AS VARCHAR) AS age,
           CASE WHEN CAST(substr(strftime(ts, '%Y-%m-%d'), 9, 2) AS INT) % 6 <> 0
                THEN CAST(COUNT(*) AS DOUBLE) END AS value
    FROM events GROUP BY 1, 2, 3
),
pop AS (
    SELECT event_type AS areaCode, CAST(user_id % 3 AS VARCHAR) AS age,
           COUNT(DISTINCT user_id) AS population
    FROM events GROUP BY 1, 2
),
-- per-AREA spans and band sets (span="group"): the reference runs one
-- chunk per area, so the scaffold never extends past an area's own
-- first/last observed date or invents bands the area never reported
spans AS (SELECT areaCode, MIN(date)::DATE lo, MAX(date)::DATE hi
          FROM data GROUP BY 1),
dates AS (
    SELECT areaCode, strftime(dd, '%Y-%m-%d') AS date FROM (
        SELECT areaCode,
               UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS dd
        FROM spans
    )
),
bands AS (SELECT DISTINCT areaCode, age FROM data),
dense AS (
    SELECT b.areaCode, b.age, d.date, COALESCE(s.value, 0.0) AS value
    FROM bands b JOIN dates d ON d.areaCode = b.areaCode
    LEFT JOIN data s
      ON s.areaCode = b.areaCode AND s.age = b.age AND s.date = d.date
),
r AS (
    SELECT areaCode, age, date, value,
           COALESCE(CASE WHEN COUNT(value) OVER w7 = 7
                         THEN SUM(value) OVER w7 END, 0.0) AS rsum
    FROM dense
    WINDOW w7 AS (PARTITION BY areaCode, age ORDER BY date
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT r.areaCode, date, r.age, value, rsum,
       rsum / population * 100000 AS rrate
FROM r JOIN pop ON r.areaCode = pop.areaCode AND r.age = pop.age
"""

QUERIES["pipe5_demographics"] = pipe5_demographics
ORACLE["pipe5_demographics"] = PIPE5_SQL


from ..functions import pii_counts, scrub_pii  # noqa: E402


def t6_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the documents table (emails, IPv4, phone
    numbers -> typed placeholders) with per-kind audit counts — the
    pre-training scrub pass. Deterministic PII is injected per doc so
    the gate exercises every pattern on every row; patterns live in the
    RE2 ∩ Java common subset so the DuckDB oracle replays the scrub
    byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel +4470090"),
            (F.col("doc_id") % 1000).cast("string"),
        ).alias("text"),
    )
    counts = pii_counts("text")
    return injected.select(
        "doc_id",
        scrub_pii("text").alias("scrubbed"),
        *[c.cast("long").alias(k) for k, c in counts.items()],
    )


T6_SQL = r"""
WITH inj AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail.example.com or 10.0.'
                || CAST(doc_id % 256 AS VARCHAR)
                || '.7 tel +4470090' || CAST(doc_id % 1000 AS VARCHAR) AS text
    FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
           '\+[0-9]{7,15}', '<PHONE>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '\+[0-9]{7,15}')) AS BIGINT) AS n_phone
FROM inj
"""

QUERIES["t6_pii_scrub"] = t6_pii_scrub
ORACLE["t6_pii_scrub"] = T6_SQL


from ..functions.dedup import simhash_candidate_pairs  # noqa: E402


def d4b_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs (Hamming <= 3 over 32-bit
    signatures, 4 x 8-bit band chunks) — the scale path for SimHash:
    pigeonhole makes recall exact at max_hamming = bands - 1."""
    # spread the per-doc signature compute: the test corpus is one
    # small parquet file (one scan partition); at real scale the scan
    # is already split and this repartition is a cheap linear shuffle
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sigs = simhash(docs)
    return simhash_candidate_pairs(sigs)


D4B_SQL = f"""
WITH s AS ({D4_SQL.strip()}),
b AS (
    SELECT doc_id, simhash, unnest(range(0, 4)) AS band FROM s
),
bb AS (
    SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS sig FROM b
),
p AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
           l.simhash AS ha, r.simhash AS hb
    FROM bb l JOIN bb r
      ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM p
WHERE bit_count(xor(ha, hb)) <= 3
"""

QUERIES["d4b_simhash_pairs"] = d4b_simhash_pairs
ORACLE["d4b_simhash_pairs"] = D4B_SQL


from ..functions import remove_boilerplate_lines  # noqa: E402


def x6_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate line removal over the documents table. The
    corpus has no line structure, so the gate injects it: every doc gets
    a shared newsletter line (boilerplate by construction, df = |corpus|)
    and a unique per-doc line; the operator must strip exactly the shared
    line and preserve original line order."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nSubscribe To Our Newsletter \ndoc "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return remove_boilerplate_lines(injected, min_docs=10)


X6_SQL = r"""
WITH inj AS (
    SELECT doc_id,
           text || chr(10) || 'Subscribe To Our Newsletter ' || chr(10)
                || 'doc ' || CAST(doc_id AS VARCHAR) AS text
    FROM documents
),
ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM inj),
lines AS (
    SELECT doc_id, l[i] AS line, i AS pos,
           md5(trim(lower(l[i]))) AS fp
    FROM ls, (SELECT unnest(range(1, len(l) + 1)) AS i)
),
boiler AS (
    SELECT fp FROM lines GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 10
),
kept AS (SELECT * FROM lines WHERE fp NOT IN (SELECT fp FROM boiler))
SELECT doc_id,
       array_to_string(list(line ORDER BY pos), chr(10)) AS text,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM kept GROUP BY doc_id
"""

QUERIES["x6_boilerplate_removal"] = x6_boilerplate_removal
ORACLE["x6_boilerplate_removal"] = X6_SQL


from .serving import map_layer_features  # noqa: E402


def g1_map_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geojson map-layer features: per (date, area) properties/geometry
    JSON objects for the despatch map worker, over the mini star plus a
    synthetic point-geometry dim."""
    ts, areas, metrics = _mini_star(spark, sf_dir)
    geo = spark.range(5).select(
        F.col("id").alias("area_id"),
        F.lit("Point").alias("geometry_type"),
        F.array(
            (F.col("id") * 10).cast("long"), (F.col("id") * 20).cast("long")
        ).alias("coordinates"),
    )
    return map_layer_features(
        ts, areas, metrics, geo, metric="click", area_type="nation"
    )


G1_SQL = f"""
WITH {_MINI_STAR_SQL},
geo AS (
    SELECT CAST(area_id AS BIGINT) AS area_id, 'Point' AS geometry_type,
           [CAST(area_id * 10 AS BIGINT), CAST(area_id * 20 AS BIGINT)] AS coordinates
    FROM range(5) AS t(area_id)
),
scoped AS (
    SELECT l.*, MAX(CAST(date AS DATE)) OVER () AS mx
    FROM long l WHERE metric = 'click' AND v IS NOT NULL
)
SELECT date,
       CAST(to_json(struct_pack(
           date := date,
           code := 'A' || CAST(s.area_id AS VARCHAR),
           value := v)) AS VARCHAR) AS properties,
       CAST(to_json(struct_pack(
           type := geometry_type,
           coordinates := coordinates)) AS VARCHAR) AS geometry
FROM scoped s LEFT JOIN geo g ON g.area_id = s.area_id
WHERE date_diff('day', CAST(date AS DATE), mx) < 183
"""

QUERIES["g1_map_features"] = g1_map_features
ORACLE["g1_map_features"] = G1_SQL


from ..functions import bpe_token_stats  # noqa: E402


def t7_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pretoken counting (letter/digit/punctuation runs) next to
    whitespace word counts — the token-budget pass. PII-style markers are
    injected so digit and punctuation runs are exercised on every row."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" v1.2-beta #"),
            F.col("doc_id").cast("string"),
            F.lit(" (2024)"),
        ).alias("text"),
    )
    return bpe_token_stats(injected).select(
        "doc_id", "n_bpe_tokens", "n_ws_tokens", "fragmentation"
    )


T7_SQL = r"""
WITH inj AS (
    SELECT doc_id,
           text || ' v1.2-beta #' || CAST(doc_id AS VARCHAR) || ' (2024)' AS text
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS fragmentation
FROM inj
"""

QUERIES["t7_bpe_token_stats"] = t7_bpe_token_stats
ORACLE["t7_bpe_token_stats"] = T7_SQL


from ..functions import assign_packs  # noqa: E402


def x7_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing over the chunked corpus:
    pack_id/pack_offset from an exclusive prefix sum of chunk token
    counts in (doc_id, chunk_index) order, cut every 256 tokens."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=8)
    return assign_packs(chunks, context_len=256).select(
        "doc_id", "chunk_index", "chunk_tokens", "pack_id", "pack_offset"
    )


X7_SQL = f"""
WITH chunks AS ({T5_SQL.strip()}),
p AS (
    SELECT doc_id, chunk_index, chunk_tokens,
           COALESCE(SUM(chunk_tokens) OVER (
               ORDER BY doc_id, chunk_index
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
    FROM chunks
)
SELECT doc_id, chunk_index, chunk_tokens,
       CAST(prefix // 256 AS BIGINT) AS pack_id,
       CAST(prefix % 256 AS BIGINT) AS pack_offset
FROM p
"""

QUERIES["x7_sequence_packing"] = x7_sequence_packing
ORACLE["x7_sequence_packing"] = X7_SQL


from ..streaming import dedup_stream  # noqa: E402


def st2_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-dedup shared by the streaming path (dropDuplicatesWithin-
    Watermark when the frame streams): the corpus doubled via UNION ALL
    must dedup back to one row per key. Keys cover every selected
    column, so the oracle is plain DISTINCT regardless of data shape
    (subset-key dedup picks an arbitrary survivor — gate-hostile; the
    streaming pytest covers that form)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    doubled = ev.unionByName(ev)
    return dedup_stream(doubled, keys=("event_id", "event_type", "value"))


ST2_SQL = """
SELECT DISTINCT event_id, event_type, value
FROM (SELECT event_id, event_type, value FROM events
      UNION ALL
      SELECT event_id, event_type, value FROM events)
"""

QUERIES["st2_stream_dedup"] = st2_stream_dedup
ORACLE["st2_stream_dedup"] = ST2_SQL


from ..functions import weighted_sample  # noqa: E402


def x8_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling at T=1 (keep-probability =
    the doc's distinct-token ratio): deterministic md5 coin per doc, so
    the oracle replays the exact keep set. T != 1 reshaping is pytest
    territory (cross-engine pow() can differ in the last ulp)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = quality_stats(docs).select("doc_id", "lang", "distinct_ratio")
    return weighted_sample(scored, weight_col="distinct_ratio", temperature=1.0)


X8_SQL = f"""
WITH scored AS (
    SELECT doc_id, lang,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio
    FROM documents
)
SELECT doc_id, lang, distinct_ratio
FROM scored
WHERE CAST({_bucket_sql("CAST(doc_id AS VARCHAR)")} AS DOUBLE) / 10000.0 < distinct_ratio
"""

QUERIES["x8_weighted_sample"] = x8_weighted_sample
ORACLE["x8_weighted_sample"] = X8_SQL


from ..functions import cardinality_stats  # noqa: E402
from ..functions import fingerprint as _fp  # noqa: E402


def x9_cardinality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus cardinality and duplicate ratio (audit form —
    exact COUNT(DISTINCT); production uses the HLL++ sketch form, which
    has no cross-engine-exact oracle by nature)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "fp", _fp("text")
    )
    return cardinality_stats(docs, group_cols=("lang",), approx=False)


X9_SQL = r"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS BIGINT) AS n_distinct,
       1.0 - CAST(COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
FROM documents
GROUP BY lang
"""

QUERIES["x9_cardinality_stats"] = x9_cardinality_stats
ORACLE["x9_cardinality_stats"] = X9_SQL


def pipe6_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data prep: PII scrub -> token-window chunking ->
    concat-and-split sequence packing, end to end over the documents
    table (PII injected per doc so the scrub stage is exercised on every
    row). The full lazy chain is ONE plan: scrub and chunking are
    expression-only, packing adds the prefix-sum window."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com"),
        ).alias("text"),
    )
    scrubbed = injected.select(
        "doc_id", scrub_pii("text").alias("text")
    )
    chunks = chunk_documents(scrubbed, chunk_tokens=64, overlap=8)
    return assign_packs(chunks, context_len=256).select(
        "doc_id", "chunk_index", "chunk_tokens", "chunk_text",
        "pack_id", "pack_offset",
    )


PIPE6_SQL = r"""
WITH inj AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail.example.com' AS text
    FROM documents
),
scrubbed AS (
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
               '\+[0-9]{7,15}', '<PHONE>', 'g') AS text
    FROM scrubbed_src
),
toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM scrubbed
),
starts AS (
    SELECT doc_id, t,
           unnest(range(0, greatest(len(t) - 1, 0) + 1, 56)) AS s
    FROM toks
),
chunks AS (
    SELECT doc_id,
           CAST(s // 56 AS BIGINT) AS chunk_index,
           CAST(len(t[s + 1 : s + 64]) AS BIGINT) AS chunk_tokens,
           array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text
    FROM starts
    WHERE (s = 0 OR s < len(t) - 8)
      AND len(t[s + 1 : s + 64]) > 0
),
p AS (
    SELECT *,
           COALESCE(SUM(chunk_tokens) OVER (
               ORDER BY doc_id, chunk_index
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
    FROM chunks
)
SELECT doc_id, chunk_index, chunk_tokens, chunk_text,
       CAST(prefix // 256 AS BIGINT) AS pack_id,
       CAST(prefix % 256 AS BIGINT) AS pack_offset
FROM p
"""
PIPE6_SQL = PIPE6_SQL.replace("scrubbed_src", "inj")

QUERIES["pipe6_training_prep"] = pipe6_training_prep
ORACLE["pipe6_training_prep"] = PIPE6_SQL


from .serving import map_vax_features  # noqa: E402


def g2_vax_map_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vaccination map-layer features: three dose metrics pivoted to the
    compact {cd, at, f, c, t} properties object per area at the latest
    date, plus geometry — one pivot pass instead of the reference's
    UNIONed per-metric subqueries. precision=None for oracle-exact
    replay (no cross-engine double ROUND)."""
    ts, areas, metrics = _mini_star(spark, sf_dir)
    geo = spark.range(5).select(
        F.col("id").alias("area_id"),
        F.lit("Point").alias("geometry_type"),
        F.array(
            (F.col("id") * 10).cast("long"), (F.col("id") * 20).cast("long")
        ).alias("coordinates"),
    )
    return map_vax_features(
        ts, areas, metrics, geo,
        dose_metrics=("click", "error", "signup"),
        precision=None,
    )


G2_SQL = f"""
WITH {_MINI_STAR_SQL},
geo AS (
    SELECT CAST(area_id AS BIGINT) AS area_id, 'Point' AS geometry_type,
           [CAST(area_id * 10 AS BIGINT), CAST(area_id * 20 AS BIGINT)] AS coordinates
    FROM range(5) AS t(area_id)
),
scoped AS (SELECT * FROM long WHERE metric IN ('click', 'error', 'signup') AND v IS NOT NULL),
latest AS (SELECT * FROM scoped WHERE date = (SELECT MAX(date) FROM scoped)),
piv AS (
    SELECT area_id,
           MAX(CASE WHEN metric = 'click'  THEN CAST(v AS DOUBLE) END) AS f,
           MAX(CASE WHEN metric = 'error'  THEN CAST(v AS DOUBLE) END) AS c,
           MAX(CASE WHEN metric = 'signup' THEN CAST(v AS DOUBLE) END) AS t
    FROM latest GROUP BY area_id
)
SELECT CAST(to_json(struct_pack(
           cd := 'A' || CAST(p.area_id AS VARCHAR),
           at := 'nation',
           f := COALESCE(f, 0.0),
           c := COALESCE(c, 0.0),
           t := COALESCE(t, 0.0))) AS VARCHAR) AS properties,
       CAST(to_json(struct_pack(
           type := geometry_type,
           coordinates := coordinates)) AS VARCHAR) AS geometry
FROM piv p LEFT JOIN geo g ON g.area_id = p.area_id
"""

QUERIES["g2_vax_map_features"] = g2_vax_map_features
ORACLE["g2_vax_map_features"] = G2_SQL


from ..operators.sessions import session_stats  # noqa: E402


def x10_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events table (30-minute
    inactivity gap): one row per (user, session) with exact epoch-micros
    bounds, event count, duration, and an exact-decimal value sum.
    Single shuffle — the groupBy reuses the sessionize window's
    hash partitioning on user_id."""
    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, gap_seconds=1800)


X10_SQL = """
WITH e AS (
    SELECT user_id, event_id, value, epoch_us(ts) AS us,
           LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
    FROM events
),
flagged AS (
    SELECT *,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM e
),
sess AS (
    SELECT *,
           SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_index
    FROM flagged
)
SELECT user_id,
       CAST(session_index AS BIGINT) AS session_index,
       MIN(us) AS session_start_us,
       MAX(us) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
       (MAX(us) - MIN(us)) / 1000000.0 AS duration_s
FROM sess
GROUP BY user_id, session_index
"""

QUERIES["x10_sessionize"] = x10_sessionize
ORACLE["x10_sessionize"] = X10_SQL


from ..functions.dedup import dedup_paragraphs  # noqa: E402


def d7_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup, keep-first. The synthetic corpus has
    no paragraph structure, so the gate injects it: every doc gains a
    shared social-share paragraph (duplicate by construction — only the
    globally first doc keeps it) and a unique per-doc footer (always
    kept). Docs with identical body text additionally dedup their first
    paragraph against each other, exercising cross-doc keep-first on
    real content."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n\nShare This Article\n\ndoc "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return dedup_paragraphs(injected)


D7_SQL = r"""
WITH inj AS (
    SELECT doc_id,
           text || chr(10) || chr(10) || 'Share This Article'
                || chr(10) || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR) AS text
    FROM documents
),
ps AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS l FROM inj),
paras AS (
    SELECT doc_id, l[i] AS para, i - 1 AS pos,
           md5(trim(lower(l[i]))) AS fp
    FROM ps, (SELECT unnest(range(1, len(l) + 1)) AS i)
),
flagged AS (
    SELECT *,
           CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY fp ORDER BY doc_id, pos) = 1 THEN 1 ELSE 0 END AS keep
    FROM paras
)
SELECT doc_id,
       COALESCE(array_to_string(list(para ORDER BY pos) FILTER (WHERE keep = 1),
                                chr(10) || chr(10)), '') AS text,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(SUM(1 - keep) AS BIGINT) AS n_removed
FROM flagged GROUP BY doc_id
"""

QUERIES["d7_paragraph_dedup"] = d7_paragraph_dedup
ORACLE["d7_paragraph_dedup"] = D7_SQL


from ..functions.curation import percentile_filter  # noqa: E402


def x11_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality gate: keep at least the top 30% of each
    language by distinct-token ratio via cume_dist (tie classes share
    fate inclusively; the degenerate all-tied group keeps everything).
    cume_dist is rank/n in both engines and the score an exact integer
    ratio, so the cut is engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    scored = quality_stats(docs)
    out = percentile_filter(
        scored, "distinct_ratio", keep_top=0.3, partition_cols=("lang",)
    )
    return out.select("doc_id", "lang", "distinct_ratio", "score_cume_dist", "kept")


# threshold literal must be the SAME double Spark computes for
# 1.0 - keep_top (0.7 the decimal is a different double than the IEEE
# subtraction result; a cume_dist landing exactly between them would
# split the engines)
X11_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
scored AS (
    SELECT doc_id, lang,
           CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
               AS distinct_ratio
    FROM toks
)
SELECT doc_id, lang, distinct_ratio,
       CUME_DIST() OVER (PARTITION BY lang ORDER BY distinct_ratio)
           AS score_cume_dist,
       CUME_DIST() OVER (PARTITION BY lang ORDER BY distinct_ratio)
           > {1.0 - 0.3!r} AS kept
FROM scored
"""

QUERIES["x11_percentile_filter"] = x11_percentile_filter
ORACLE["x11_percentile_filter"] = X11_SQL


from ..functions.text import tfidf_topk  # noqa: E402


def tf1_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per doc by TF-IDF with the rational
    (log-free) idf — exact IEEE arithmetic both engines; the log path is
    pytest-covered (libm last-ulp differences must not gate)."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_topk(docs, k=5, log_idf=False)


TF1_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS term_df FROM toks GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, term, tf, term_df,
           CAST(tf AS DOUBLE) *
               (CAST(n_docs + 1 AS DOUBLE) / CAST(term_df + 1 AS DOUBLE)) AS score
    FROM tf JOIN dfreq USING (term), n
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term ASC) AS term_rank
    FROM scored
)
SELECT doc_id, CAST(term_rank AS BIGINT) AS term_rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(term_df AS BIGINT) AS term_df, score
FROM ranked WHERE term_rank <= 5
"""

QUERIES["tf1_tfidf_topk"] = tf1_tfidf_topk
ORACLE["tf1_tfidf_topk"] = TF1_SQL


from ..functions.similarity import assign_centroids  # noqa: E402


def c1_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantiser / k-means assignment step: nearest of 8
    deterministic centroids (vec_id < 8) by cosine, zero-shuffle
    map-side argmax. Following the s1/d5 precedent the gate compares the
    ASSIGNMENT (rank decision), not raw float scores."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    out = assign_centroids(emb, cents)
    return out.select("vec_id", "label", "centroid_id")


C1_SQL = """
WITH c AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 8),
scored AS (
    SELECT e.vec_id, e.label, c.cid,
           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[])) AS score
    FROM embeddings e, c
)
SELECT vec_id, label, cid AS centroid_id
FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
      FROM scored)
WHERE rn = 1
"""

QUERIES["c1_centroid_assign"] = c1_centroid_assign
ORACLE["c1_centroid_assign"] = C1_SQL


from ..functions.curation import cap_per_group, extract_domain, histogram_fixed  # noqa: E402


def x12_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain volume cap (C4/RefinedWeb "max N pages per domain"):
    the corpus has no URLs, so the gate injects one per doc (37 synthetic
    domains with ports/userinfo to exercise the extractor), caps at 5
    docs per domain by doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://user:pw@site"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit(".example.com:8443/page/"),
        F.col("doc_id").cast("string"),
    )
    with_domain = docs.select(
        "doc_id", extract_domain(url).alias("domain")
    )
    return cap_per_group(with_domain, "domain", max_per_group=5)


X12_SQL = """
WITH d AS (
    SELECT doc_id,
           'site' || CAST(doc_id % 37 AS VARCHAR) || '.example.com' AS domain
    FROM documents
)
SELECT doc_id, domain,
       CAST(ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS BIGINT)
           AS group_rank,
       ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) <= 5 AS kept
FROM d
"""

QUERIES["x12_domain_cap"] = x12_domain_cap
ORACLE["x12_domain_cap"] = X12_SQL


def h2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound equi-width histogram of document length per language
    (dashboard distribution / drift monitor). Integer inputs over a
    decimal-exact width keep the bucket floor engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    return histogram_fixed(
        docs, "n_chars", lo=0.0, hi=200.0, bins=20, partition_cols=("lang",)
    )


H2_SQL = """
WITH b AS (
    SELECT lang,
           CAST(least(greatest(floor((CAST(n_chars AS DOUBLE) - 0.0) / 10.0),
                               0), 19) AS BIGINT) AS bucket
    FROM documents
)
SELECT lang, bucket, 0.0 + bucket * 10.0 AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY lang, bucket
"""

QUERIES["h2_histogram"] = h2_histogram
ORACLE["h2_histogram"] = H2_SQL


from ..functions.text import bm25_topk  # noqa: E402

# BM25 constants: every float literal the Spark plan uses, repr'd into
# the SQL so both engines parse the IDENTICAL double (k1+1 is 1.2+1.0 =
# 2.2000000000000002, not 2.2)
_BM25_K1 = 1.2
_BM25_B = 0.75


def b1_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a 3-term query, rational-idf config (the
    log path is pytest-covered; libm must not gate). Corpus-side tf from
    array expressions — no corpus explode, no shuffle; stats (N, avgdl,
    per-term df) ride a 1-row broadcast. Doc-length sums are integer
    doubles, so avg is order-independent and engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs,
        ["spark", "hash", "window"],
        k=20,
        k1=_BM25_K1,
        b=_BM25_B,
        log_idf=False,
    )


_B1_TERMS = ["hash", "spark", "window"]  # sorted, as the operator sorts
_B1_TF = ",\n           ".join(
    f"CAST(len(list_filter(t, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
    for i, t in enumerate(_B1_TERMS)
)
_B1_DF = ",\n           ".join(
    f"SUM(CASE WHEN tf{i} > 0 THEN 1.0 ELSE 0.0 END) AS df{i}"
    for i in range(len(_B1_TERMS))
)
_B1_SCORE = " + ".join(
    f"((n - df{i} + 0.5) / (df{i} + 0.5))"
    f" * (tf{i} * {_BM25_K1 + 1.0!r} / (tf{i} + {_BM25_K1!r} *"
    f" ({1.0 - _BM25_B!r} + {_BM25_B!r} * dl / avgdl)))"
    for i in range(len(_B1_TERMS))
)

# shared oracle prefix for every gate that replays the b1 BM25 scoring
# (B1_SQL, H7_SQL) — ONE definition of the tokenization and corpus
# stats, so the oracles cannot drift apart
_B1_BASE_STATS_SQL = f"""base AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
           {_B1_TF}
    FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
),
stats AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
           {_B1_DF}
    FROM base
)"""

B1_SQL = f"""
WITH {_B1_BASE_STATS_SQL}
SELECT doc_id, {_B1_SCORE} AS score
FROM base, stats
ORDER BY score DESC, doc_id ASC
LIMIT 20
"""

QUERIES["b1_bm25_topk"] = b1_bm25_topk
ORACLE["b1_bm25_topk"] = B1_SQL


from ..streaming.windows import session_window_stats  # noqa: E402


def st3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window (the streaming-native gap-merged session
    operator) run in batch mode over events, proven row-identical to
    classic lag/cumsum SQL sessionization — the equivalence that
    licenses swapping backfill and live paths. Window end = last event
    + gap; a split needs the gap strictly exceeded (verified)."""
    ev = load_table(spark, sf_dir, "events")
    return session_window_stats(ev, gap="30 minutes")


ST3_SQL = """
WITH e AS (
    SELECT user_id, event_id, value, epoch_us(ts) AS us,
           LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
    FROM events
),
flagged AS (
    SELECT *,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM e
),
sess AS (
    SELECT *,
           SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_index
    FROM flagged
)
SELECT user_id,
       MIN(us) AS session_start_us,
       MAX(us) + 1800000000 AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM sess
GROUP BY user_id, session_index
"""

QUERIES["st3_session_window"] = st3_session_window
ORACLE["st3_session_window"] = ST3_SQL


from ..operators.asof import asof_join, range_join  # noqa: E402


def j11_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic backward as-of join (each click joins the user's latest
    signup at-or-before it): union + tagged window carry, ONE shuffle on
    the key — checked against DuckDB's native ASOF LEFT JOIN. Right side
    pre-aggregated per (user, ts) so the match is total."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("ref_event"))
    )
    out = asof_join(
        clicks, signups, keys=["user_id"], right_cols=["ref_event"]
    )
    return out.select(
        "user_id",
        "event_id",
        ts_micros("ts").alias("ts_us"),
        "asof_ts_us",
        "ref_event",
    )


J11_SQL = """
WITH l AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us
    FROM events WHERE event_type = 'click'
),
r AS (
    SELECT user_id, epoch_us(ts) AS rus, MAX(event_id) AS ref_event
    FROM events WHERE event_type = 'signup'
    GROUP BY user_id, epoch_us(ts)
)
SELECT l.user_id, l.event_id, l.ts_us, r.rus AS asof_ts_us, r.ref_event
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.rus <= l.ts_us
"""

QUERIES["j11_asof_join"] = j11_asof_join
ORACLE["j11_asof_join"] = J11_SQL


_RJ_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z epoch micros
_RJ_STEP_US = 25_200_000_000       # 7 h
_RJ_LEN_US = 7_200_000_000         # 2 h


def j12_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join via the time-grid equi-join (37 two-hour
    maintenance windows every 7 h): intervals explode onto hour cells,
    events hash to their cell, containment filters co-bucketed
    candidates — no BroadcastNestedLoopJoin at any scale."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    iv = spark.range(37).select(
        F.col("id").alias("interval_id"),
        (F.lit(_RJ_T0_US) + F.col("id") * _RJ_STEP_US).alias("start_us"),
        (F.lit(_RJ_T0_US) + F.col("id") * _RJ_STEP_US + _RJ_LEN_US).alias(
            "end_us"
        ),
    )
    return range_join(ev, iv, bucket_seconds=3600).select(
        "event_id", "user_id", "interval_id"
    )


J12_SQL = f"""
WITH iv AS (
    SELECT i AS interval_id,
           {_RJ_T0_US} + i * {_RJ_STEP_US} AS start_us,
           {_RJ_T0_US} + i * {_RJ_STEP_US} + {_RJ_LEN_US} AS end_us
    FROM range(37) t(i)
),
e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
SELECT e.event_id, e.user_id, iv.interval_id
FROM e JOIN iv ON e.us >= iv.start_us AND e.us < iv.end_us
"""

QUERIES["j12_range_join"] = j12_range_join
ORACLE["j12_range_join"] = J12_SQL


_J11B_TOL_S = 2 * 86_400  # 2-day as-of tolerance (voids ~1/3 of matches)


def j11b_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of LEFT join with a tolerance bound (pandas
    ``merge_asof(tolerance=...)`` semantics): a match older than 2 days
    is voided — the left row survives with NULL ``asof_ts_us`` and NULL
    carried columns. Exercises the tolerance-void path j11 does not."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("ref_event"))
    )
    out = asof_join(
        clicks,
        signups,
        keys=["user_id"],
        right_cols=["ref_event"],
        tolerance_seconds=_J11B_TOL_S,
    )
    return out.select(
        "user_id",
        "event_id",
        ts_micros("ts").alias("ts_us"),
        "asof_ts_us",
        "ref_event",
    )


J11B_SQL = f"""
WITH l AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us
    FROM events WHERE event_type = 'click'
),
r AS (
    SELECT user_id, epoch_us(ts) AS rus, MAX(event_id) AS ref_event
    FROM events WHERE event_type = 'signup'
    GROUP BY user_id, epoch_us(ts)
),
m AS (
    SELECT l.user_id, l.event_id, l.ts_us, r.rus, r.ref_event
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.rus <= l.ts_us
)
SELECT user_id, event_id, ts_us,
       CASE WHEN rus >= ts_us - {_J11B_TOL_S * 1_000_000}
            THEN rus END AS asof_ts_us,
       CASE WHEN rus >= ts_us - {_J11B_TOL_S * 1_000_000}
            THEN ref_event END AS ref_event
FROM m
"""

QUERIES["j11b_asof_tolerance"] = j11b_asof_tolerance
ORACLE["j11b_asof_tolerance"] = J11B_SQL


def j12b_range_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT point-in-interval join: events contained in no maintenance
    window survive with NULL ``interval_id``. Same single-shuffle
    grid plan as j12 — the point side owns exactly one cell, so misses
    are preserved by moving containment into the join's ON clause, with
    no row-identity anti-join needed."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    iv = spark.range(37).select(
        F.col("id").alias("interval_id"),
        (F.lit(_RJ_T0_US) + F.col("id") * _RJ_STEP_US).alias("start_us"),
        (F.lit(_RJ_T0_US) + F.col("id") * _RJ_STEP_US + _RJ_LEN_US).alias(
            "end_us"
        ),
    )
    return range_join(ev, iv, bucket_seconds=3600, how="left").select(
        "event_id", "user_id", "interval_id"
    )


J12B_SQL = f"""
WITH iv AS (
    SELECT i AS interval_id,
           {_RJ_T0_US} + i * {_RJ_STEP_US} AS start_us,
           {_RJ_T0_US} + i * {_RJ_STEP_US} + {_RJ_LEN_US} AS end_us
    FROM range(37) t(i)
),
e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
SELECT e.event_id, e.user_id, iv.interval_id
FROM e LEFT JOIN iv ON e.us >= iv.start_us AND e.us < iv.end_us
"""

QUERIES["j12b_range_join_left"] = j12b_range_join_left
ORACLE["j12b_range_join_left"] = J12B_SQL


from ..operators.asof import scd2_intervals  # noqa: E402
from ..functions.curation import ntile_summary  # noqa: E402


def scd1_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 dimension build from the event stream: per-user
    event_type change history compacted to versions with [valid_from,
    valid_to) micros and an is_current flag — lag compaction + lead
    chaining sharing ONE user_id exchange."""
    ev = load_table(spark, sf_dir, "events")
    return scd2_intervals(
        ev,
        keys=["user_id"],
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )


SCD1_SQL = """
WITH e AS (
    SELECT user_id, event_type, event_id, ts, epoch_us(ts) AS us,
           LAG(event_type) OVER w AS prev_attr,
           LAG(ts) OVER w AS prev_ts
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
kept AS (
    SELECT * FROM e
    WHERE prev_ts IS NULL OR (event_type IS DISTINCT FROM prev_attr)
)
SELECT user_id, event_type, valid_from_us, valid_to_us,
       valid_to_us IS NULL AS is_current
FROM (
    SELECT user_id, event_type, us AS valid_from_us,
           LEAD(us) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us
    FROM kept
)
"""

QUERIES["scd1_intervals"] = scd1_intervals
ORACLE["scd1_intervals"] = SCD1_SQL


def h3_ntile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language equi-depth deciles of document length (NTILE over a
    totalised order — value ties broken by doc_id, so tile boundaries
    are engine-identical), reduced to count/min/max per tile."""
    docs = load_table(spark, sf_dir, "documents")
    return ntile_summary(
        docs, "n_chars", n_tiles=10, partition_cols=("lang",)
    )


H3_SQL = """
WITH tiled AS (
    SELECT lang, CAST(n_chars AS DOUBLE) AS v,
           NTILE(10) OVER (
               PARTITION BY lang ORDER BY CAST(n_chars AS DOUBLE), doc_id
           ) AS tile
    FROM documents
)
SELECT lang, CAST(tile AS BIGINT) AS tile, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(v) AS tile_min, MAX(v) AS tile_max
FROM tiled GROUP BY lang, tile
"""

QUERIES["h3_ntile_summary"] = h3_ntile_summary
ORACLE["h3_ntile_summary"] = H3_SQL


def pipe7_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE near-dup dedup pipeline composed end to end, the way
    a corpus run executes it: MinHash signatures -> banded LSH candidate
    pairs -> exact token-set Jaccard verification on candidates only
    (array_intersect expressions — the candidate set is tiny relative to
    the corpus, so the exact check is cheap) -> connected components ->
    (doc_id, canonical_id, kept). Docs keep iff they are their
    component's minimum id; the drop list is kept = false.

    Oracle note: components resolve via the unrolled propagate+jump
    rounds (``_cc_rounds_sql``) — O(N+E) per round, so the oracle holds
    at sf0.1's million-pair candidate graph too (the old
    transitive-closure recursion did not)."""
    from ..functions.dedup import dedup_components

    # spread the per-doc signature compute across cores (one small
    # parquet file = one scan partition locally; free at real scale)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sigs = minhash_signatures(docs, k=16)
    # round-robin the candidate pairs before the verification joins:
    # the per-pair array_intersect is the pipeline's heavy stage and
    # its cost is invisible to AQE (small pair rows in, quadratic
    # token-compare work out)
    cands = lsh_candidate_pairs(sigs, k=16, bands=2).repartition(
        spark.sparkContext.defaultParallelism
    )

    toks = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("__ta"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("__tb"))
    # materialise the intersection size once per pair (naming it stops
    # the filter from evaluating array_intersect twice)
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("double")
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__i", inter)
        .withColumn(
            "__u",
            F.size("__ta").cast("double")
            + F.size("__tb").cast("double")
            - F.col("__i"),
        )
        .filter(F.col("__i") / F.col("__u") >= 0.5)
        .select("id_a", "id_b")
    )
    resolved = dedup_components(verified, docs.select("doc_id"))
    return resolved.withColumn(
        "kept", F.col("doc_id") == F.col("canonical_id")
    )


def _pipe7_sql() -> str:
    bands = []
    for bidx in range(2):
        members = ", ".join(f"mh{i}" for i in range(bidx * 8, (bidx + 1) * 8))
        bands.append(
            f"SELECT doc_id, {bidx} AS band, concat_ws('_', {members}) AS sig "
            "FROM sig WHERE mh0 IS NOT NULL"
        )
    sig_exprs = ",".join(
        f"list_min(list_transform(th, h -> ({a} * h + {b}) % {MERSENNE_P})) AS mh{i}"
        for i, (a, b) in enumerate(hash_params(16))
    )
    return f"""
WITH th AS (SELECT doc_id, {_TH_SQL} AS th FROM documents),
sig AS (SELECT doc_id, {sig_exprs} FROM th),
bands AS ({' UNION ALL '.join(bands)}),
pairs AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
verified AS (
    SELECT p.id_a, p.id_b
    FROM pairs p
    JOIN toks a ON a.doc_id = p.id_a
    JOIN toks b ON b.doc_id = p.id_b
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          >= 0.5
),
edges AS MATERIALIZED (
    SELECT id_a AS a, id_b AS b FROM verified
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM verified
),
{_cc_rounds_sql()}
SELECT node AS doc_id, label AS canonical_id,
       node = label AS kept
FROM cc
"""


QUERIES["pipe7_neardup_dedup"] = pipe7_neardup_dedup
ORACLE["pipe7_neardup_dedup"] = _pipe7_sql()


from ..functions.multimodal import decode_images  # noqa: E402


def m2_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal DECODE stage with a REAL codec in the loop:
    binary PPM (P6) files are assembled from doc text (header + RGB
    raster bytes) and flow through the Arrow-batched mapInPandas
    decoder, which parses the actual PPM byte format (multimodal._parse_ppm)
    and computes BT.601 integer luma. The oracle replays the same raster
    construction and luma arithmetic in SQL — integer numerator, one
    final division, so the comparison is bit-exact.

    ASCII-sanitised payload: the Python side operates on UTF-8 BYTES
    while the SQL oracle operates on code points — identical only for
    ASCII."""
    docs = load_table(spark, sf_dir, "documents")
    ascii_text = F.regexp_replace(F.col("text"), r"[^\x00-\x7F]", "")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        ascii_text.alias("t"),
        (1 + F.col("doc_id") % 7).cast("int").alias("w"),
        (1 + F.col("doc_id") % 5).cast("int").alias("h"),
    ).select(
        "media_id",
        F.lit("image").alias("kind"),
        F.encode(
            F.concat(
                F.lit("P6\n"),
                F.col("w").cast("string"),
                F.lit(" "),
                F.col("h").cast("string"),
                F.lit("\n255\n"),
                # raster: text bytes repeated then cut/padded to 3*w*h
                F.expr(
                    "rpad(substring(repeat(t, cast(ceil(cast(3*w*h as double)"
                    " / greatest(length(t), 1)) as int)), 1, 3*w*h),"
                    " 3*w*h, ' ')"
                ),
            ),
            "UTF-8",
        ).alias("content"),
    )
    return decode_images(media)


M2_SQL = r"""
WITH a AS (
    SELECT doc_id,
           regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t,
           CAST(1 + doc_id % 7 AS INT) AS w,
           CAST(1 + doc_id % 5 AS INT) AS h
    FROM documents
),
raster AS (
    SELECT doc_id, w, h,
           list_transform(
               string_split(
                   rpad(substring(repeat(t,
                            CAST(ceil(CAST(3*w*h AS DOUBLE)
                                      / greatest(length(t), 1)) AS INT)),
                        1, 3*w*h), 3*w*h, ' '),
                   ''),
               c -> ord(c)) AS cs
    FROM a
)
SELECT doc_id AS media_id,
       'image' AS kind,
       w AS width,
       h AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(299 * CAST(list_sum(list_filter(cs, (x, i) -> i % 3 = 1)) AS BIGINT)
          + 587 * CAST(list_sum(list_filter(cs, (x, i) -> i % 3 = 2)) AS BIGINT)
          + 114 * CAST(list_sum(list_filter(cs, (x, i) -> i % 3 = 0)) AS BIGINT)
          AS DOUBLE) / (1000 * w * h) AS mean_luma
FROM raster
"""

QUERIES["m2_image_decode"] = m2_image_decode
ORACLE["m2_image_decode"] = M2_SQL


from ..functions.curation import common_token_score, key_skew_stats  # noqa: E402


def x13_common_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commonness quality score: mean per-token df share with integer
    sums throughout and ONE final division — the log-free unigram-LM
    quality signal."""
    docs = load_table(spark, sf_dir, "documents")
    return common_token_score(docs)


X13_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
per_doc AS (
    SELECT doc_id, SUM(df) AS df_sum, COUNT(*) AS n_tokens
    FROM toks JOIN dfreq USING (term)
    GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(df_sum AS DOUBLE) / CAST(n_tokens * n_docs AS DOUBLE) AS commonness
FROM per_doc, n
"""

QUERIES["x13_common_token_score"] = x13_common_token_score
ORACLE["x13_common_token_score"] = X13_SQL


def x14_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter shuffle-key diagnostics: top-10 user_ids by event
    count with exact integer-ratio shares."""
    ev = load_table(spark, sf_dir, "events")
    return key_skew_stats(ev, ("user_id",), top_k=10)


X14_SQL = """
WITH c AS (SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id),
t AS (SELECT COUNT(*) AS total FROM events)
SELECT user_id, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE) AS share
FROM c, t
ORDER BY n_rows DESC, user_id ASC
LIMIT 10
"""

QUERIES["x14_key_skew"] = x14_key_skew
ORACLE["x14_key_skew"] = X14_SQL


from ..operators.asof import snapshot_diff  # noqa: E402
from ..functions.curation import profile_table  # noqa: E402


def j13_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-QA per-row snapshot diff: two synthetic releases derived
    from events (previous: days <= 25, doubled counts on day%7==0,
    including 'error'; today: full month, 'error' dropped) — exercising
    added / removed / changed / same in one full-outer pass."""
    daily = _daily(spark, sf_dir).select(
        "event_type", "date", F.col("val_d").cast("double").alias("value")
    )
    day = F.substring("date", 9, 2).cast("int")
    today = daily.filter(F.col("event_type") != "error")
    prev = daily.filter(day <= 25).select(
        "event_type",
        "date",
        F.when(day % 7 == 0, F.col("value") * 2).otherwise(F.col("value")).alias(
            "value"
        ),
    )
    return snapshot_diff(
        today, prev, keys=["event_type", "date"], value_cols=["value"]
    )


J13_SQL = """
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS date,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value
    FROM events GROUP BY 1, 2
),
today AS (SELECT * FROM daily WHERE event_type <> 'error'),
prev AS (
    SELECT event_type, date,
           CASE WHEN CAST(substr(date, 9, 2) AS INT) % 7 = 0
                THEN value * 2 ELSE value END AS value
    FROM daily WHERE CAST(substr(date, 9, 2) AS INT) <= 25
)
SELECT COALESCE(t.event_type, p.event_type) AS event_type,
       COALESCE(t.date, p.date) AS date,
       t.value AS value,
       p.value AS value_prev,
       CASE WHEN p.date IS NULL THEN 'added'
            WHEN t.date IS NULL THEN 'removed'
            WHEN t.value IS NOT DISTINCT FROM p.value THEN 'same'
            ELSE 'changed' END AS status
FROM today t FULL OUTER JOIN prev p
  ON t.event_type = p.event_type AND t.date = p.date
"""

QUERIES["j13_snapshot_diff"] = j13_snapshot_diff
ORACLE["j13_snapshot_diff"] = J13_SQL


def q7_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column QA profile of the documents table in one aggregate
    pass (count / nulls / exact distinct per column, unpivoted)."""
    docs = load_table(spark, sf_dir, "documents")
    return profile_table(docs, ("text", "lang", "source", "n_chars"))


Q7_SQL = """
WITH a AS (
    SELECT COUNT(*) AS n_rows,
           COUNT(CASE WHEN text    IS NULL THEN 1 END) AS nu_text,
           COUNT(DISTINCT text)    AS d_text,
           COUNT(CASE WHEN lang    IS NULL THEN 1 END) AS nu_lang,
           COUNT(DISTINCT lang)    AS d_lang,
           COUNT(CASE WHEN source  IS NULL THEN 1 END) AS nu_source,
           COUNT(DISTINCT source)  AS d_source,
           COUNT(CASE WHEN n_chars IS NULL THEN 1 END) AS nu_n_chars,
           COUNT(DISTINCT n_chars) AS d_n_chars
    FROM documents
)
SELECT 'text' AS column_name, n_rows, nu_text AS n_nulls, d_text AS n_distinct FROM a
UNION ALL
SELECT 'lang', n_rows, nu_lang, d_lang FROM a
UNION ALL
SELECT 'source', n_rows, nu_source, d_source FROM a
UNION ALL
SELECT 'n_chars', n_rows, nu_n_chars, d_n_chars FROM a
"""

QUERIES["q7_profile_table"] = q7_profile_table
ORACLE["q7_profile_table"] = Q7_SQL


def pipe8_despatch_scales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The despatch map colour-scale flow composed end to end
    (rate_scales_worker RETRIEVE + landing-map binning): star join ->
    rank-latest value per area -> cross-area quartiles (exact
    percentile, 1-row broadcast back) -> per-area colour bin. One fact
    scan, one rank window, one grand aggregate."""
    from .serving import _joined, _value

    ts, areas, metrics = _mini_star(spark, sf_dir)
    df = _joined(ts, areas, metrics).filter(F.col("metric") == "click")
    w = Window.partitionBy("area_id").orderBy(F.col("date").desc())
    latest = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "area_code", "date", _value().cast("double").alias("value")
        )
    )
    pcts = latest.agg(
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.75)").alias("p75"),
    )
    joined = latest.crossJoin(F.broadcast(pcts))
    bin_ = (
        F.when(F.col("value") < F.col("p25"), 0)
        .when(F.col("value") < F.col("p50"), 1)
        .when(F.col("value") < F.col("p75"), 2)
        .otherwise(3)
    )
    return joined.select(
        "area_code", "date", "value", "p25", "p50", "p75",
        bin_.cast("long").alias("colour_bin"),
    )


PIPE8_SQL = f"""
WITH {_MINI_STAR_SQL},
click AS (SELECT * FROM long WHERE metric = 'click'),
latest AS (
    SELECT 'A' || CAST(area_id AS VARCHAR) AS area_code, date,
           CAST(v AS DOUBLE) AS value
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY area_id ORDER BY date DESC) AS rn FROM click)
    WHERE rn = 1
),
p AS (
    SELECT quantile_cont(value, 0.25) AS p25,
           quantile_cont(value, 0.5)  AS p50,
           quantile_cont(value, 0.75) AS p75
    FROM latest
)
SELECT area_code, date, value, p25, p50, p75,
       CAST(CASE WHEN value < p25 THEN 0
                 WHEN value < p50 THEN 1
                 WHEN value < p75 THEN 2
                 ELSE 3 END AS BIGINT) AS colour_bin
FROM latest, p
"""

QUERIES["pipe8_despatch_scales"] = pipe8_despatch_scales
ORACLE["pipe8_despatch_scales"] = PIPE8_SQL


from ..operators.rolling import rolling_percentile  # noqa: E402


def w9_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling median of the daily panel (outlier-robust smoothing
    with the pandas min_periods guard) — percentile as a windowed
    aggregate, sharing the usual group-key exchange. quantile_cont over
    the same frame is the DuckDB twin (interpolation arithmetic matches,
    proven by a10)."""
    daily = _daily(spark, sf_dir).select(
        "event_type", "date", F.col("val_d").cast("double").alias("value")
    )
    out = rolling_percentile(
        daily, "value", "rolling_median",
        group_keys=("event_type",), window=7,
    )
    return out.select("event_type", "date", "value", "rolling_median")


W9_SQL = f"""
WITH {_DAILY_SQL},
v AS (SELECT event_type, date, CAST(val_d AS DOUBLE) AS value FROM daily)
SELECT event_type, date, value,
       CASE WHEN COUNT(value) OVER w >= 7
            THEN quantile_cont(value, 0.5) OVER w
       END AS rolling_median
FROM v
WINDOW w AS (PARTITION BY event_type ORDER BY date
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""

QUERIES["w9_rolling_median"] = w9_rolling_median
ORACLE["w9_rolling_median"] = W9_SQL


from ..functions.curation import mixture_rebalance  # noqa: E402
from ..functions.dedup import dedup_incremental  # noqa: E402


def x15_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the corpus to a 50/30/20 en/fr/de mixture: keep rates
    derived from exact counts (scale = min n_l/p_l), applied via the
    deterministic md5-bucket coin. The oracle recomputes the identical
    rate arithmetic from its own counts — no hidden driver state."""
    docs = load_table(spark, sf_dir, "documents")
    out = mixture_rebalance(docs, {"en": 0.5, "fr": 0.3, "de": 0.2})
    return out.select("doc_id", "lang")


X15_SQL = f"""
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
tgt AS (SELECT * FROM (VALUES ('en', 0.5), ('fr', 0.3), ('de', 0.2)) t(lang, p)),
s AS (SELECT MIN(n / p) AS scale FROM c JOIN tgt USING (lang) WHERE p > 0),
r AS (
    SELECT c.lang, LEAST(1.0, s.scale * tgt.p / c.n) AS rate
    FROM c JOIN tgt USING (lang), s
)
SELECT d.doc_id, d.lang
FROM documents d JOIN r ON d.lang = r.lang
WHERE {_bucket_sql("CAST(d.doc_id AS VARCHAR)")}
      < CAST(FLOOR(r.rate * 10000) AS BIGINT)
"""

QUERIES["x15_mixture_rebalance"] = x15_mixture_rebalance
ORACLE["x15_mixture_rebalance"] = X15_SQL


def d8_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-crawl incremental dedup: docs with doc_id % 3 == 0 form the
    historical corpus (their fingerprints the state table); the rest
    arrive as the new batch — drop batch docs already in history, then
    keep-first within the batch."""
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 3 == 0).select(
        fingerprint("text").alias("fp")
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    out = dedup_incremental(batch, seen)
    return out.select("doc_id", "lang", "fp")


D8_SQL = r"""
WITH fp AS (
    SELECT doc_id, lang,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM documents
),
seen AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 = 0),
batch AS (SELECT * FROM fp WHERE doc_id % 3 <> 0),
fresh AS (
    SELECT b.* FROM batch b LEFT JOIN seen s ON b.fp = s.fp
    WHERE s.fp IS NULL
)
SELECT doc_id, lang, fp
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fresh)
WHERE rn = 1
"""

QUERIES["d8_incremental_dedup"] = d8_incremental_dedup
ORACLE["d8_incremental_dedup"] = D8_SQL


def pipe9_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 curation chained end to end in ONE lazy plan: inject line
    structure -> C4 boilerplate removal -> quality re-score on the
    CLEANED text -> per-language percentile gate (top 50%) -> rebalance
    the survivors to a 50/25/25 en/fr/de mixture. Every stage's
    arithmetic is the oracle-exact form its standalone gate proves."""
    from ..functions.curation import mixture_rebalance, percentile_filter
    from ..functions.curation import remove_boilerplate_lines

    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.lit("\nSubscribe To Our Newsletter \ndoc "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    cleaned = remove_boilerplate_lines(injected, min_docs=10).drop("n_lines")
    # lang rides through the reassembly via join (reassembly groupBy
    # keyed on doc_id only)
    cleaned = cleaned.join(docs.select("doc_id", "lang"), "doc_id")
    scored = quality_stats(cleaned)
    gated = percentile_filter(
        scored, "distinct_ratio", keep_top=0.5, partition_cols=("lang",)
    ).filter("kept")
    out = mixture_rebalance(
        gated, {"en": 0.5, "fr": 0.25, "de": 0.25}
    )
    return out.select("doc_id", "lang", "distinct_ratio")


PIPE9_SQL = f"""
WITH inj AS (
    SELECT doc_id, lang,
           text || chr(10) || 'Subscribe To Our Newsletter ' || chr(10)
                || 'doc ' || CAST(doc_id AS VARCHAR) AS text
    FROM documents
),
ls AS (SELECT doc_id, lang, string_split(text, chr(10)) AS l FROM inj),
lines AS (
    SELECT doc_id, lang, l[i] AS line, i AS pos,
           md5(trim(lower(l[i]))) AS fp
    FROM ls, (SELECT unnest(range(1, len(l) + 1)) AS i)
),
boiler AS (
    SELECT fp FROM lines GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 10
),
kept_lines AS (SELECT * FROM lines WHERE fp NOT IN (SELECT fp FROM boiler)),
cleaned AS (
    SELECT doc_id, lang,
           array_to_string(list(line ORDER BY pos), chr(10)) AS text
    FROM kept_lines GROUP BY doc_id, lang
),
toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM cleaned),
scored AS (
    SELECT doc_id, lang,
           CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
               AS distinct_ratio
    FROM toks
),
gated AS (
    SELECT * FROM (
        SELECT *,
               CUME_DIST() OVER (PARTITION BY lang ORDER BY distinct_ratio)
                   AS cd
        FROM scored
    ) WHERE cd > {1.0 - 0.5!r}
),
c AS (SELECT lang, COUNT(*) AS n FROM gated GROUP BY lang),
tgt AS (SELECT * FROM (VALUES ('en', 0.5), ('fr', 0.25), ('de', 0.25)) t(lang, p)),
s AS (SELECT MIN(n / p) AS scale FROM c JOIN tgt USING (lang) WHERE p > 0),
r AS (
    SELECT c.lang, LEAST(1.0, s.scale * tgt.p / c.n) AS rate
    FROM c JOIN tgt USING (lang), s
)
SELECT g.doc_id, g.lang, g.distinct_ratio
FROM gated g JOIN r ON g.lang = r.lang
WHERE {_bucket_sql("CAST(g.doc_id AS VARCHAR)")}
      < CAST(FLOOR(r.rate * 10000) AS BIGINT)
"""

QUERIES["pipe9_curation_v2"] = pipe9_curation_v2
ORACLE["pipe9_curation_v2"] = PIPE9_SQL


from ..functions.similarity import negative_pairs  # noqa: E402


def x16_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling over embeddings
    (vec_id is already dense [0, N), so no index window): 4 md5-drawn
    partners per vector, self-draws shifted — exactly reproducible, so
    the oracle replays the draw arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    return negative_pairs(emb, k=4, index_col="vec_id")


def _x16_sql() -> str:
    md5int = (
        "list_reduce(list_transform(string_split(substr(md5(CAST(vec_id AS VARCHAR)"
        " || '_' || CAST(j AS VARCHAR)), 1, 15), ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16+b)"
    )
    return f"""
WITH n AS (SELECT COUNT(*) AS n_rows FROM embeddings),
draws AS (
    SELECT vec_id, j AS neg_rank, ({md5int}) % n_rows AS draw, n_rows
    FROM embeddings, (SELECT unnest(range(0, 4)) AS j), n
)
SELECT d.vec_id, CAST(d.neg_rank AS BIGINT) AS neg_rank,
       e.vec_id AS neg_id
FROM (
    SELECT vec_id, neg_rank,
           CASE WHEN draw = vec_id THEN (draw + 1) % n_rows ELSE draw END AS nidx
    FROM draws
) d JOIN embeddings e ON e.vec_id = d.nidx
"""


QUERIES["x16_negative_sampling"] = x16_negative_sampling
ORACLE["x16_negative_sampling"] = _x16_sql()


from ..operators.rates import age_standardised_rate  # noqa: E402

_EPI1_W = {"00_29": 0.35, "30_49": 0.3, "50_69": 0.25, "70plus": 0.1}


def epi1_age_standardised_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct age-standardised rate per (area, date): per-band decimal
    rates weighted by a standard population, decimal sums, one double
    division — comparable-across-areas rates with partial-band coverage
    excluded from the denominator."""
    ev = load_table(spark, sf_dir, "events")
    band = (
        F.when(F.col("user_id") % 4 == 0, "00_29")
        .when(F.col("user_id") % 4 == 1, "30_49")
        .when(F.col("user_id") % 4 == 2, "50_69")
        .otherwise("70plus")
    )
    rates = ev.groupBy(
        F.col("event_type").alias("areaCode"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        band.alias("age"),
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("rate"))
    return age_standardised_rate(
        rates, "rate", _EPI1_W, group_keys=("areaCode", "date")
    )


_EPI1_CASE = " ".join(
    f"WHEN '{b}' THEN CAST({w} AS DECIMAL(18,6))" for b, w in sorted(_EPI1_W.items())
)

EPI1_SQL = f"""
WITH b AS (
    SELECT event_type AS areaCode, strftime(ts, '%Y-%m-%d') AS date,
           CASE user_id % 4 WHEN 0 THEN '00_29' WHEN 1 THEN '30_49'
                WHEN 2 THEN '50_69' ELSE '70plus' END AS age,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rate
    FROM events GROUP BY 1, 2, 3
)
SELECT areaCode, date,
       CAST(SUM((CASE age {_EPI1_CASE} END) * CAST(rate AS DECIMAL(18,6)))
            AS DOUBLE)
       / CAST(SUM(CASE age {_EPI1_CASE} END) AS DOUBLE) AS asr,
       CAST(COUNT(CASE WHEN (CASE age {_EPI1_CASE} END) IS NOT NULL
                        AND rate IS NOT NULL THEN 1 END) AS BIGINT) AS n_bands
FROM b GROUP BY areaCode, date
"""

QUERIES["epi1_age_standardised_rate"] = epi1_age_standardised_rate
ORACLE["epi1_age_standardised_rate"] = EPI1_SQL


def pipe10_long_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EP1 UPLOAD side (deploy(), uploader.py:546-655) composed end
    to end: a mixed-type panel (two bigint metrics — one weekly-cadence
    with planted nulls — plus a string Direction metric) through
    to_long_store's one melt over both type families -> trim_sides ->
    weekly dropna -> payload wrap -> partition/release stamping. The
    hash column is h1's subject and is excluded (Catalyst prunes the
    UDF). JSON values are integers/strings — the cross-engine-stable
    renderings."""
    from .main_pipeline import to_long_store

    daily = _daily(spark, sf_dir)
    dom = F.substring("date", 9, 2).cast("int")
    cases = F.when(dom <= 2, F.lit(0)).otherwise(
        F.floor(F.col("val_d"))
    ).cast("bigint")
    weekly = F.when(dom % 7 == 1, F.floor(F.col("val_d"))).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("date")
    base = daily.select(
        F.lit("event").alias("areaType"),
        F.col("event_type").alias("areaCode"),
        "date",
        cases.alias("cases"),
        weekly.alias("casesWeekly"),
    )
    prev = F.lag("cases").over(
        Window.partitionBy("areaCode").orderBy("date")
    )
    panel = base.withColumn(
        "casesDirection",
        F.when(prev.isNull(), F.lit(None).cast("string"))
        .when(F.col("cases") > prev, "UP")
        .when(F.col("cases") < prev, "DOWN")
        .otherwise("SAME"),
    )
    out = to_long_store(panel, release_id=7)
    return out.select(
        "area_type", "area_code", "metric", "date", "payload",
        "partition_id", "release_id",
    )


def _pipe10_trim_sql(src: str, payload_json: str) -> str:
    """The faithful trim_sides chain (uploader.py:55-90) over ``src``
    (columns area_type, area_code, metric, date, payload), ending with
    the weekly dropna + JSON wrap."""
    return f"""
    SELECT area_type, area_code, metric, date,
           {payload_json} AS payload,
           'other' AS partition_id, 7 AS release_id
    FROM (
        SELECT *,
               (first_valid IS NOT NULL AND last_valid IS NOT NULL)
                   AND (rn <= COALESCE(first_nonzero, first_valid) + 1
                        OR rn >= last_valid - 1) AS masked
        FROM (
            SELECT *,
                   MAX(CASE WHEN payload IS NOT NULL
                             AND rn > COALESCE(first_nonzero, first_valid) + 1
                            THEN rn END)
                       OVER (PARTITION BY area_type, area_code, metric)
                       AS last_valid
            FROM (
                SELECT *,
                       MIN(CASE WHEN cumabs > 0 THEN rn END)
                           OVER (PARTITION BY area_type, area_code, metric)
                           AS first_nonzero,
                       MIN(CASE WHEN payload IS NOT NULL THEN rn END)
                           OVER (PARTITION BY area_type, area_code, metric)
                           AS first_valid
                FROM (
                    SELECT *,
                           ROW_NUMBER() OVER wx AS rn,
                           SUM(ABS(TRY_CAST(payload AS DOUBLE))) OVER
                               (PARTITION BY area_type, area_code, metric
                                ORDER BY date
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cumabs
                    FROM ({src})
                    WINDOW wx AS (PARTITION BY area_type, area_code, metric
                                  ORDER BY date)
                )
            )
        )
    )
    WHERE NOT masked
      AND NOT (lower(metric) LIKE '%weekly%' AND payload IS NULL)
    """


_PIPE10_PANEL = """
panel AS (
    SELECT 'event' AS area_type, event_type AS area_code, date,
           CASE WHEN CAST(substr(date, 9, 2) AS INT) <= 2 THEN 0
                ELSE CAST(FLOOR(val_d) AS BIGINT) END AS cases,
           CASE WHEN CAST(substr(date, 9, 2) AS INT) % 7 = 1
                THEN CAST(FLOOR(val_d) AS BIGINT) END AS casesWeekly
    FROM daily
),
panel2 AS (
    SELECT *,
           CASE WHEN LAG(cases) OVER w IS NULL THEN NULL
                WHEN cases > LAG(cases) OVER w THEN 'UP'
                WHEN cases < LAG(cases) OVER w THEN 'DOWN'
                ELSE 'SAME' END AS casesDirection
    FROM panel
    WINDOW w AS (PARTITION BY area_code ORDER BY date)
)
"""

_P10_NUM = (
    "SELECT area_type, area_code, 'cases' AS metric, date, cases AS payload FROM panel2 "
    "UNION ALL "
    "SELECT area_type, area_code, 'casesWeekly', date, casesWeekly FROM panel2"
)
_P10_STR = (
    "SELECT area_type, area_code, 'casesDirection' AS metric, date, "
    "casesDirection AS payload FROM panel2"
)

PIPE10_SQL = f"""
WITH {_DAILY_SQL},
{_PIPE10_PANEL}
{_pipe10_trim_sql(_P10_NUM, "to_json(struct_pack(value := payload))::VARCHAR")}
UNION ALL
{_pipe10_trim_sql(_P10_STR, "to_json(struct_pack(value := payload))::VARCHAR")}
"""

QUERIES["pipe10_long_store"] = pipe10_long_store
ORACLE["pipe10_long_store"] = PIPE10_SQL


from ..streaming.windows import enrich_with_dims  # noqa: E402


def st4_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment in batch mode (the same
    function deploys on a stream — micro-batch broadcast star join):
    events left-joined to a 5-row area dim derived from user_id, nulls
    surviving for unmapped keys."""
    ev = load_table(spark, sf_dir, "events")
    dims = spark.range(4).select(  # 4 of 5 buckets mapped -> some NULLs
        F.col("id").alias("area_bucket"),
        F.concat(F.lit("A"), F.col("id").cast("string")).alias("area_code"),
        F.lit("nation").alias("area_type"),
    )
    stream_like = ev.select(
        "event_id", (F.col("user_id") % 5).alias("area_bucket"), "event_type"
    )
    return enrich_with_dims(stream_like, dims, keys=["area_bucket"])


ST4_SQL = """
WITH dims AS (
    SELECT i AS area_bucket, 'A' || CAST(i AS VARCHAR) AS area_code,
           'nation' AS area_type
    FROM range(4) t(i)
)
SELECT e.event_id, e.user_id % 5 AS area_bucket, e.event_type,
       d.area_code, d.area_type
FROM events e LEFT JOIN dims d ON e.user_id % 5 = d.area_bucket
"""

QUERIES["st4_stream_enrich"] = st4_stream_enrich
ORACLE["st4_stream_enrich"] = ST4_SQL


def g3_archive_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Despatch archive-dates worker (despatch_ops_workers archive
    dates): the distinct release dates per area grouping, newest first
    with a rank — the list the dashboard's archive page serves."""
    ev = load_table(spark, sf_dir, "events")
    dates = ev.select(
        F.col("event_type").alias("area_group"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
    ).distinct()
    w = Window.partitionBy("area_group").orderBy(F.col("date").desc())
    return dates.select(
        "area_group", "date",
        F.row_number().over(w).cast("long").alias("recency_rank"),
    )


G3_SQL = """
WITH d AS (
    SELECT DISTINCT event_type AS area_group, strftime(ts, '%Y-%m-%d') AS date
    FROM events
)
SELECT area_group, date,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY area_group ORDER BY date DESC) AS BIGINT)
           AS recency_rank
FROM d
"""

QUERIES["g3_archive_dates"] = g3_archive_dates
ORACLE["g3_archive_dates"] = G3_SQL


def g4_release_time_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-timestamp boxplot stats (chunk_etl_postprocessing/
    timestamp_boxplots): per event type, the quartiles + extremes of
    the intra-day arrival time (seconds since midnight — integers, so
    the interpolated percentile arithmetic is engine-identical)."""
    ev = load_table(spark, sf_dir, "events")
    secs = (
        ts_micros("ts") % (24 * 3600 * 1_000_000)
    ) / F.lit(1_000_000.0)
    base = ev.select(F.col("event_type"), secs.alias("s"))
    return base.groupBy("event_type").agg(
        F.expr("percentile(s, 0.25)").alias("q1"),
        F.expr("percentile(s, 0.5)").alias("med"),
        F.expr("percentile(s, 0.75)").alias("q3"),
        F.min("s").alias("lo"),
        F.max("s").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )


G4_SQL = """
WITH b AS (
    SELECT event_type,
           (epoch_us(ts) % 86400000000) / 1000000.0 AS s
    FROM events
)
SELECT event_type,
       quantile_cont(s, 0.25) AS q1,
       quantile_cont(s, 0.5)  AS med,
       quantile_cont(s, 0.75) AS q3,
       MIN(s) AS lo, MAX(s) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY event_type
"""

QUERIES["g4_release_time_quartiles"] = g4_release_time_quartiles
ORACLE["g4_release_time_quartiles"] = G4_SQL


def s15_dump_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 — the dump/load round-trip (db_dumper/dumper.py:82-124,
    db_loader/loader.py:67-171): dump the nation dim to the migration
    format (distributed gzip JSON-lines + manifest), reload it with the
    manifest schema, then apply an ON-CONFLICT-style upsert of a
    modified snapshot. The oracle computes the merged result directly
    from the source table, so any loss in the JSON round-trip (types,
    nulls, encoding) or in the merge semantics surfaces as a value
    mismatch."""
    import shutil
    import tempfile

    from ..sources.dump_load import dump_table, load_dump, merge_upsert

    nation = load_table(spark, sf_dir, "nation")
    d = tempfile.mkdtemp(prefix="s15_dump_")
    try:
        dump_table(nation, d, "public.nation", ["n_nationkey"])
        back, _manifest = load_dump(spark, d)
        incoming = back.filter(F.col("n_regionkey") < 2).withColumn(
            "n_name", F.lit("UPDATED")
        )
        out = merge_upsert(back, incoming, ["n_nationkey"]).select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        # materialise before removing the dump dir (the JSON scan is lazy)
        return store.rolling_checkpoint(out, "s15_dump_load", eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


S15_SQL = """
SELECT n_nationkey,
       CASE WHEN n_regionkey < 2 THEN 'UPDATED' ELSE n_name END AS n_name,
       n_regionkey
FROM nation
"""

QUERIES["s15_dump_load"] = s15_dump_load
ORACLE["s15_dump_load"] = S15_SQL


def s10b_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 serving-store lifecycle end to end, value-gated: two release
    writes through ``write_store`` (dynamic partition overwrite,
    release-scoped ``partition_id`` = "<release>_<grp>" exactly like the
    reference's "Y_m_d|grp" scheme, uploader.py:246-295), then
    ``compact_store`` folds the store (each partition ends as one file
    set), then ``read_store`` reads back a partition SELECTION with a
    column projection. Any loss in the write/compact/read path — dropped rows,
    partition leakage (1_b must NOT appear), type drift through the
    parquet round-trip — surfaces as a value mismatch."""
    import shutil
    import tempfile

    from .main_pipeline import compact_store, read_store, write_store

    nation = load_table(spark, sf_dir, "nation")

    def release(rid: int, name_col) -> DataFrame:
        grp = F.when(F.col("n_regionkey") < 2, "a").otherwise("b")
        return nation.select(
            F.col("n_nationkey").alias("key"),
            name_col.alias("name"),
            F.concat(F.lit(f"{rid}_"), grp).alias("partition_id"),
            F.lit(rid).alias("release_id"),
        )

    d = tempfile.mkdtemp(prefix="s10b_store_")
    try:
        write_store(release(1, F.col("n_name")), d)
        write_store(release(2, F.upper(F.col("n_name"))), d)
        rep = compact_store(spark, d, target_rows_per_file=1_000)
        if rep["files_after"] != rep["buckets_after"]:
            raise RuntimeError(f"s10b: compaction left split partitions: {rep}")
        out = read_store(
            spark,
            d,
            partitions=["1_a", "2_a", "2_b"],
            columns=["key", "name", "release_id", "partition_id"],
        )
        # materialise before removing the store dir (the scan is lazy)
        return store.rolling_checkpoint(out, "s10b_store_roundtrip", eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


S10B_SQL = """
WITH src AS (
    SELECT n_nationkey AS key, n_name AS name,
           CASE WHEN n_regionkey < 2 THEN 'a' ELSE 'b' END AS grp
    FROM nation
)
SELECT key, name, 1 AS release_id, '1_' || grp AS partition_id
FROM src WHERE grp = 'a'
UNION ALL
SELECT key, UPPER(name) AS name, 2 AS release_id, '2_' || grp AS partition_id
FROM src
"""

QUERIES["s10b_store_roundtrip"] = s10b_store_roundtrip
ORACLE["s10b_store_roundtrip"] = S10B_SQL


def s18_serve_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value oracle for the bucketed serving store (r9 verdict item 6):
    the bench's ``serve_bucketed_latest`` path was benched but never
    value-checked. This gate builds the SAME long frame the bench
    builds (lineitem melted to qty/price/discount per synthetic area),
    writes it through ``write_store_bucketed`` (catalog table,
    bucketBy(area_code, metric) + sortBy), reads it BACK THROUGH THE
    BUCKETED TABLE, and serves latest-per-(area_code, metric).

    Tie rule made deterministic on purpose: many long rows share an
    area's max date, and ``max_by(payload, date)`` is free to pick any
    of them — unverifiable. The gate serves
    ``max(struct(date, payload))`` (latest date, largest payload within
    it), which the oracle replays as ROW_NUMBER over
    (date DESC, payload DESC) on the unbucketed frame — so the write
    -> bucket -> read -> aggregate chain is value-checked end to end.
    (plans/main_pipeline.write_store_bucketed; reference store DDL
    db_etl_update_db/update.py:71-89.)"""
    from ..operators.pivoting import melt
    from .main_pipeline import write_store_bucketed

    table = "gate_s18_store"
    # deterministic 1-in-10 subset: the write->bucket->read->aggregate
    # chain is equally proven at a tenth of the rows, and the full-rate
    # leg made this the sf1 sweep's second-heaviest gate (35 s of
    # bucketed-sort write). The bench's serve_bucketed_latest row still
    # measures the full-size store build+read separately.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 10 == 0
    ).select(
        F.concat(F.lit("A"), (F.col("l_suppkey") % 500).cast("string")).alias(
            "areaCode"
        ),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("date"),
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_discount").cast("double").alias("discount"),
    )
    long = melt(
        li, id_vars=["areaCode", "date"], value_vars=["qty", "price", "discount"]
    ).withColumnRenamed("areaCode", "area_code")
    long = long.withColumn("partition_id", F.lit("gate"))
    # fresh store per run: the gate proves THIS run's write->read chain,
    # and a stale location from a dead session would fail saveAsTable
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _scratch_store(spark, table)
    write_store_bucketed(long, table, buckets=16)
    return (
        spark.table(table)
        .groupBy("area_code", "metric")
        .agg(F.max(F.struct(F.col("date"), F.col("payload"))).alias("__top"))
        .select(
            "area_code",
            "metric",
            F.col("__top.date").alias("date"),
            F.col("__top.payload").alias("payload"),
        )
    )


S18_SQL = """
WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 10 = 0),
long AS (
    SELECT 'A' || CAST(l_suppkey % 500 AS VARCHAR) AS area_code,
           strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d') AS date,
           'qty' AS metric, CAST(l_quantity AS DOUBLE) AS payload
    FROM li
    UNION ALL
    SELECT 'A' || CAST(l_suppkey % 500 AS VARCHAR),
           strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d'),
           'price', CAST(l_extendedprice AS DOUBLE)
    FROM li
    UNION ALL
    SELECT 'A' || CAST(l_suppkey % 500 AS VARCHAR),
           strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d'),
           'discount', CAST(l_discount AS DOUBLE)
    FROM li
)
SELECT area_code, metric, date, payload
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY area_code, metric
        ORDER BY date DESC, payload DESC
    ) AS rn
    FROM long
)
WHERE rn = 1
"""

QUERIES["s18_serve_bucketed"] = s18_serve_bucketed
ORACLE["s18_serve_bucketed"] = S18_SQL


def s19_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip oracle for ``merge_upsert_store`` (the reference's
    ON-CONFLICT hash-upsert, uploader.py:300-325, over a parquet
    store). Release 1 (orders with orderkey % 7 != 0) is written with
    ``write_store``; release 2 arrives as a batch covering conflicts
    (rows present in release 1), inserts (orderkey % 7 == 0), an
    untouched partition (p2 gets no batch rows and must survive
    byte-for-byte), and identity DUPLICATES (each batch identity is
    emitted twice with different payloads, so the deterministic
    keep-max-payload dedup rule is load-bearing). The gate reads the
    merged store back and aggregates per (partition_id, release_id);
    the oracle replays the batch dedup (greatest of the two payload
    strings), the conflict rule (batch wins on hash), and the
    untouched-partition rule in SQL — any drift in any of the three
    fails the value hash. The store is read through ``read_store``, the
    merged view of the upsert's append and tombstones."""
    from .main_pipeline import merge_upsert_store, read_store, write_store

    orders = load_table(spark, sf_dir, "orders")
    h = F.md5(F.col("o_orderkey").cast("string").cast("binary")).alias("hash")
    part = F.concat(
        F.lit("p"), (F.col("o_custkey") % 3).cast("string")
    ).alias("partition_id")
    base = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        h,
        part,
        F.col("o_orderkey").cast("string").alias("payload"),
        F.lit(1).cast("long").alias("release_id"),
    )
    inc_src = orders.filter(
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_custkey") % 3 != 2)
    )
    inc = None
    for mult in (2, 3):
        leg = inc_src.select(
            h,
            part,
            (F.col("o_orderkey") * mult).cast("string").alias("payload"),
            F.lit(2).cast("long").alias("release_id"),
        )
        inc = leg if inc is None else inc.unionByName(leg)

    path = _scratch_store(spark, "gate_s19_store")
    write_store(base, path)
    merge_upsert_store(inc, path)
    merged = read_store(spark, path)
    return merged.groupBy("partition_id", "release_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("hash")).alias("n_hashes"),
        F.sum(F.col("payload").cast("double")).alias("sum_payload"),
    )


S19_SQL = """
WITH base AS (
    SELECT md5(CAST(o_orderkey AS VARCHAR)) AS hash,
           'p' || CAST(o_custkey % 3 AS VARCHAR) AS partition_id,
           CAST(o_orderkey AS VARCHAR) AS payload,
           CAST(1 AS BIGINT) AS release_id
    FROM orders WHERE o_orderkey % 7 <> 0
),
inc AS (
    SELECT md5(CAST(o_orderkey AS VARCHAR)) AS hash,
           'p' || CAST(o_custkey % 3 AS VARCHAR) AS partition_id,
           greatest(CAST(o_orderkey * 2 AS VARCHAR),
                    CAST(o_orderkey * 3 AS VARCHAR)) AS payload,
           CAST(2 AS BIGINT) AS release_id
    FROM orders WHERE o_orderkey % 3 = 0 AND o_custkey % 3 <> 2
),
final AS (
    SELECT * FROM inc
    UNION ALL
    SELECT b.* FROM base b
    WHERE NOT EXISTS (
        SELECT 1 FROM inc i
        WHERE i.hash = b.hash AND i.partition_id = b.partition_id
    )
)
SELECT partition_id, release_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT hash) AS BIGINT) AS n_hashes,
       SUM(CAST(payload AS DOUBLE)) AS sum_payload
FROM final
GROUP BY partition_id, release_id
"""

QUERIES["s19_merge_upsert"] = s19_merge_upsert
ORACLE["s19_merge_upsert"] = S19_SQL


def pipe19_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    dedup the way the paper runs it, composed from this engine's
    operators:

    1. cluster the embedding space (``assign_centroids`` over the
       deterministic seed set — zero-shuffle codegen assignment);
    2. within-cluster duplicate pairs above the cosine threshold —
       ``embedding_neardup_pairs_blas`` at nprobe=1 (the blocked-matmul
       kernel; candidates never cross clusters, exactly the paper's
       within-cluster pairwise pass);
    3. epsilon-groups = connected components over the pair graph
       (``dedup_components`` min-label propagation);
    4. the paper's keep rule: in each group keep the member with the
       LOWEST cosine similarity to its cluster centroid (the point
       farthest from the cluster core carries the most information),
       ties by smallest id.

    Output: one row per vector with its cluster, its epsilon-group
    canonical id, the rounded centroid similarity the keep rule sorted
    on, and the keep decision. The oracle replays every stage in SQL —
    assignment tie rule, rounded pair threshold, the unrolled
    Shiloach-Vishkin component rounds, and the keep-rule window."""
    from ..functions.dedup import dedup_components
    from ..functions.similarity import (
        assign_centroids,
        embedding_neardup_pairs_blas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    assigned = assign_centroids(emb, seeds)
    pairs = embedding_neardup_pairs_blas(
        emb, seeds, threshold=0.4, nprobe=1
    ).select(F.col("id_l").alias("id_a"), F.col("id_r").alias("id_b"))
    comps = dedup_components(pairs, emb.select("vec_id"), id_col="vec_id")
    scored = assigned.select(
        "vec_id",
        "centroid_id",
        F.round(F.col("centroid_score"), 6).alias("c_sim"),
    ).join(comps, "vec_id")
    w = Window.partitionBy("canonical_id").orderBy(
        F.col("c_sim").asc_nulls_last(), F.col("vec_id").asc()
    )
    return scored.select(
        "vec_id",
        "centroid_id",
        "canonical_id",
        (F.row_number().over(w) == 1).alias("kept"),
        "c_sim",
    )


def _pipe19_sql() -> str:
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assigned AS MATERIALIZED (
    SELECT vec_id, v, cid AS centroid_id,
           ROUND(cs, 6) AS c_sim
    FROM (
        SELECT e.vec_id, e.v, c.cid,
               list_cosine_similarity(e.v, c.cv) AS cs,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
               ) AS rn
        FROM e, cents c
    ) t WHERE rn = 1
),
pairs AS MATERIALIZED (
    SELECT l.vec_id AS id_a, r.vec_id AS id_b
    FROM assigned l JOIN assigned r
      ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id
    WHERE ROUND(list_cosine_similarity(l.v, r.v), 6) >= 0.4
),
documents AS (SELECT vec_id AS doc_id FROM e),
edges AS MATERIALIZED (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM pairs
),
{_cc_rounds_sql()}
SELECT a.vec_id,
       CAST(a.centroid_id AS BIGINT) AS centroid_id,
       c.label AS canonical_id,
       (ROW_NUMBER() OVER (
            PARTITION BY c.label
            ORDER BY a.c_sim ASC NULLS LAST, a.vec_id ASC
        ) = 1) AS kept,
       a.c_sim
FROM assigned a JOIN cc c ON a.vec_id = c.node
"""


QUERIES["pipe19_semdedup"] = pipe19_semdedup
ORACLE["pipe19_semdedup"] = _pipe19_sql()


def h7_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval fusion (functions.text.rrf_fuse — Reciprocal
    Rank Fusion, Cormack et al. SIGIR 2009): leg A is the b1 BM25
    top-20 for the 3-term query; leg B is a coverage-then-brevity
    ranking (distinct query terms present DESC, doc length ASC — the
    classic boolean-coverage signal BM25's saturation can invert).
    RRF fuses the two rank lists with k=60 and returns the fused
    top-10. Scores are fixed-order sums of exact double divisions, so
    the oracle replays them bit-for-bit; docs appearing in only one
    leg exercise the absent-leg-contributes-0 rule."""
    from pyspark.sql import Window as W

    from ..functions.text import bm25_topk, rrf_fuse, tokens

    docs = load_table(spark, sf_dir, "documents")
    lex = bm25_topk(
        docs, list(_B1_TERMS), k=20, k1=_BM25_K1, b=_BM25_B, log_idf=False
    )
    lex_rank = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    toks = tokens("text")

    # NB: a two-parameter lambda would make PySpark pass (element,
    # index) — a closure per term keeps the HOF unary
    def term_present(term: str):
        return (
            F.size(F.filter(toks, lambda x: x == F.lit(term))) > 0
        ).cast("int")

    coverage = None
    for t in _B1_TERMS:
        c = term_present(t)
        coverage = c if coverage is None else coverage + c
    cov = docs.select(
        "doc_id",
        coverage.alias("__cov"),
        F.size(toks).alias("__dl"),
    ).orderBy(
        F.col("__cov").desc(), F.col("__dl").asc(), F.col("doc_id").asc()
    ).limit(20)
    cov_rank = cov.select(
        "doc_id",
        F.row_number()
        .over(
            W.orderBy(
                F.col("__cov").desc(), F.col("__dl").asc(),
                F.col("doc_id").asc(),
            )
        )
        .alias("rank"),
    )
    return rrf_fuse([lex_rank, cov_rank], k=60, top_k=10)


H7_SQL = f"""
WITH {_B1_BASE_STATS_SQL},
lex AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r
    FROM (
        SELECT doc_id, {_B1_SCORE} AS score
        FROM base, stats
        ORDER BY score DESC, doc_id ASC
        LIMIT 20
    )
),
cov AS (
    SELECT doc_id, ROW_NUMBER() OVER (
        ORDER BY coverage DESC, dl ASC, doc_id ASC) AS r
    FROM (
        SELECT doc_id, dl,
               {' + '.join(f'(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)' for i in range(len(_B1_TERMS)))} AS coverage
        FROM base
        ORDER BY coverage DESC, dl ASC, doc_id ASC
        LIMIT 20
    )
),
fused AS (
    SELECT COALESCE(l.doc_id, c.doc_id) AS doc_id,
           COALESCE(1.0 / (60.0 + l.r), 0.0)
           + COALESCE(1.0 / (60.0 + c.r), 0.0) AS rrf_score
    FROM lex l FULL OUTER JOIN cov c ON l.doc_id = c.doc_id
)
SELECT doc_id, rrf_score, rank FROM (
    SELECT doc_id, rrf_score,
           CAST(ROW_NUMBER() OVER (
               ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rank
    FROM fused
)
WHERE rank <= 10
"""

QUERIES["h7_rrf_fusion"] = h7_rrf_fusion
ORACLE["h7_rrf_fusion"] = H7_SQL


def x22_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split — the production pretraining
    rule that x17's per-doc md5 coin cannot give: near-duplicate
    documents must land in the SAME split, or the eval set leaks
    training data. Composition: minhash(16) -> 2-band LSH pairs ->
    connected components (the near-dup groups) -> the md5 split coin
    thrown on the COMPONENT's canonical id instead of the doc id, so
    every member of a group inherits one decision. Per-(lang, split)
    ledger: doc and component counts + id bounds. The oracle replays
    the full chain (the d6 component prefix + the x17 coin on the
    label)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, k=16)
    pairs = lsh_candidate_pairs(sigs, k=16, bands=2)
    comp = dedup_components(pairs, docs.select("doc_id"))
    labeled = docs.select("doc_id", "lang").join(comp, "doc_id")
    out = split_corpus(
        labeled, id_col="canonical_id", val_fraction=0.1, test_fraction=0.1
    )
    return out.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("canonical_id").alias("n_components"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def _x22_sql() -> str:
    coin = _md5int_sql("CAST(l.label AS VARCHAR) || 'split'")
    return f"""
WITH {_lsh_cc_prefix_sql()},
s AS (
    SELECT d.doc_id, d.lang, l.label,
           CASE WHEN {coin} % 10000 < 1000 THEN 'val'
                WHEN {coin} % 10000 < 2000 THEN 'test'
                ELSE 'train' END AS split
    FROM documents d JOIN cc l ON d.doc_id = l.node
)
SELECT lang, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT label) AS BIGINT) AS n_components,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM s GROUP BY lang, split
"""


QUERIES["x22_leakage_safe_split"] = x22_leakage_safe_split
ORACLE["x22_leakage_safe_split"] = _x22_sql()


def pipe11_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ANN index build + query (the IVF pipeline pipe7 is to
    dedup): seed centroids (vec_id < 8) -> map-side assignment -> ONE
    Lloyd centroid update -> re-assignment = the built index ->
    ``cosine_topk_ivf`` over it for a small query set.

    The centroid update uses decimal sums (exact, order-independent)
    cast to double before the /count division, so the updated centroids
    — and therefore every downstream assignment and ranking decision —
    are bit-identical across engines and partitionings. The production
    path (``kmeans_lloyd``) keeps plain double means for speed; this
    gate proves the build->query composition itself.

    Scale: assignment is zero-shuffle codegen (assign_centroids); the
    update is one (cluster, dim) hash agg, k*64 rows out; the IVF query
    broadcasts only the query batch. Nothing here grows with corpus
    size except linear scans.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    a0 = assign_centroids(emb, seeds)
    dims = a0.select(
        "centroid_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    cents = (
        dims.groupBy("centroid_id", "dim")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(30,15)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .groupBy("centroid_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "m"))),
                lambda s: s.m,
            ).alias("centroid")
        )
    )
    indexed = assign_centroids(emb, cents).select(
        "vec_id", "embedding", "centroid_id"
    )
    queries = indexed.filter(F.col("vec_id") % 29 == 0)
    out = cosine_topk_ivf(
        indexed, queries, bucket_col="centroid_id", k=3
    )
    # decisions only (s1/c1 precedent): scores are matmul-order floats
    return out.select("query_id", "rank", "neighbor_id")


PIPE11_SQL = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
seeds AS (
    SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
),
a0 AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, s.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, s.cv) DESC, s.cid ASC
               ) AS rn
        FROM e, seeds s
    ) WHERE rn = 1
),
exploded AS (
    SELECT a0.cid, t.dim, e.v[t.dim] AS x
    FROM a0 JOIN e USING (vec_id),
         LATERAL (SELECT UNNEST(generate_series(1, 64)) AS dim) t
),
cents AS (
    SELECT cid,
           list(CAST(CAST(CAST(sx AS VARCHAR) AS DOUBLE) / n AS DOUBLE) ORDER BY dim) AS cv
    FROM (
        SELECT cid, dim,
               SUM(CAST(x AS DECIMAL(30,15))) AS sx,
               COUNT(*) AS n
        FROM exploded GROUP BY cid, dim
    ) GROUP BY cid
),
indexed AS (
    SELECT vec_id, v, cid AS centroid_id FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
               ) AS rn
        FROM e, cents c
    ) WHERE rn = 1
),
q AS (SELECT * FROM indexed WHERE vec_id % 29 = 0),
scored AS (
    SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
           list_cosine_similarity(q.v, i.v) AS score
    FROM q JOIN indexed i ON q.centroid_id = i.centroid_id
    WHERE q.vec_id <> i.vec_id
)
SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
    FROM scored
) WHERE rn <= 3
"""

QUERIES["pipe11_ann_index"] = pipe11_ann_index
ORACLE["pipe11_ann_index"] = PIPE11_SQL


from ..functions.dedup import editdist_pairs  # noqa: E402


def d9_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup: blocked Levenshtein pairs within 20
    edits (JVM banded DP via the levenshtein threshold arg; length-
    bucket blocking keeps the join equi-keyed — never all-pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return editdist_pairs(docs, max_distance=20)


D9_SQL = """
WITH t AS (
    SELECT doc_id, lang, text, LENGTH(text) AS n FROM documents
)
SELECT l.doc_id AS id_a, r.doc_id AS id_b,
       CAST(levenshtein(l.text, r.text) AS BIGINT) AS dist
FROM t l JOIN t r
  ON l.lang = r.lang AND l.doc_id < r.doc_id
 AND ABS(l.n - r.n) <= 20
WHERE levenshtein(l.text, r.text) <= 20
"""

QUERIES["d9_editdist_pairs"] = d9_editdist_pairs
ORACLE["d9_editdist_pairs"] = D9_SQL


def d10_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-cosine) near-dup pairs via IVF probe
    buckets: probe_assign(nprobe=2) -> explode onto buckets ->
    in-bucket self-join (id_l < id_r) -> first-shared-bucket dedup ->
    rounded-cosine threshold. Candidate generation is the bucketed
    scale path (never all-pairs); the oracle mirrors the probe and
    dedup decisions exactly, so recall choices are value-checked, not
    just row-counted."""
    from ..functions.similarity import embedding_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    return embedding_neardup_pairs(emb, seeds, threshold=0.35, nprobe=2)


D10_SQL = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
probes AS (
    SELECT vec_id, v, list(cid ORDER BY rn) AS buckets FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
               ) AS rn
        FROM e, cents c
    ) t WHERE rn <= 2
    GROUP BY vec_id, v
),
x AS (SELECT vec_id, v, buckets, UNNEST(buckets) AS b FROM probes),
pairs AS (
    SELECT l.vec_id AS id_l, r.vec_id AS id_r,
           ROUND(list_cosine_similarity(l.v, r.v), 6) AS cosine
    FROM x l JOIN x r ON l.b = r.b AND l.vec_id < r.vec_id
    WHERE l.b = list_min(list_intersect(l.buckets, r.buckets))
)
SELECT id_l, id_r, cosine FROM pairs WHERE cosine >= 0.35
"""

QUERIES["d10_embedding_neardup"] = d10_embedding_neardup
ORACLE["d10_embedding_neardup"] = D10_SQL


def d10b_embedding_neardup_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BLAS-kernel twin of d10 (similarity.embedding_neardup_pairs_blas):
    identical probe assignment, candidate generation, first-shared-bucket
    dedup, and HALF_UP rounded-cosine threshold — but the in-bucket
    scoring is one blocked float64 matmul per bucket instead of per-pair
    JVM folds (~17x faster at sf1). Decisions only (id pairs, no cosine
    column): matmul float ordering differs from a sequential fold in the
    low bits, so the value-checked contract is the KEPT PAIR SET. The
    oracle is d10's with the cosine projected away."""
    from ..functions.similarity import embedding_neardup_pairs_blas

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    return embedding_neardup_pairs_blas(emb, seeds, threshold=0.35, nprobe=2)


D10B_SQL = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
probes AS (
    SELECT vec_id, v, list(cid ORDER BY rn) AS buckets FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
               ) AS rn
        FROM e, cents c
    ) t WHERE rn <= 2
    GROUP BY vec_id, v
),
x AS (SELECT vec_id, v, buckets, UNNEST(buckets) AS b FROM probes),
pairs AS (
    SELECT l.vec_id AS id_l, r.vec_id AS id_r,
           ROUND(list_cosine_similarity(l.v, r.v), 6) AS cosine
    FROM x l JOIN x r ON l.b = r.b AND l.vec_id < r.vec_id
    WHERE l.b = list_min(list_intersect(l.buckets, r.buckets))
)
SELECT id_l, id_r FROM pairs WHERE cosine >= 0.35
"""

QUERIES["d10b_embedding_neardup_blas"] = d10b_embedding_neardup_blas
ORACLE["d10b_embedding_neardup_blas"] = D10B_SQL


from ..functions.curation import assign_shards, split_corpus  # noqa: E402


def x17_split_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (md5-coin, map-side): per
    (lang, split) doc counts — proving both the assignment and its
    reproducibility cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    out = split_corpus(docs, val_fraction=0.1, test_fraction=0.1)
    return out.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


X17_SQL = f"""
WITH b AS (
    SELECT doc_id, lang,
           {_md5int_sql("CAST(doc_id AS VARCHAR) || 'split'")} % 10000 AS bucket
    FROM documents
),
s AS (
    SELECT doc_id, lang,
           CASE WHEN bucket < 1000 THEN 'val'
                WHEN bucket < 2000 THEN 'test'
                ELSE 'train' END AS split
    FROM b
)
SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM s GROUP BY lang, split
"""

QUERIES["x17_split_corpus"] = x17_split_corpus
ORACLE["x17_split_corpus"] = X17_SQL


def x18_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard + within-shard position (the reproducible
    global shuffle for training-data output layout): 16 shards over the
    corpus, every row's (shard_id, shard_pos) fixed by its id hash."""
    docs = load_table(spark, sf_dir, "documents")
    return assign_shards(docs, n_shards=16).select(
        "doc_id", "shard_id", "shard_pos"
    )


X18_SQL = f"""
WITH k AS (
    SELECT doc_id,
           {_md5int_sql("CAST(doc_id AS VARCHAR) || 'shard'")} AS key
    FROM documents
)
SELECT doc_id, CAST(key % 16 AS BIGINT) AS shard_id,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY key % 16 ORDER BY key, doc_id) - 1 AS BIGINT)
           AS shard_pos
FROM k
"""

QUERIES["x18_shard_assign"] = x18_shard_assign
ORACLE["x18_shard_assign"] = X18_SQL


from ..functions.multimodal import extract_features  # noqa: E402


def m3_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal FEATURE-EXTRACT stage over REAL binary PPM (P6)
    files: w = max(len//3, 1) single-row raster carrying the doc text
    as pixel bytes (truncated to a multiple of 3, space-padded short
    docs), decoded by the real codec, then the 16-bin normalised
    pixel-byte histogram (numpy-vectorised mapInPandas). The oracle
    replays the raster construction and histogram over the same
    payload in SQL; the output embedding column is ANN-ready
    (cosine_topk input shape)."""
    docs = load_table(spark, sf_dir, "documents")
    # ASCII-sanitise: Python histograms UTF-8 BYTES, the oracle code
    # points — identical only for ASCII (see m2)
    media = docs.selectExpr(
        "doc_id AS media_id",
        r"regexp_replace(text, '[^\\x00-\\x7F]', '') AS t",
    ).selectExpr(
        "media_id",
        "'image' AS kind",
        "t",
        "greatest(length(t) div 3, 1) AS w",
    ).selectExpr(
        "media_id",
        "kind",
        "encode(concat('P6\n', cast(w as string), ' 1\n255\n',"
        " rpad(substring(t, 1, 3*w), 3*w, ' ')), 'UTF-8') AS content",
    )
    out = extract_features(media, dim=16)
    return out.select(
        "media_id", "kind", F.posexplode("embedding").alias("bucket", "frac")
    ).select(
        "media_id", "kind", F.col("bucket").cast("long").alias("bucket"), "frac"
    )


M3_SQL = r"""
WITH a AS (
    SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
    FROM documents
),
raster AS (
    SELECT doc_id, t, CAST(greatest(len(t) // 3, 1) AS INT) AS w FROM a
),
chars AS (
    SELECT doc_id AS media_id, 'image' AS kind,
           list_transform(
               string_split(rpad(substring(t, 1, 3*w), 3*w, ' '), ''),
               c -> ord(c) % 16) AS mods,
           3*w AS n
    FROM raster
),
hist AS (
    SELECT media_id, kind,
           [CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 0)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 1)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 2)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 3)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 4)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 5)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 6)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 7)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 8)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 9)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 10)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 11)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 12)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 13)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 14)) AS DOUBLE) / n END,
            CASE WHEN n = 0 THEN 0.0 ELSE CAST(len(list_filter(mods, x -> x = 15)) AS DOUBLE) / n END] AS h
    FROM chars
)
SELECT media_id, kind, CAST(t.i - 1 AS BIGINT) AS bucket, h[t.i] AS frac
FROM hist, LATERAL (SELECT UNNEST(generate_series(1, 16)) AS i) t
"""

QUERIES["m3_image_features"] = m3_image_features
ORACLE["m3_image_features"] = M3_SQL


def pipe12_training_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data LAYOUT pipeline — the user story the
    curation family exists for: exact-dedup keep-list -> deterministic
    train/val/test split -> train shard assignment -> per-shard layout
    stats (doc count, char volume, dense-position check). One lazy plan:
    dedup groupBy, split/shard map-side, ONE window on the shard key;
    nothing scales super-linearly with corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    reps = exact_dedup(docs).select(F.col("rep_id").alias("doc_id"))
    kept = docs.join(reps, "doc_id", "left_semi")
    train = split_corpus(kept, val_fraction=0.1, test_fraction=0.1).filter(
        F.col("split") == "train"
    )
    sharded = assign_shards(train, n_shards=8)
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        F.min("shard_pos").alias("min_pos"),
        F.max("shard_pos").alias("max_pos"),
    )


PIPE12_SQL = rf"""
WITH reps AS (
    SELECT MIN(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
),
kept AS (
    SELECT d.* FROM documents d JOIN reps USING (doc_id)
),
split AS (
    SELECT *,
           {{md5split}} % 10000 AS bucket
    FROM kept
),
train AS (
    SELECT *, {{md5shard}} AS key
    FROM split WHERE bucket >= 2000
),
sharded AS (
    SELECT *, key % 8 AS shard_id,
           ROW_NUMBER() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) - 1
               AS shard_pos
    FROM train
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(shard_pos) AS BIGINT) AS min_pos,
       CAST(MAX(shard_pos) AS BIGINT) AS max_pos
FROM sharded GROUP BY shard_id
"""

PIPE12_SQL = PIPE12_SQL.format(
    md5split=_md5int_sql("CAST(doc_id AS VARCHAR) || 'split'"),
    md5shard=_md5int_sql("CAST(doc_id AS VARCHAR) || 'shard'"),
)

QUERIES["pipe12_training_layout"] = pipe12_training_layout
ORACLE["pipe12_training_layout"] = PIPE12_SQL


from ..operators.asof import interval_overlap_join  # noqa: E402


def j14_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join (grid-bucketed equi-join with
    first-shared-cell dedup — no distinct shuffle, never all-pairs):
    30-minute click windows vs 45-minute view windows for a user
    subset."""
    ev = load_table(spark, sf_dir, "events")

    def windows(etype: str, minutes: int) -> DataFrame:
        us = ts_micros("ts")
        return (
            ev.filter(
                (F.col("event_type") == etype) & (F.col("user_id") < 50)
            )
            .select(
                F.col("event_id").alias("interval_id"),
                us.alias("start_us"),
                (us + F.lit(minutes * 60 * 1_000_000)).alias("end_us"),
            )
        )

    out = interval_overlap_join(
        windows("click", 30), windows("view", 45), bucket_seconds=1800
    )
    return out.select("l_id", "r_id")


J14_SQL = """
WITH l AS (
    SELECT event_id AS id, epoch_us(ts) AS s,
           epoch_us(ts) + 30 * 60 * CAST(1000000 AS BIGINT) AS e
    FROM events WHERE event_type = 'click' AND user_id < 50
),
r AS (
    SELECT event_id AS id, epoch_us(ts) AS s,
           epoch_us(ts) + 45 * 60 * CAST(1000000 AS BIGINT) AS e
    FROM events WHERE event_type = 'view' AND user_id < 50
)
SELECT l.id AS l_id, r.id AS r_id
FROM l JOIN r ON l.s < r.e AND r.s < l.e
"""

QUERIES["j14_interval_overlap"] = j14_interval_overlap
ORACLE["j14_interval_overlap"] = J14_SQL


def j14b_interval_overlap_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT interval-overlap join: click windows overlapping no view
    window survive with NULL ``r_id``. The grid side fans left intervals
    onto many cells, so misses are restored with a LEFT ANTI join on the
    (unique) left interval id rather than in the ON clause — one extra
    narrow exchange, still never all-pairs."""
    ev = load_table(spark, sf_dir, "events")

    def windows(etype: str, minutes: int) -> DataFrame:
        us = ts_micros("ts")
        return (
            ev.filter(
                (F.col("event_type") == etype) & (F.col("user_id") < 50)
            )
            .select(
                F.col("event_id").alias("interval_id"),
                us.alias("start_us"),
                (us + F.lit(minutes * 60 * 1_000_000)).alias("end_us"),
            )
        )

    out = interval_overlap_join(
        windows("click", 30), windows("view", 45),
        bucket_seconds=1800, how="left",
    )
    return out.select("l_id", "r_id")


J14B_SQL = """
WITH l AS (
    SELECT event_id AS id, epoch_us(ts) AS s,
           epoch_us(ts) + 30 * 60 * CAST(1000000 AS BIGINT) AS e
    FROM events WHERE event_type = 'click' AND user_id < 50
),
r AS (
    SELECT event_id AS id, epoch_us(ts) AS s,
           epoch_us(ts) + 45 * 60 * CAST(1000000 AS BIGINT) AS e
    FROM events WHERE event_type = 'view' AND user_id < 50
)
SELECT l.id AS l_id, r.id AS r_id
FROM l LEFT JOIN r ON l.s < r.e AND r.s < l.e
"""

QUERIES["j14b_interval_overlap_left"] = j14b_interval_overlap_left
ORACLE["j14b_interval_overlap_left"] = J14B_SQL


from ..streaming.windows import join_streams_within  # noqa: E402


def st5_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream correlation join in batch mode: clicks
    joined to the same user's views within ±10 minutes of event time.
    The identical expression deploys on two live streams with bounded
    state (both sides watermarked); the oracle proves the batch
    closure."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(
        (F.col("event_type") == "click") & (F.col("user_id") < 100)
    ).select("user_id", F.col("event_id").alias("click_id"), "ts")
    views = ev.filter(
        (F.col("event_type") == "view") & (F.col("user_id") < 100)
    ).select("user_id", F.col("event_id").alias("view_id"), "ts")
    out = join_streams_within(
        clicks, views, keys=["user_id"], before="10 minutes", after="10 minutes"
    )
    return out.select(
        "user_id",
        "click_id",
        "view_id",
        ts_micros("ts").alias("click_ts_us"),
        ts_micros("right_ts_out").alias("view_ts_us"),
    )


ST5_SQL = """
WITH c AS (
    SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
    FROM events WHERE event_type = 'click' AND user_id < 100
),
v AS (
    SELECT user_id, event_id AS view_id, epoch_us(ts) AS vus
    FROM events WHERE event_type = 'view' AND user_id < 100
)
SELECT c.user_id, c.click_id, v.view_id,
       c.cus AS click_ts_us, v.vus AS view_ts_us
FROM c JOIN v ON c.user_id = v.user_id
 AND v.vus >= c.cus - 10 * 60 * CAST(1000000 AS BIGINT)
 AND v.vus <= c.cus + 10 * 60 * CAST(1000000 AS BIGINT)
"""

QUERIES["st5_stream_stream_join"] = st5_stream_stream_join
ORACLE["st5_stream_stream_join"] = ST5_SQL


from ..functions.similarity import probe_assign  # noqa: E402


def s3_ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF search (nprobe=2): each query searches its TWO
    nearest centroid cells — the standard IVF recall lever. Probe
    selection is a zero-shuffle literal-centroid expression; the search
    kernel masks candidates by probe-set membership."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    indexed = assign_centroids(emb, cents).select(
        "vec_id", "embedding", "centroid_id"
    )
    queries = probe_assign(
        indexed.filter(F.col("vec_id") % 41 == 0), cents, nprobe=2
    )
    out = cosine_topk_ivf(
        indexed, queries, bucket_col="centroid_id", k=3,
        probe_col="probe_buckets",
    )
    return out.select("query_id", "rank", "neighbor_id")


S3_SQL = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assigned AS (
    SELECT vec_id, v, cid AS centroid_id FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
               ) AS rn
        FROM e, c
    ) WHERE rn = 1
),
probes AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
               ) AS rn
        FROM e, c
    ) WHERE rn <= 2
),
q AS (SELECT * FROM probes WHERE vec_id % 41 = 0),
scored AS (
    SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
           list_cosine_similarity(q.v, a.v) AS score
    FROM q JOIN assigned a ON q.cid = a.centroid_id
    WHERE q.vec_id <> a.vec_id
),
dedup AS (SELECT DISTINCT query_id, neighbor_id, score FROM scored)
SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
    FROM dedup
) WHERE rn <= 3
"""

QUERIES["s3_ann_ivf_nprobe"] = s3_ann_ivf_nprobe
ORACLE["s3_ann_ivf_nprobe"] = S3_SQL


def s4_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of single-probe IVF search against brute-force ground
    truth, per query — the measurement a real ANN deployment tunes
    nprobe/n_buckets by ("measure, don't guess" applied to recall, not
    just latency). Both arms are deterministic, so recall itself is
    exactly reproducible cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    indexed = assign_centroids(emb, cents).select(
        "vec_id", "embedding", "centroid_id"
    )
    queries = indexed.filter(F.col("vec_id") % 41 == 0)
    truth = cosine_topk(indexed, queries, k=5).select(
        "query_id", F.col("neighbor_id").alias("true_id")
    )
    approx = cosine_topk_ivf(
        indexed, queries, bucket_col="centroid_id", k=5
    ).select("query_id", F.col("neighbor_id").alias("got_id"))
    hits = truth.join(
        approx,
        (truth["query_id"] == approx["query_id"])
        & (truth["true_id"] == approx["got_id"]),
        "left",
    ).groupBy(truth["query_id"].alias("query_id")).agg(
        (F.count("got_id") / F.lit(5.0)).alias("recall_at_5")
    )
    return hits


S4_SQL = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assigned AS (
    SELECT vec_id, v, cid AS centroid_id FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
               ) AS rn
        FROM e, c
    ) WHERE rn = 1
),
q AS (SELECT * FROM assigned WHERE vec_id % 41 = 0),
truth AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.v, a.v) DESC, a.vec_id ASC
               ) AS rn
        FROM q, assigned a WHERE q.vec_id <> a.vec_id
    ) WHERE rn <= 5
),
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.v, a.v) DESC, a.vec_id ASC
               ) AS rn
        FROM q JOIN assigned a ON q.centroid_id = a.centroid_id
        WHERE q.vec_id <> a.vec_id
    ) WHERE rn <= 5
)
SELECT t.query_id,
       COUNT(ap.neighbor_id) / 5.0 AS recall_at_5
FROM truth t LEFT JOIN approx ap
  ON t.query_id = ap.query_id AND t.neighbor_id = ap.neighbor_id
GROUP BY t.query_id
"""

QUERIES["s4_ann_recall"] = s4_ann_recall
ORACLE["s4_ann_recall"] = S4_SQL


from ..functions.similarity import kmeans_lloyd  # noqa: E402


def c2_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full iterative Lloyd k-means over the embedding corpus (k=8,
    3 rounds, deterministic smallest-id seeding, localCheckpoint-bounded
    lineage) in ``exact=True`` mode: every centroid update is a
    decimal(30,15) SUM (exact, order/partitioning-independent) cast to
    double before the /count division, so all three rounds of centroids
    are bit-identical across engines. Assignments compare double
    cosines with matching fold order and id tie-breaks (the same
    contract every ANN gate in this registry relies on; near-tie
    epsilon flips are possible in principle, not observed at any tested
    scale). The oracle unrolls the three Lloyd rounds as repeated CTEs
    (the pipe11 single-round technique, iterated).

    The production default (``exact=False``, plain double avg) trades
    that reproducibility for one fewer decimal pass per round; the
    assignment plan is identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _cents = kmeans_lloyd(emb, k=8, n_iter=3, exact=True)
    return assigned.select("vec_id", "centroid_id")


def _c2_round_sql(a: str, prev_c: str, x: str, nxt_c: str) -> str:
    """One unrolled Lloyd round (assign vs ``prev_c`` -> exact update
    into ``nxt_c``) as DuckDB CTE clauses. Python-side string assembly
    only — the emitted SQL is static per gate run."""
    return f"""
{a} AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
               ) AS rn
        FROM e, {prev_c} c
    ) WHERE rn = 1
),
{x} AS (
    SELECT {a}.cid, t.dim, e.v[t.dim] AS x
    FROM {a} JOIN e USING (vec_id),
         LATERAL (SELECT UNNEST(generate_series(1, 64)) AS dim) t
),
{nxt_c} AS (
    SELECT cid,
           list(CAST(CAST(CAST(sx AS VARCHAR) AS DOUBLE) / n AS DOUBLE) ORDER BY dim) AS cv
    FROM (
        SELECT cid, dim,
               SUM(CAST(x AS DECIMAL(30,15))) AS sx,
               COUNT(*) AS n
        FROM {x} GROUP BY cid, dim
    ) GROUP BY cid
)"""


C2_SQL = (
    """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
seeds AS (
    SELECT CAST(rn - 1 AS BIGINT) AS cid, v AS cv FROM (
        SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e
    ) WHERE rn <= 8
),"""
    + _c2_round_sql("a0", "seeds", "x0", "c1")
    + ","
    + _c2_round_sql("a1", "c1", "x1", "c2")
    + ","
    + _c2_round_sql("a2", "c2", "x2", "c3")
    + """
SELECT vec_id, cid AS centroid_id FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
           ) AS rn
    FROM e, c3 c
) WHERE rn = 1
"""
)

QUERIES["c2_kmeans_lloyd"] = c2_kmeans_lloyd
ORACLE["c2_kmeans_lloyd"] = C2_SQL


# --------------------------------------------------------------------------
# round 5: mergeable sketches, rollup, nearest as-of, span dedup, TPC-H
# breadth (q4/q18 shapes on the reduced synthetic schema)
# --------------------------------------------------------------------------
from ..functions.sketches import (  # noqa: E402
    countmin_lookup,
    countmin_sketch,
    hll_registers,
    hll_summary,
)
from ..functions.dedup import duplicated_spans  # noqa: E402

_HLL_P = 9
_HLL_M = 1 << _HLL_P
_HLL_ALPHA_M2 = (0.7213 / (1.0 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M
_HLL_ITEM_SQL = "CAST(event_id AS VARCHAR)"


def sk1_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table over event ids: the full mergeable
    sketch state (<= 2^p rows whatever the input size), every register
    derived from md5 so the oracle rebuilds it bit-for-bit. The groupBy
    map-side combines to <= 2^p rows per task — constant shuffle at any
    corpus size (cf. exact COUNT(DISTINCT) patterns in the reference's
    db_etl/homepage_graphs/queries.py, which shuffle every key)."""
    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev, F.col("event_id").cast("string"), p=_HLL_P)
    return regs.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("max_rank").cast("long").alias("max_rank"),
    )


def _hll_regs_sql(
    p: int = None, item_sql: str = None,
    group_sql: str = "", from_sql: str = "events",
) -> str:
    """The ONE SQL rendering of the HLL bucket/rank derivation — every
    HLL gate's oracle (sk1/sk1b/sk3/pipe13) builds from this so the
    rank formula cannot drift between copies. ``group_sql`` is a
    trailing-comma column prefix (e.g. ``"lang, "``)."""
    p = _HLL_P if p is None else p
    item_sql = _HLL_ITEM_SQL if item_sql is None else item_sql
    m = 1 << p
    h = _md5int_sql(item_sql)
    wbits = 60 - p
    return f"""
hashed AS (SELECT {group_sql}{h} AS h FROM {from_sql}),
regs AS (
    SELECT {group_sql}CAST(h % {m} AS BIGINT) AS bucket,
           CAST(CASE WHEN h // {m} = 0 THEN {wbits + 1}
                     ELSE {wbits} - length(printf('%b', h // {m})) + 1
                END AS BIGINT) AS rank
    FROM hashed
)"""


SK1_SQL = (
    "WITH "
    + _hll_regs_sql()
    + """
SELECT bucket, MAX(rank) AS max_rank FROM regs GROUP BY bucket
"""
)


def sk1b_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row HLL summary next to the exact answer: the harmonic-mean
    denominator is an EXACT decimal sum of integer powers of two, so
    both engines agree bit-for-bit; only the final alpha*m^2 correction
    touches doubles (mul/div only). rel_err documents the sketch's
    accuracy against COUNT(DISTINCT) on the same data."""
    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev, F.col("event_id").cast("string"), p=_HLL_P)
    summ = hll_summary(regs, p=_HLL_P)
    exact = ev.agg(
        F.countDistinct(F.col("event_id").cast("string")).alias(
            "exact_distinct"
        )
    )
    out = summ.crossJoin(exact)
    rel = F.abs(
        F.col("raw_estimate") - F.col("exact_distinct").cast("double")
    ) / F.col("exact_distinct").cast("double")
    return out.select(
        "m", "v_empty", "s_scaled", "raw_estimate", "exact_distinct",
        rel.alias("rel_err"),
    )


_HLL_SCALE = 1 << (61 - _HLL_P)  # empty-bucket contribution; sum fits int64

SK1B_SQL = (
    "WITH "
    + _hll_regs_sql()
    + f""",
r AS (SELECT bucket, MAX(rank) AS max_rank FROM regs GROUP BY bucket),
s AS (
    SELECT COUNT(*) AS present,
           CAST(SUM(CAST(1 AS BIGINT) << ({61 - _HLL_P} - max_rank))
                AS BIGINT) AS s_occ
    FROM r
),
x AS (SELECT COUNT(DISTINCT {_HLL_ITEM_SQL}) AS exact_distinct FROM events),
f AS (
    SELECT CAST({_HLL_M} AS BIGINT) AS m,
           CAST({_HLL_M} - present AS BIGINT) AS v_empty,
           CAST(s_occ + ({_HLL_M} - present) * CAST({_HLL_SCALE} AS BIGINT)
                AS BIGINT) AS s_scaled,
           exact_distinct
    FROM s, x
)
SELECT m, v_empty, s_scaled,
       CAST({_HLL_ALPHA_M2 * float(_HLL_SCALE)!r} AS DOUBLE)
           / CAST(s_scaled AS DOUBLE) AS raw_estimate,
       exact_distinct,
       abs(CAST({_HLL_ALPHA_M2 * float(_HLL_SCALE)!r} AS DOUBLE)
           / CAST(s_scaled AS DOUBLE)
           - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE)
           AS rel_err
FROM f
"""
)

_CM_D = 4
_CM_W = 512


def sk2_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter check: build the bounded
    (depth x width) frequency sketch over event user_ids, then probe it
    for the exact top-20 users — emitting true count next to the sketch
    upper bound. All-integer md5 arithmetic: the oracle rebuilds the
    sketch exactly. Sketch shuffle is bounded by depth*width, not by
    the key cardinality."""
    ev = load_table(spark, sf_dir, "events")
    item = F.col("user_id").cast("string")
    sk = countmin_sketch(ev, item, depth=_CM_D, width=_CM_W)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.desc("true_n"), F.asc("user_id"))
        .limit(20)
    )
    est = countmin_lookup(sk, top, item, depth=_CM_D, width=_CM_W)
    return est.select("user_id", "true_n", "cm_estimate")


def _salted_mod_sql(salt_expr: str, item_expr: str, modulus: int) -> str:
    """SQL twin of sketches._salted_mod — the one salted-hash formula
    count-min and bloom share; build and probe must agree exactly."""
    return (
        _md5int_sql(
            f"concat(CAST({salt_expr} AS VARCHAR), '|', {item_expr})"
        )
        + f" % {modulus}"
    )


def _cm_hash_sql(row_expr: str, item_expr: str) -> str:
    return _salted_mod_sql(row_expr, item_expr, _CM_W)


SK2_SQL = f"""
WITH sk AS (
    -- NULL items are not observations (mirrors countmin_sketch's
    -- item.isNotNull() filter; DuckDB concat would otherwise hash
    -- NULLs into phantom cells Spark never builds)
    SELECT t.r AS row, {_cm_hash_sql('t.r', 'CAST(user_id AS VARCHAR)')} AS col,
           COUNT(*) AS cnt
    FROM events, range({_CM_D}) t(r)
    WHERE user_id IS NOT NULL
    GROUP BY 1, 2
),
top AS (
    SELECT user_id, COUNT(*) AS true_n FROM events
    GROUP BY 1 ORDER BY true_n DESC, user_id ASC LIMIT 20
),
probe AS (
    SELECT top.user_id, top.true_n, t.r AS row,
           {_cm_hash_sql('t.r', 'CAST(top.user_id AS VARCHAR)')} AS col
    FROM top, range({_CM_D}) t(r)
)
SELECT p.user_id, p.true_n,
       -- NULL candidates estimate to NULL (countmin_lookup parity:
       -- never counted into the sketch, so 0 would masquerade as exact)
       CASE WHEN p.user_id IS NULL THEN NULL
            ELSE MIN(COALESCE(sk.cnt, 0)) END AS cm_estimate
FROM probe p LEFT JOIN sk ON sk.row = p.row AND sk.col = p.col
GROUP BY 1, 2
"""


def d11_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage detection (the 'Deduplicating Training
    Data Makes Language Models Better' exact-substring pass as token
    windows): every 8-token span occurring in >= 2 distinct documents,
    with spread counts. One groupBy on a uniform md5 key; no pairwise
    expansion, no suffix sort."""
    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(docs, span_tokens=8, min_docs=2)


D11_SQL = """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), t -> t <> '') AS tk
    FROM documents
),
spans AS (
    SELECT doc_id,
           md5(array_to_string(tk[g.i : g.i + 7], ' ')) AS fp
    FROM toks, LATERAL (
        SELECT UNNEST(generate_series(1, len(tk) - 7)) AS i
    ) g
    WHERE len(tk) >= 8
)
SELECT fp,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences,
       MIN(doc_id) AS first_doc
FROM spans
GROUP BY fp
HAVING COUNT(DISTINCT doc_id) >= 2
"""


def j11c_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof
    direction='nearest'): each click matches the user's CLOSEST signup
    in either time direction, ties broken toward the past. Same single
    shuffle as j11 — both window frames evaluate inside one partition
    pipeline (two in-partition sorts, zero extra exchanges)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("ref_event"))
    )
    out = asof_join(
        clicks,
        signups,
        keys=["user_id"],
        right_cols=["ref_event"],
        direction="nearest",
    )
    return out.select(
        "user_id",
        "event_id",
        ts_micros("ts").alias("ts_us"),
        "asof_ts_us",
        "ref_event",
    )


J11C_SQL = """
WITH l AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us
    FROM events WHERE event_type = 'click'
),
r AS (
    SELECT user_id, epoch_us(ts) AS rus, MAX(event_id) AS ref_event
    FROM events WHERE event_type = 'signup'
    GROUP BY user_id, epoch_us(ts)
),
b AS (
    SELECT l.user_id, l.event_id, l.ts_us,
           r.rus AS brus, r.ref_event AS bref
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND r.rus <= l.ts_us
),
m AS (
    SELECT b.*, r.rus AS frus, r.ref_event AS fref
    FROM b ASOF LEFT JOIN r
      ON b.user_id = r.user_id AND r.rus >= b.ts_us
)
SELECT user_id, event_id, ts_us,
       CASE WHEN brus IS NULL THEN frus
            WHEN frus IS NULL THEN brus
            WHEN (frus - ts_us) < (ts_us - brus) THEN frus
            ELSE brus END AS asof_ts_us,
       CASE WHEN brus IS NULL THEN fref
            WHEN frus IS NULL THEN bref
            WHEN (frus - ts_us) < (ts_us - brus) THEN fref
            ELSE bref END AS ref_event
FROM m
"""


def g5_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (subtotal lattice) over (event_type, month)
    with per-column GROUPING flags — the multi-level summary shape the
    reference materialises as separate queries per level
    (db_etl/homepage_graphs/queries.py runs one query per breakdown);
    one rollup pass computes the whole lattice with map-side partials."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    )
    # grand-total rows sum the WHOLE table, so the value column is
    # exact integer micro-units end-to-end: a wide-decimal->double cast
    # would diverge between engines in the last ulp once the unscaled
    # total passes 2^53 (the sketches.py finding), and the gate compares
    # floats exactly. BIGINT sums overflow loudly under ANSI instead.
    micro = (F.col("value").cast(DEC) * 1_000_000).cast("decimal(24,0)")
    return (
        ev.rollup("event_type", "month")
        .agg(
            F.grouping("event_type").cast("long").alias("g_type"),
            F.grouping("month").cast("long").alias("g_month"),
            F.sum(micro).cast("long").alias("val_micro"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("event_type", "month", "g_type", "g_month", "val_micro", "n")
    )


G5_SQL = """
SELECT event_type, month,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(GROUPING(month) AS BIGINT) AS g_month,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                     AS DECIMAL(24,0))) AS BIGINT) AS val_micro,
       COUNT(*) AS n
FROM (SELECT event_type, strftime(ts, '%Y-%m') AS month, value FROM events)
GROUP BY ROLLUP(event_type, month)
"""

_Q4_LATE_US = 60 * 86_400 * 1_000_000  # shipped > 60 days after order


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape on the reduced schema: count orders per priority
    having at least one late lineitem (shipped > 60 days after the
    order date). LEFT SEMI join — the existence probe never duplicates
    orders, and both sides shuffle once on the order key."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        ts_micros("o_orderdate").alias("__od_us"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", ts_micros("l_shipdate").alias("__ship_us")
    )
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("__ship_us") > F.col("__od_us") + F.lit(_Q4_LATE_US)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


Q4_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_late_orders
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND epoch_us(l.l_shipdate) > epoch_us(o.o_orderdate)
                                   + CAST({_Q4_LATE_US} AS BIGINT)
)
GROUP BY o_orderpriority
"""

_Q18_MIN_QTY = 180


def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (total quantity > 180) with
    their customer. The HAVING filter runs on the partial-aggregated
    lineitem BEFORE the joins, so only ~10% of orders reach the
    customer join; the dimension join shuffles on the already-reduced
    side."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"))
        .filter(F.col("sum_qty") > _Q18_MIN_QTY)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


Q18_SQL = f"""
WITH big AS (
    SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sum_qty
    FROM lineitem GROUP BY 1
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > {_Q18_MIN_QTY}
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_date,
       o.o_totalprice, CAST(big.sum_qty AS DOUBLE) AS sum_qty
FROM big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""

QUERIES.update({
    "sk1_hll_registers": sk1_hll_registers,
    "sk1b_hll_estimate": sk1b_hll_estimate,
    "sk2_countmin_heavy": sk2_countmin_heavy,
    "d11_span_dedup": d11_span_dedup,
    "j11c_asof_nearest": j11c_asof_nearest,
    "g5_rollup_events": g5_rollup_events,
    "q4_order_priority": q4_order_priority,
    "q18_large_volume": q18_large_volume,
})
ORACLE.update({
    "sk1_hll_registers": SK1_SQL,
    "sk1b_hll_estimate": SK1B_SQL,
    "sk2_countmin_heavy": SK2_SQL,
    "d11_span_dedup": D11_SQL,
    "j11c_asof_nearest": J11C_SQL,
    "g5_rollup_events": G5_SQL,
    "q4_order_priority": Q4_SQL,
    "q18_large_volume": Q18_SQL,
})


from ..operators.rolling import ewma_halving  # noqa: E402


def w10_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted smoothing over the daily panel: truncated
    half-decay EWMA, exact-integer numerator/denominator so both
    engines produce the identical double (see ewma_halving).

    NULL panel values are excluded up front in BOTH engines: Spark's
    collect_list skips NULLs while DuckDB's list() keeps them, so an
    unfiltered NULL would shift the window length and the weights."""
    daily = _daily(spark, sf_dir).filter(F.col("val_d").isNotNull())
    out = ewma_halving(
        daily, ["event_type"], "date", "val_d", lags=10, out="ewma"
    )
    return out.select("event_type", "date", "ewma")


W10_SQL = (
    "WITH "
    + _DAILY_SQL.strip()
    + """,
e AS (
    SELECT event_type, date,
           CAST(CAST(val_d * 1000000 AS DECIMAL(24,0)) AS BIGINT) AS xs
    FROM daily
    WHERE val_d IS NOT NULL
),
win AS (
    SELECT event_type, date,
           list(xs) OVER (
               PARTITION BY event_type ORDER BY date
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
           ) AS arr
    FROM e
)
SELECT event_type, date,
       CAST(CAST(list_sum(list_transform(arr,
                (v, i) -> v * (CAST(1 AS BIGINT) << (9 - (len(arr) - i)))))
            AS BIGINT) AS DOUBLE)
       / CAST(((CAST(1 AS BIGINT) << 10)
               - (CAST(1 AS BIGINT) << (10 - len(arr)))) * 1000000
              AS DOUBLE) AS ewma
FROM win
"""
)


def g6_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE lattice over (event_type, month): every grouping combination
    in one pass (g5 covers the ROLLUP prefix lattice; CUBE adds the
    month-only slice)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    )
    # exact integer micro-units for the same reason as g5
    micro = (F.col("value").cast(DEC) * 1_000_000).cast("decimal(24,0)")
    return (
        ev.cube("event_type", "month")
        .agg(
            F.grouping("event_type").cast("long").alias("g_type"),
            F.grouping("month").cast("long").alias("g_month"),
            F.sum(micro).cast("long").alias("val_micro"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("event_type", "month", "g_type", "g_month", "val_micro", "n")
    )


G6_SQL = """
SELECT event_type, month,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(GROUPING(month) AS BIGINT) AS g_month,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                     AS DECIMAL(24,0))) AS BIGINT) AS val_micro,
       COUNT(*) AS n
FROM (SELECT event_type, strftime(ts, '%Y-%m') AS month, value FROM events)
GROUP BY CUBE(event_type, month)
"""

QUERIES.update({
    "w10_ewma": w10_ewma,
    "g6_cube_events": g6_cube_events,
})
ORACLE.update({
    "w10_ewma": W10_SQL,
    "g6_cube_events": G6_SQL,
})


_SK3_P = 7
_SK3_M = 1 << _SK3_P
_SK3_SCALE = 1 << (61 - _SK3_P)
_SK3_ALPHA_M2 = (0.7213 / (1.0 + 1.079 / _SK3_M)) * _SK3_M * _SK3_M
_SK3_ITEM_SQL = "concat(CAST(user_id AS VARCHAR), '|', strftime(ts, '%Y-%m-%d'))"


def sk3_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key HLL sketches in ONE pass: distinct (user, day) estimate
    per event_type next to the exact count — the distinct-per-partition
    monitoring shape that at 100 TB replaces a per-key exact
    COUNT(DISTINCT) shuffle of every (user, day) pair with a
    groups x 2^p bounded aggregate."""
    ev = load_table(spark, sf_dir, "events")
    item = F.concat(
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.date_format("ts", "yyyy-MM-dd"),
    )
    regs = hll_registers(ev, item, p=_SK3_P, group_cols=("event_type",))
    summ = hll_summary(regs, p=_SK3_P, group_cols=("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct(
            F.col("user_id"), F.date_format("ts", "yyyy-MM-dd")
        ).alias("exact_distinct")
    )
    out = summ.join(exact, "event_type")
    rel = F.abs(
        F.col("raw_estimate") - F.col("exact_distinct").cast("double")
    ) / F.col("exact_distinct").cast("double")
    return out.select(
        "event_type", "m", "v_empty", "s_scaled", "raw_estimate",
        "exact_distinct", rel.alias("rel_err"),
    )


SK3_SQL = (
    "WITH "
    + _hll_regs_sql(p=_SK3_P, item_sql=_SK3_ITEM_SQL,
                    group_sql="event_type, ")
    + f""",
r AS (
    SELECT event_type, bucket, MAX(rank) AS max_rank
    FROM regs GROUP BY 1, 2
),
s AS (
    SELECT event_type, COUNT(*) AS present,
           CAST(SUM(CAST(1 AS BIGINT) << ({61 - _SK3_P} - max_rank))
                AS BIGINT) AS s_occ
    FROM r GROUP BY 1
),
x AS (
    SELECT event_type,
           COUNT(DISTINCT (user_id, strftime(ts, '%Y-%m-%d')))
               AS exact_distinct
    FROM events GROUP BY 1
),
f AS (
    SELECT s.event_type,
           CAST({_SK3_M} AS BIGINT) AS m,
           CAST({_SK3_M} - present AS BIGINT) AS v_empty,
           CAST(s_occ + ({_SK3_M} - present) * CAST({_SK3_SCALE} AS BIGINT)
                AS BIGINT) AS s_scaled,
           exact_distinct
    FROM s JOIN x ON s.event_type = x.event_type
)
SELECT event_type, m, v_empty, s_scaled,
       CAST({_SK3_ALPHA_M2 * float(_SK3_SCALE)!r} AS DOUBLE)
           / CAST(s_scaled AS DOUBLE) AS raw_estimate,
       exact_distinct,
       abs(CAST({_SK3_ALPHA_M2 * float(_SK3_SCALE)!r} AS DOUBLE)
           / CAST(s_scaled AS DOUBLE)
           - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE)
           AS rel_err
FROM f
"""
)

QUERIES["sk3_hll_grouped"] = sk3_hll_grouped
ORACLE["sk3_hll_grouped"] = SK3_SQL


from ..functions.sketches import bloom_bits, bloom_probe  # noqa: E402

_BLOOM_M = 65536
_BLOOM_K = 4


def sk4_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pre-filter, made explicit: build the
    set-bit table over high-balance customers, probe every ordering
    customer, and emit the bloom verdict next to ground truth. The
    bit table is bounded (<= m rows) and broadcasts; the probe side
    never shuffles — the pattern that drops definitively-absent rows
    at 100 TB before the real join moves any data (Spark's runtime
    join bloom pushdown, as a persistable cross-engine artifact).
    No-false-negative guarantee is visible in the output: every
    actually_present row has maybe_present = true."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 5000
    )
    bits = bloom_bits(
        cust, F.col("c_custkey").cast("string"),
        m_bits=_BLOOM_M, k_hashes=_BLOOM_K,
    )
    cand = load_table(spark, sf_dir, "orders").select(
        "o_custkey"
    ).distinct()
    probed = bloom_probe(
        bits, cand, F.col("o_custkey").cast("string"),
        m_bits=_BLOOM_M, k_hashes=_BLOOM_K,
    )
    truth = cust.select(
        F.col("c_custkey").alias("o_custkey"), F.lit(1).alias("__t")
    ).distinct()
    return probed.join(truth, "o_custkey", "left").select(
        "o_custkey",
        "maybe_present",
        F.col("__t").isNotNull().alias("actually_present"),
    )


def _bloom_hash_sql(k_expr: str, item_expr: str) -> str:
    return _salted_mod_sql(k_expr, item_expr, _BLOOM_M)


SK4_SQL = f"""
WITH ins AS (
    -- NULL items are not observations (bloom_bits parity)
    SELECT CAST(c_custkey AS VARCHAR) AS it, c_custkey
    FROM customer WHERE c_acctbal > 5000 AND c_custkey IS NOT NULL
),
bits AS (
    SELECT DISTINCT {_bloom_hash_sql('t.k', 'it')} AS bit
    FROM ins, range({_BLOOM_K}) t(k)
),
cand AS (SELECT DISTINCT o_custkey FROM orders),
probe AS (
    SELECT cand.o_custkey, t.k,
           {_bloom_hash_sql('t.k', 'CAST(cand.o_custkey AS VARCHAR)')} AS bit
    FROM cand, range({_BLOOM_K}) t(k)
),
verdict AS (
    SELECT p.o_custkey,
           -- NULL candidates probe to NULL (bloom_probe parity: false
           -- claims definitive absence, which a NULL key can't assert)
           CASE WHEN p.o_custkey IS NULL THEN NULL
                ELSE MIN(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) = 1
           END AS maybe_present
    FROM probe p LEFT JOIN bits b ON b.bit = p.bit
    GROUP BY 1
)
SELECT v.o_custkey, v.maybe_present,
       i.c_custkey IS NOT NULL AS actually_present
FROM verdict v
LEFT JOIN (SELECT DISTINCT c_custkey FROM ins) i
  ON i.c_custkey = v.o_custkey
"""

QUERIES["sk4_bloom_semijoin"] = sk4_bloom_semijoin
ORACLE["sk4_bloom_semijoin"] = SK4_SQL


_P13_P = 8
_P13_M = 1 << _P13_P
_P13_SCALE = 1 << (61 - _P13_P)
_P13_ALPHA_M2 = (0.7213 / (1.0 + 1.079 / _P13_M)) * _P13_M * _P13_M
_P13_CM_D = 3
_P13_CM_W = 64
_P13_FP_SQL = r"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"


def pipe13_corpus_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus monitoring panel, the sketches composed the way
    a production ingest would run them: per language — exact doc count,
    exact distinct-content count, the per-key HLL estimate of the same
    (the bounded aggregate that replaces the exact distinct at 100 TB),
    and the count-min upper bound of the language's own volume. Every
    sketch column is deterministic, so the whole monitoring artifact is
    value-checked against the SQL oracle, not just row-counted."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "fp", fingerprint("text")
    )
    exact = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("exact_distinct_fp"),
    )
    regs = hll_registers(docs, F.col("fp"), p=_P13_P, group_cols=("lang",))
    summ = hll_summary(regs, p=_P13_P, group_cols=("lang",)).select(
        "lang",
        F.col("s_scaled").alias("hll_s_scaled"),
        F.col("raw_estimate").alias("hll_estimate"),
    )
    cm = countmin_sketch(
        docs, F.col("lang"), depth=_P13_CM_D, width=_P13_CM_W
    )
    langs = docs.select("lang").distinct()
    cm_est = countmin_lookup(
        cm, langs, F.col("lang"), depth=_P13_CM_D, width=_P13_CM_W
    ).select("lang", F.col("cm_estimate").alias("cm_n_docs"))
    return (
        exact.join(summ, "lang")
        .join(cm_est, "lang")
        .select(
            "lang", "n_docs", "exact_distinct_fp",
            "hll_s_scaled", "hll_estimate", "cm_n_docs",
        )
    )


PIPE13_SQL = (
    f"""
WITH d AS (SELECT lang, {_P13_FP_SQL} AS fp FROM documents),
exact AS (
    SELECT lang, COUNT(*) AS n_docs,
           COUNT(DISTINCT fp) AS exact_distinct_fp
    FROM d GROUP BY 1
),"""
    + _hll_regs_sql(p=_P13_P, item_sql="fp", group_sql="lang, ",
                    from_sql="d")
    + f""",
r AS (SELECT lang, bucket, MAX(rank) AS max_rank FROM regs GROUP BY 1, 2),
s AS (
    SELECT lang, COUNT(*) AS present,
           CAST(SUM(CAST(1 AS BIGINT) << ({61 - _P13_P} - max_rank))
                AS BIGINT) AS s_occ
    FROM r GROUP BY 1
),
hll AS (
    SELECT lang,
           CAST(s_occ + ({_P13_M} - present) * CAST({_P13_SCALE} AS BIGINT)
                AS BIGINT) AS hll_s_scaled
    FROM s
),
sk AS (
    SELECT t.r AS row,
           {_salted_mod_sql('t.r', 'lang', _P13_CM_W)} AS col,
           COUNT(*) AS cnt
    FROM documents, range({_P13_CM_D}) t(r)
    GROUP BY 1, 2
),
langs AS (SELECT DISTINCT lang FROM documents),
probe AS (
    SELECT langs.lang, t.r AS row,
           {_salted_mod_sql('t.r', 'langs.lang', _P13_CM_W)} AS col
    FROM langs, range({_P13_CM_D}) t(r)
),
cm AS (
    SELECT p.lang, MIN(COALESCE(sk.cnt, 0)) AS cm_n_docs
    FROM probe p LEFT JOIN sk ON sk.row = p.row AND sk.col = p.col
    GROUP BY 1
)
SELECT e.lang, e.n_docs, e.exact_distinct_fp,
       h.hll_s_scaled,
       CAST({_P13_ALPHA_M2 * float(_P13_SCALE)!r} AS DOUBLE)
           / CAST(h.hll_s_scaled AS DOUBLE) AS hll_estimate,
       cm.cm_n_docs
FROM exact e
JOIN hll h ON e.lang = h.lang
JOIN cm ON e.lang = cm.lang
"""
)

QUERIES["pipe13_corpus_monitor"] = pipe13_corpus_monitor
ORACLE["pipe13_corpus_monitor"] = PIPE13_SQL


from ..functions.sketches import histogram_quantiles  # noqa: E402

_SK5_LO = 900.0
_SK5_HI = 105000.0
_SK5_BINS = 128
_SK5_QS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def sk5_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles next to the exact interpolated
    percentile: the mergeable one-pass approximation whose error is
    bounded by a bucket width — the monitoring replacement for a full
    sort at 100 TB. Both the estimate and the error column are
    deterministic, so accuracy itself is value-gated."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = histogram_quantiles(
        li, "l_extendedprice", _SK5_LO, _SK5_HI, _SK5_BINS, _SK5_QS
    )
    exact = li.agg(
        *[
            F.expr(f"percentile(l_extendedprice, {q!r})").alias(f"__e{i}")
            for i, q in enumerate(_SK5_QS)
        ]
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"),
                        F.col(f"__e{i}").alias("exact"),
                    )
                    for i, q in enumerate(_SK5_QS)
                ]
            )
        ).alias("s")
    ).select("s.q", "s.exact")
    out = approx.join(exact, "q")
    return out.select(
        "q", "est", "exact", F.abs(F.col("est") - F.col("exact")).alias("abs_err")
    )


_SK5_W = (_SK5_HI - _SK5_LO) / _SK5_BINS

SK5_SQL = f"""
WITH hist AS (
    SELECT LEAST(GREATEST(
               CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - {_SK5_LO!r})
                          / {_SK5_W!r}) AS BIGINT),
               0), {_SK5_BINS - 1}) AS bucket,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1
),
cum AS (
    SELECT bucket, n,
           SUM(n) OVER (ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
           SUM(n) OVER () AS total
    FROM hist
),
qs AS (SELECT UNNEST([{", ".join(repr(float(q)) for q in _SK5_QS)}]) AS q),
first_b AS (
    SELECT q, bucket, n, cum, total FROM (
        SELECT qs.q, c.bucket, c.n, c.cum, c.total,
               ROW_NUMBER() OVER (
                   PARTITION BY qs.q ORDER BY c.bucket
               ) AS rn
        FROM qs JOIN cum c
          ON CAST(c.cum AS DOUBLE) >= qs.q * c.total
    ) WHERE rn = 1
),
approx AS (
    SELECT q,
           {_SK5_LO!r} + CAST(bucket AS DOUBLE) * {_SK5_W!r}
           + (q * total - CAST(cum - n AS DOUBLE))
             / CAST(n AS DOUBLE) * {_SK5_W!r} AS est
    FROM first_b
),
exact AS (
    -- quantile_cont requires a CONSTANT q in DuckDB
    SELECT 0.1 AS q, quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.1) AS exact FROM lineitem
    UNION ALL SELECT 0.25 AS q, quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS exact FROM lineitem
    UNION ALL SELECT 0.5 AS q, quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS exact FROM lineitem
    UNION ALL SELECT 0.75 AS q, quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS exact FROM lineitem
    UNION ALL SELECT 0.9 AS q, quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9) AS exact FROM lineitem
    UNION ALL SELECT 0.99 AS q, quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99) AS exact FROM lineitem
)
SELECT a.q, a.est, e.exact, abs(a.est - e.exact) AS abs_err
FROM approx a JOIN exact e ON a.q = e.q
"""

QUERIES["sk5_hist_quantiles"] = sk5_hist_quantiles
ORACLE["sk5_hist_quantiles"] = SK5_SQL


def u2_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation breadth beyond the reference's UNION usage:
    customers who ordered in BOTH halves of the order-date range
    (INTERSECT) and those exclusive to the first half (EXCEPT),
    labelled and unioned. Distinct set semantics — both ops reduce to
    one hash aggregation per side on the already-distinct keys."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", ts_micros("o_orderdate").alias("__us")
    )
    # exact integer floor division (div), NOT double-divide-then-cast:
    # double /2 + cast truncates toward zero while DuckDB's CAST(double
    # AS BIGINT) rounds to nearest, so the midpoints would diverge by
    # 1us whenever min+max microseconds is odd and flip boundary rows
    mid = o.agg(
        F.expr("(min(__us) + max(__us)) div 2").alias("m")
    )
    with_mid = o.crossJoin(F.broadcast(mid))
    early = with_mid.filter(F.col("__us") < F.col("m")).select("o_custkey")
    late = with_mid.filter(F.col("__us") >= F.col("m")).select("o_custkey")
    both = early.intersect(late).select(
        "o_custkey", F.lit("both_halves").alias("segment")
    )
    # subtract = EXCEPT DISTINCT (exceptAll's multiset semantics would
    # leak keys that appear more often in early than in late)
    only_early = early.subtract(late).select(
        "o_custkey", F.lit("early_only").alias("segment")
    )
    return both.unionByName(only_early)


U2_SQL = """
WITH o AS (
    SELECT o_custkey, epoch_us(o_orderdate) AS us FROM orders
),
m AS (
    -- integer floor division, matching Spark's `div` exactly
    SELECT (MIN(us) + MAX(us)) // 2 AS m FROM o
),
early AS (SELECT o_custkey FROM o, m WHERE us < m.m),
late  AS (SELECT o_custkey FROM o, m WHERE us >= m.m)
SELECT o_custkey, 'both_halves' AS segment
FROM (SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM late)
UNION ALL
SELECT o_custkey, 'early_only' AS segment
FROM (SELECT o_custkey FROM early EXCEPT SELECT o_custkey FROM late)
"""

QUERIES["u2_intersect_except"] = u2_intersect_except
ORACLE["u2_intersect_except"] = U2_SQL


# ---------------------------------------------------------------------------
# s7b — blob-path metadata parse + process-label routing
# ---------------------------------------------------------------------------

def s7b_path_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-path routing, the reference's ``parse_filepath`` +
    ``category_label`` (utilities/data_files.py:69-130) over a
    synthetic listing: build deterministic paths from the events table
    covering every shape — plain category files, MSOA-prefixed,
    subcategory files, the ``data_*.json`` main fallback, and
    unparseable garbage — then parse with codegen'd regexp_extract and
    resolve labels via the broadcast mapping dimension.  Zero-shuffle
    except the broadcast: metadata extraction fuses into the scan.
    """
    from ..sources.path_metadata import parse_filepaths, with_process_label

    cats = [
        "cases-by-specimen-date",
        "vaccinations-by-vaccination-date",
        "deaths28days-by-death-date",
        "variants",
        "healthcare",
    ]
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    datep = F.date_format("ts", "yyyy-MM-dd")
    ts12 = F.date_format("ts", "yyyyMMddHHmm")
    cat = F.element_at(
        F.lit(cats), (F.pmod(F.col("event_id"), F.lit(5)) + 1).cast("int")
    )
    mode = F.pmod(F.col("event_id"), F.lit(7))
    path = (
        F.when(mode == 0, F.concat(F.lit("data_"), ts12, F.lit(".json")))
        .when(
            mode == 1,
            F.concat(F.lit("misc/file-"), F.col("event_id"), F.lit(".txt")),
        )
        .when(
            mode == 2,
            F.concat(
                datep, F.lit("/MSOA_"), cat, F.lit("_"), ts12,
                F.lit(".parquet"),
            ),
        )
        .when(
            mode == 3,
            F.concat(
                datep, F.lit("/"), cat, F.lit("_age-demographics_"), ts12,
                F.lit(".parquet"),
            ),
        )
        .otherwise(
            F.concat(
                datep, F.lit("/"), cat, F.lit("_"), ts12, F.lit(".parquet")
            )
        )
    )
    listing = ev.select("event_id", path.alias("path"))
    parsed = parse_filepaths(listing, "path", prefix="f_")
    return with_process_label(parsed, spark, prefix="f_").select(
        "event_id", "path", "f_date", "f_area_type", "f_category",
        "f_subcategory", "f_timestamp", "process_name",
    )


from ..sources.path_metadata import (  # noqa: E402
    FILENAME_PATTERN as _S7B_PAT,
    MAIN_PATTERN as _S7B_MAIN,
    PROCESS_LABELS as _S7B_LABELS,
)

_S7B_LABEL_VALUES = ",\n        ".join(
    "({}, {}, {}, '{}')".format(
        f"'{c}'",
        "NULL" if a is None else f"'{a}'",
        "NULL" if s is None else f"'{s}'",
        n,
    )
    for c, a, s, n in _S7B_LABELS
)

S7B_SQL = f"""
WITH listing AS (
    SELECT event_id,
           CASE event_id % 7
             WHEN 0 THEN 'data_' || strftime(ts, '%Y%m%d%H%M') || '.json'
             WHEN 1 THEN 'misc/file-' || event_id || '.txt'
             WHEN 2 THEN strftime(ts, '%Y-%m-%d') || '/MSOA_'
                  || cat || '_' || strftime(ts, '%Y%m%d%H%M') || '.parquet'
             WHEN 3 THEN strftime(ts, '%Y-%m-%d') || '/'
                  || cat || '_age-demographics_'
                  || strftime(ts, '%Y%m%d%H%M') || '.parquet'
             ELSE strftime(ts, '%Y-%m-%d') || '/'
                  || cat || '_' || strftime(ts, '%Y%m%d%H%M') || '.parquet'
           END AS path
    FROM (
        SELECT event_id, ts,
               ['cases-by-specimen-date',
                'vaccinations-by-vaccination-date',
                'deaths28days-by-death-date',
                'variants',
                'healthcare'][CAST(event_id % 5 AS INT) + 1] AS cat
        FROM events
    )
),
parsed AS (
    SELECT event_id, path,
           regexp_extract(path, '{_S7B_PAT}', 5) <> '' AS ok,
           regexp_extract(path, '{_S7B_MAIN}', 1) AS main_ts,
           regexp_extract(path, '{_S7B_PAT}', 1) AS g1,
           regexp_extract(path, '{_S7B_PAT}', 2) AS g2,
           regexp_extract(path, '{_S7B_PAT}', 3) AS g3,
           regexp_extract(path, '{_S7B_PAT}', 4) AS g4,
           regexp_extract(path, '{_S7B_PAT}', 5) AS g5
    FROM listing
),
meta AS (
    SELECT event_id, path,
           CASE WHEN ok THEN g1
                WHEN main_ts <> '' THEN
                    strftime(strptime(main_ts, '%Y%m%d%H%M'), '%Y-%m-%d')
           END AS f_date,
           CASE WHEN ok AND g2 <> '' THEN g2 END AS f_area_type,
           CASE WHEN ok AND g3 <> '' THEN g3
                WHEN NOT ok AND main_ts <> '' THEN 'main'
           END AS f_category,
           CASE WHEN ok AND g4 <> '' THEN g4 END AS f_subcategory,
           CASE WHEN ok THEN g5
                WHEN main_ts <> '' THEN
                    strftime(strptime(main_ts, '%Y%m%d%H%M'),
                             '%Y-%m-%dT%H:%M:%S')
           END AS f_timestamp
    FROM parsed
),
labels(category, area_type, subcategory, process_name) AS (
    VALUES
        {_S7B_LABEL_VALUES}
)
SELECT m.event_id, m.path, m.f_date, m.f_area_type, m.f_category,
       m.f_subcategory, m.f_timestamp, l.process_name
FROM meta m
LEFT JOIN labels l
  ON (CASE WHEN m.f_timestamp IS NOT NULL
           THEN COALESCE(m.f_category, 'main') END)
     IS NOT DISTINCT FROM l.category
 AND upper(m.f_area_type) IS NOT DISTINCT FROM upper(l.area_type)
 AND m.f_subcategory IS NOT DISTINCT FROM l.subcategory
"""

QUERIES["s7b_path_metadata"] = s7b_path_metadata
ORACLE["s7b_path_metadata"] = S7B_SQL


# ---------------------------------------------------------------------------
# q17 / q20 — correlated-subquery shapes (scalar-agg threshold per group,
# semi-join on an aggregate share), the reference's
# `date IN (SELECT MAX(date)...)` idiom (rate_scales_worker/queries.py:23-30)
# at TPC-H depth
# ---------------------------------------------------------------------------

def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of their part's average — a correlated scalar subquery
    (per-part AVG) de-correlated Spark-first into a WINDOW over the
    broadcast-pruned join (the filtered part dim broadcasts, so the
    per-part stats are computed only for surviving parts and the only
    shuffle keys on l_partkey).

    Exact cross-engine threshold: qty < 0.2 * avg = sum/cnt is
    evaluated as 5 * qty * cnt < sum in DECIMAL — no division, no
    float rounding at the boundary.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast(DEC).alias("qty"),
        F.col("l_extendedprice").cast(DEC).alias("price"),
    )
    pt = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#4", "Brand#19")
    ).select("p_partkey", "p_brand")
    joined = li.join(
        broadcast(pt), li.l_partkey == pt.p_partkey
    ).select("l_partkey", "p_brand", "qty", "price")
    w = Window.partitionBy("l_partkey")
    stats = joined.select(
        "*",
        F.sum("qty").over(w).alias("part_sum"),
        F.count(F.lit(1)).over(w).alias("part_cnt"),
    )
    small = stats.filter(
        F.col("qty") * 5 * F.col("part_cnt") < F.col("part_sum")
    )
    return small.groupBy("p_brand").agg(
        (F.sum("price").cast("double") / F.lit(7.0)).alias("avg_yearly")
    )


Q17_SQL = """
WITH li AS (
    SELECT l_partkey,
           CAST(l_quantity AS DECIMAL(18,6)) AS qty,
           CAST(l_extendedprice AS DECIMAL(18,6)) AS price
    FROM lineitem
),
pt AS (
    SELECT p_partkey, p_brand FROM part
    WHERE p_brand IN ('Brand#4', 'Brand#19')
),
stats AS (
    SELECT li.l_partkey, pt.p_brand, li.qty, li.price,
           SUM(li.qty) OVER (PARTITION BY li.l_partkey) AS part_sum,
           COUNT(*) OVER (PARTITION BY li.l_partkey) AS part_cnt
    FROM li JOIN pt ON li.l_partkey = pt.p_partkey
)
SELECT p_brand,
       CAST(SUM(price) AS DOUBLE) / 7.0 AS avg_yearly
FROM stats
WHERE qty * 5 * part_cnt < part_sum
GROUP BY p_brand
"""

QUERIES["q17_small_qty_revenue"] = q17_small_qty_revenue
ORACLE["q17_small_qty_revenue"] = Q17_SQL


def q20_threshold_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers (in two nations) that dominate the
    supply of some part — a semi-join whose inner side is an aggregate
    compared against a CORRELATED aggregate threshold (supplier's
    shipped quantity for a part > 30% of that part's total).

    De-correlation: one (partkey, suppkey) aggregate, a window for the
    per-part total (second shuffle is over already-aggregated rows),
    exact-decimal share test 8*sq > tq, then LEFT SEMI join into
    the supplier dim with the nation filter broadcast. No row of
    lineitem is shuffled twice; the semi-join probe side is the tiny
    qualifying-supplier set.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        F.col("l_quantity").cast(DEC).alias("qty"),
    )
    pair = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty").alias("sq")
    )
    w = Window.partitionBy("l_partkey")
    share = pair.select(
        "*", F.sum("sq").over(w).alias("tq")
    )
    qual = share.filter(
        F.col("sq") * 8 > F.col("tq")
    ).select("l_suppkey").distinct()
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    ).select("n_nationkey", "n_name")
    named = sup.join(
        broadcast(nat), sup.s_nationkey == nat.n_nationkey
    )
    return named.join(
        qual, named.s_suppkey == qual.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name", "n_name")


Q20_SQL = """
WITH pair AS (
    SELECT l_partkey, l_suppkey,
           SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sq
    FROM lineitem GROUP BY 1, 2
),
share AS (
    SELECT *, SUM(sq) OVER (PARTITION BY l_partkey) AS tq FROM pair
),
qual AS (
    SELECT DISTINCT l_suppkey FROM share WHERE sq * 8 > tq
)
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name IN ('NATION_3', 'NATION_7')
  AND s.s_suppkey IN (SELECT l_suppkey FROM qual)
"""

QUERIES["q20_threshold_semijoin"] = q20_threshold_semijoin
ORACLE["q20_threshold_semijoin"] = Q20_SQL


def q22_anti_join_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers (balance above the
    positive-balance average — an UNCORRELATED scalar subquery) with NO
    URGENT-priority order (NOT EXISTS — a LEFT ANTI join against the
    filtered order set; the filter reaches the scan), per nation.

    Exactness at the threshold: the average is sum/count of doubles,
    which is partition-order dependent in any engine — the compare is
    therefore lifted to exact decimals with the division cleared:
    bal * n_pos > sum_pos. The anti-join probe side is the orders
    custkey set; Spark plans LEFT ANTI with the same hash exchange a
    semi-join gets — no pair expansion anywhere.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        F.col("c_acctbal").cast(DEC).alias("bal"),
    )
    pos = cust.filter(F.col("bal") > 0).agg(
        F.sum("bal").alias("sum_pos"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    rich = cust.crossJoin(broadcast(pos)).filter(
        F.col("bal") * F.col("n_pos") > F.col("sum_pos")
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    no_orders = rich.join(
        urgent, rich.c_custkey == urgent.o_custkey, "left_anti"
    )
    return no_orders.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum("bal").cast("double").alias("totacctbal"),
    )


Q22_SQL = """
WITH cust AS (
    SELECT c_custkey, c_nationkey,
           CAST(c_acctbal AS DECIMAL(18,6)) AS bal
    FROM customer
),
pos AS (
    SELECT SUM(bal) AS sum_pos, COUNT(*) AS n_pos
    FROM cust WHERE bal > 0
),
rich AS (
    SELECT c.* FROM cust c, pos WHERE c.bal * pos.n_pos > pos.sum_pos
)
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(bal) AS DOUBLE) AS totacctbal
FROM rich
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = rich.c_custkey
      AND o.o_orderpriority = '1-URGENT'
)
GROUP BY c_nationkey
"""

QUERIES["q22_anti_join_scalar"] = q22_anti_join_scalar
ORACLE["q22_anti_join_scalar"] = Q22_SQL


def j15_combine_supplements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 legacy multi-frame combine (reference db_etl/db_uploader/
    chunk_ops/combine.py:116-153): main panel LEFT-joined with metric-
    family supplements on the shared key, one supplement missing (None),
    supplement-only keys dropped — all in a single shuffle via
    operators.combine.combine_supplements."""
    from ..operators.combine import combine_supplements

    ev = load_table(spark, sf_dir, "events")
    key = ["event_type", F.date_format("ts", "yyyy-MM-dd").alias("date")]
    main = (
        ev.filter(F.col("event_type") != "error")
        .groupBy(*key)
        .agg(F.sum(F.col("value").cast(DEC)).alias("val_main"))
    )
    sup_hi = (
        ev.filter(F.col("value") > 9)
        .groupBy(*key)
        .agg(F.count(F.lit(1)).alias("cnt_hi"))
    )
    sup_even = (
        ev.filter(F.col("user_id") % 2 == 0)
        .groupBy(*key)
        .agg(F.sum(F.col("value").cast(DEC)).alias("sum_even"))
    )
    out = combine_supplements(
        main, [sup_hi, None, sup_even], keys=["event_type", "date"]
    )
    # exact-decimal sums, surfaced as double for the cross-engine compare
    return out.withColumn("val_main", F.col("val_main").cast("double")).withColumn(
        "sum_even", F.col("sum_even").cast("double")
    )


J15_SQL = """
WITH main AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS date,
           SUM(CAST(value AS DECIMAL(18,6))) AS val_main
    FROM events WHERE event_type <> 'error'
    GROUP BY 1, 2
),
sup_hi AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS date,
           COUNT(*) AS cnt_hi
    FROM events WHERE value > 9
    GROUP BY 1, 2
),
sup_even AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS date,
           SUM(CAST(value AS DECIMAL(18,6))) AS sum_even
    FROM events WHERE user_id % 2 = 0
    GROUP BY 1, 2
)
SELECT m.event_type, m.date, CAST(m.val_main AS DOUBLE) AS val_main,
       h.cnt_hi, CAST(e.sum_even AS DOUBLE) AS sum_even
FROM main m
LEFT JOIN sup_hi h USING (event_type, date)
LEFT JOIN sup_even e USING (event_type, date)
"""

QUERIES["j15_combine_supplements"] = j15_combine_supplements
ORACLE["j15_combine_supplements"] = J15_SQL


# ---------------------------------------------------------------------------
# Classic correlated / decorrelated query shapes (round 6 breadth batch).
# Adapted to this star schema (no partsupp table: lineitem is the
# part-supplier bridge). Mirrors the reference's correlated-latest idiom
# (rate_scales_worker/queries.py:23-30) at TPC-H depth.
# ---------------------------------------------------------------------------

def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each surviving part, the supplier(s) offering
    the minimum cost — a correlated scalar-MIN subquery, de-correlated
    Spark-first into a window MIN over the broadcast-pruned bridge:
    the p_size filter broadcasts into the lineitem scan, the per-part
    minimum is a window over the (part, supplier) partial aggregate,
    and the supplier/nation dims broadcast onto the tiny survivor set.
    """
    pt = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15).select(
        "p_partkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_extendedprice").cast(DEC).alias("price")
    )
    offers = (
        li.join(broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("price").alias("cost"))
    )
    best = offers.withColumn(
        "min_cost", F.min("cost").over(Window.partitionBy("l_partkey"))
    ).filter(F.col("cost") == F.col("min_cost"))
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(broadcast(sup), best.l_suppkey == sup.s_suppkey)
        .join(broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            "n_name",
            F.col("cost").cast("double").alias("cost"),
        )
    )


Q2_SQL = """
WITH offers AS (
    SELECT l.l_partkey, l.l_suppkey,
           MIN(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS cost
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size = 15
    GROUP BY 1, 2
)
SELECT o.l_partkey AS p_partkey, s.s_name, n.n_name,
       CAST(o.cost AS DOUBLE) AS cost
FROM offers o
JOIN supplier s ON o.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE o.cost = (SELECT MIN(o2.cost) FROM offers o2
                WHERE o2.l_partkey = o.l_partkey)
"""

QUERIES["q2_min_cost_supplier"] = q2_min_cost_supplier
ORACLE["q2_min_cost_supplier"] = Q2_SQL


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year. The supplier and customer nation dims broadcast; the
    only big shuffle is lineitem->orders on orderkey (both fact-sized),
    and the nation-pair filter prunes suppliers/customers BEFORE that
    join so the shuffle carries only qualifying rows.
    """
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    ).select("n_nationkey", "n_name")
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").between(1996, 1999)
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("l_year"),
        (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))).alias("volume"),
    )
    ords = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    shipped = (
        li.join(broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return shipped.groupBy("supp_nation", "cust_nation", "l_year").agg(
        # rescale the exact sum to the data's true scale before the
        # double cast so both engines convert the identical decimal
        F.sum("volume").cast("decimal(30,6)").cast("double").alias("revenue")
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS DECIMAL(30,6)) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
  AND year(l.l_shipdate) BETWEEN 1996 AND 1999
GROUP BY 1, 2, 3
"""

QUERIES["q7_volume_shipping"] = q7_volume_shipping
ORACLE["q7_volume_shipping"] = Q7_SQL


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part traded value for suppliers in a nation
    subset, keeping parts above a fraction of the GLOBAL total — a
    HAVING against an uncorrelated scalar subquery. The scalar rides a
    1-row broadcast (operators.util.with_scalars), never a
    single-partition window; the threshold compare is exact decimal,
    no float division at the boundary.

    Selectivity is SCALE-ADAPTIVE — keep parts whose value exceeds 2x
    the mean part value (value * n_parts > 2 * total) — because a
    fixed global fraction (TPC-H's literal 0.0001) selects nothing
    once the part count outgrows it (verified empty at sf1). The 2x
    multiplier is measured non-vacuous at EVERY test scale (r6 lesson:
    the old 10x mean threshold emitted 0 rows at sf<=0.01, so the
    driver's 0==0 hash match verified nothing): rows = 20 @ sf0.001,
    141 @ sf0.01, 924 @ sf0.1, 9240 @ sf1.
    """
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 5)
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice").cast(DEC) * F.col("l_quantity").cast(DEC)).alias("val"),
    )
    per_part = (
        li.join(broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum("val").alias("value"))
    )
    thresholded = with_scalars(
        per_part, {"total": F.sum("value"), "n_parts": F.count(F.lit(1))}
    )
    return thresholded.filter(
        F.col("value") * F.col("n_parts") > F.col("total") * 2
    ).select(
        F.col("l_partkey").alias("p_partkey"),
        # data scale is <=4 fractional digits; rescale to 6 before the
        # double cast so both engines convert the identical decimal
        F.col("value").cast("decimal(30,6)").cast("double").alias("value"),
    )


Q11_SQL = """
WITH per_part AS (
    SELECT l.l_partkey,
           SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))
               * CAST(l.l_quantity AS DECIMAL(28,6))) AS value
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_nationkey < 5
    GROUP BY 1
)
SELECT l_partkey AS p_partkey,
       CAST(CAST(value AS DECIMAL(30,6)) AS DOUBLE) AS value
FROM per_part
WHERE value * (SELECT COUNT(*) FROM per_part)
      > (SELECT SUM(value) FROM per_part) * 2
"""

QUERIES["q11_important_stock"] = q11_important_stock
ORACLE["q11_important_stock"] = Q11_SQL


def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation — per line status, how
    many shipped lines belong to high- vs low-priority orders. One
    fact-fact join on orderkey, the CASE folds into the partial agg so
    the shuffle carries two counters per group, not rows.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1998
    ).select("l_orderkey", "l_linestatus")
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE year(l.l_shipdate) = 1998
GROUP BY 1
"""

QUERIES["q12_priority_by_status"] = q12_priority_by_status
ORACLE["q12_priority_by_status"] = Q12_SQL


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer INCLUDING
    zero-order customers — LEFT OUTER join then two aggregations. The
    zero bucket only exists if the outer join is genuinely outer; the
    second groupBy keys on the tiny count domain.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ords = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(ords, cust.c_custkey == ords.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


Q13_SQL = """
WITH per_cust AS (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '4-NOT SPECIFIED'
    GROUP BY 1
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY 1
"""

QUERIES["q13_customer_distribution"] = q13_customer_distribution
ORACLE["q13_customer_distribution"] = Q13_SQL


def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: a conditional-revenue ratio over one ship
    month — both the numerator CASE-sum and the denominator fold into
    ONE aggregation pass (no second scan, no self-join); the division
    happens once on the exact-decimal sums, cast to double at the end.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.year("l_shipdate") == 1997) & (F.month("l_shipdate") == 9)
    ).select(
        "l_partkey",
        (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))).alias("rev"),
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(broadcast(pt), li.l_partkey == pt.p_partkey)
    sums = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev"))).alias("promo"),
        F.sum("rev").alias("total"),
    )
    return sums.select(
        (F.lit(100.0) * F.col("promo").cast("decimal(30,6)").cast("double")
         / F.col("total").cast("decimal(30,6)").cast("double")).alias("promo_share")
    )


Q14_SQL = """
WITH joined AS (
    SELECT p.p_type,
           CAST(l.l_extendedprice AS DECIMAL(18,6))
           * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6))) AS rev
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE year(l.l_shipdate) = 1997 AND month(l.l_shipdate) = 9
)
SELECT 100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev END) AS DECIMAL(30,6)) AS DOUBLE)
             / CAST(CAST(SUM(rev) AS DECIMAL(30,6)) AS DOUBLE) AS promo_share
FROM joined
"""

QUERIES["q14_promo_revenue_share"] = q14_promo_revenue_share
ORACLE["q14_promo_revenue_share"] = Q14_SQL


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) whose quarterly revenue equals the
    global maximum — an aggregate view compared against its own scalar
    MAX. The scalar rides a 1-row broadcast (with_scalars), ties are
    kept (no LIMIT), and the compare is decimal-exact.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-04-01"))
    ).select(
        "l_suppkey",
        (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))).alias("rev"),
    )
    revenue = li.groupBy("l_suppkey").agg(F.sum("rev").alias("total_revenue"))
    best = with_scalars(revenue, {"max_revenue": F.max("total_revenue")}).filter(
        F.col("total_revenue") == F.col("max_revenue")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return best.join(broadcast(sup), best.l_suppkey == sup.s_suppkey).select(
        "s_suppkey",
        "s_name",
        F.col("total_revenue").cast("decimal(30,6)").cast("double").alias("total_revenue"),
    )


Q15_SQL = """
WITH revenue AS (
    SELECT l_suppkey,
           SUM(CAST(l_extendedprice AS DECIMAL(18,6))
               * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1998-04-01'
    GROUP BY 1
)
SELECT s.s_suppkey, s.s_name,
       CAST(CAST(r.total_revenue AS DECIMAL(30,6)) AS DOUBLE) AS total_revenue
FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""

QUERIES["q15_top_supplier"] = q15_top_supplier
ORACLE["q15_top_supplier"] = Q15_SQL


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    combo, with a NOT IN supplier exclusion re-expressed as a broadcast
    LEFT ANTI join (the excluded set is a filtered dim — never a
    shuffle). COUNT(DISTINCT) keys the shuffle on the group attrs.
    """
    pt = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9") & F.col("p_size").isin(9, 14, 19, 23, 36, 45, 49, 3)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_sup = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    eligible = li.join(
        broadcast(bad_sup), li.l_suppkey == bad_sup.s_suppkey, "left_anti"
    )
    return (
        eligible.join(broadcast(pt), eligible.l_partkey == pt.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#9'
  AND p.p_size IN (9, 14, 19, 23, 36, 45, 49, 3)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""

QUERIES["q16_supplier_count"] = q16_supplier_count
ORACLE["q16_supplier_count"] = Q16_SQL


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    both join sides. Expressed as one declarative filter AFTER the
    broadcast join so Catalyst splits it: the part-only conjuncts push
    into the dim scan, the lineitem-only bounds (quantity <= 40) push
    into the fact scan, and only the genuinely cross-side residual is
    evaluated post-join.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))).alias("rev"),
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(broadcast(pt), li.l_partkey == pt.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 40))
    )
    return joined.filter(cond).agg(
        F.sum("rev").cast("decimal(30,6)").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q19_SQL = """
SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
             * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS DECIMAL(30,6)) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1'  AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1  AND 11)
   OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 40)
"""

QUERIES["q19_disjunctive_revenue"] = q19_disjunctive_revenue
ORACLE["q19_disjunctive_revenue"] = Q19_SQL


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE returning supplier
    in a finished multi-supplier order — EXISTS (another supplier in
    the order) AND NOT EXISTS (another returning supplier). Both
    correlated quantifiers de-correlate into ONE per-(order, supplier)
    partial aggregate + ONE per-order rollup: n_supp >= 2 encodes the
    EXISTS, n_ret_supp == 1 encodes the NOT EXISTS, and the returned-
    line count per (order, supplier) preserves the reference row
    multiplicity that the classic formulation counts.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", (F.col("l_returnflag") == "R").alias("is_ret")
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("is_ret"), 1).otherwise(0)).alias("n_ret_lines")
    )
    # per-order rollup as a WINDOW over the (order, supplier) partials
    # instead of a groupBy + join-back: one orderkey exchange total
    wo = Window.partitionBy("l_orderkey")
    stats = per_os.select(
        "*",
        F.count(F.lit(1)).over(wo).alias("n_supp"),
        F.sum(
            F.when(F.col("n_ret_lines") > 0, 1).otherwise(0)
        ).over(wo).alias("n_ret_supp"),
    )
    finished = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    sole = (
        stats.filter(
            (F.col("n_ret_lines") > 0)
            & (F.col("n_supp") >= 2)
            & (F.col("n_ret_supp") == 1)
        )
        .join(finished, stats.l_orderkey == finished.o_orderkey, "left_semi")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(broadcast(sup), sole.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_ret_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


Q21_SQL = """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 20
"""

QUERIES["q21_waiting_supplier"] = q21_waiting_supplier
ORACLE["q21_waiting_supplier"] = Q21_SQL


def lm1_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-corpus bigram LM stats per document (rational oracle mode of
    functions.text.bigram_lm_score): duplicate-n-gram novelty and mean
    corpus frequency — exact integers with one double division each.
    The log/perplexity production mode shares this plan and is pytest-
    pinned against a pure-Python reference (libm ln is last-ulp
    engine-dependent; see tfidf determinism contract)."""
    from ..functions.text import bigram_lm_score

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_score(docs, mode="rational")


LM1_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)), i -> l[i] || chr(1) || l[i+1])) AS bg
  FROM toks
),
doc_bg AS (SELECT doc_id, bg, COUNT(*) AS doc_cnt FROM bg GROUP BY 1, 2),
model  AS (SELECT bg, COUNT(*) AS corpus_cnt FROM bg GROUP BY 1),
per_doc AS (
  SELECT d.doc_id,
         SUM(d.doc_cnt) AS n_bigrams,
         COUNT(*) AS n_distinct_bigrams,
         SUM(CASE WHEN m.corpus_cnt = d.doc_cnt THEN d.doc_cnt ELSE 0 END) AS novel_bigrams,
         SUM(d.doc_cnt * m.corpus_cnt) AS corpus_freq_mass
  FROM doc_bg d JOIN model m USING (bg)
  GROUP BY 1
)
SELECT t.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams,
       CAST(COALESCE(p.novel_bigrams, 0) AS BIGINT) AS novel_bigrams,
       CAST(p.novel_bigrams AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE) AS novelty,
       CAST(p.corpus_freq_mass AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE) AS avg_corpus_freq
FROM toks t LEFT JOIN per_doc p USING (doc_id)
"""

QUERIES["lm1_bigram_novelty"] = lm1_bigram_novelty
ORACLE["lm1_bigram_novelty"] = LM1_SQL


def d12_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-superset detection: ordered (a, b) pairs where
    >= 80% of a's word 3-shingles occur in b (functions.dedup.
    shingle_containment_pairs — prefix-filtered exact containment; the
    quotation signal symmetric Jaccard misses). Oracle is the full
    all-pairs shingle join, feasible at oracle scale."""
    from ..functions.dedup import shingle_containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return shingle_containment_pairs(docs, threshold=0.8, shingle_k=3)


D12_SQL = """
WITH toks AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, len(w)-1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS l
  FROM toks WHERE len(w) >= 3
),
tok AS (SELECT doc_id, lang, unnest(l) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS o
  FROM tok a JOIN tok b ON a.lang = b.lang AND a.s = b.s
                       AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       CAST(i.o AS DOUBLE) / CAST(len(ta.l) AS DOUBLE) AS containment
FROM inter i JOIN sh ta ON ta.doc_id = i.id_a
WHERE CAST(i.o AS DOUBLE) / CAST(len(ta.l) AS DOUBLE) >= 0.8
"""

QUERIES["d12_containment_pairs"] = d12_containment_pairs
ORACLE["d12_containment_pairs"] = D12_SQL


def pipe14_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation with the round-6 text operators
    composed the way a training-data pass would run them:

    1. containment dedup — drop any doc >= 80% 3-shingle-contained in
       a LARGER doc (quotation/near-subset removal; ties by id so the
       keep-set is deterministic) via shingle_containment_pairs;
    2. bigram-LM quality gate on the SURVIVORS — rebuild the model on
       the deduped corpus (duplicates would otherwise deflate novelty)
       and keep docs that are neither templating outliers
       (novelty > 0.5) nor too short to score (n_bigrams < 8);
    3. emit the per-language curation ledger: kept count, mean
       novelty, mean corpus frequency — exact integers + one double
       division each, so the whole pipeline value-hashes vs DuckDB.
    """
    from ..functions.dedup import build_shingle_arrays, shingle_containment_pairs
    from ..functions.text import bigram_lm_score

    docs = load_table(spark, sf_dir, "documents")
    # the corpus-scale pattern: build the shingle arrays ONCE per
    # release and hand the same persisted frame to every shingle
    # consumer (here just containment; a full curation run would also
    # feed Jaccard verification / novelty gates), then release the
    # handle explicitly once the drop list is materialised
    shingles = build_shingle_arrays(docs, shingle_k=3)
    pairs = shingle_containment_pairs(
        docs, threshold=0.8, shingle_k=3, shingles=shingles
    )
    sizes = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("__n_toks")
    )
    sa = sizes.select(
        F.col("doc_id").alias("id_a"), F.col("__n_toks").alias("__na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("id_b"), F.col("__n_toks").alias("__nb")
    )
    drops = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            (F.col("__nb") > F.col("__na"))
            | ((F.col("__nb") == F.col("__na")) & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
    )
    # `kept` feeds FOUR downstream subtrees (doc-bigram counts, the
    # corpus model, the id spine, and the lang join); without this
    # checkpoint each one re-executes the whole containment-pairs
    # plan — measured 98.6 MiB shuffled at sf0.01 vs 13 MiB for the
    # containment alone. The drop list is doc-ids only (tiny), so
    # materialising it once turns every `kept` use into a scan +
    # broadcast anti-join.
    drops = store.rolling_checkpoint(drops, "pipe14_quality_dedup", eager=True)
    # the shingle arrays have served their purpose once the drop list
    # is materialised — explicit handle, explicit release
    shingles.unpersist()
    kept = docs.join(drops, "doc_id", "left_anti")
    scored = bigram_lm_score(kept, mode="rational").filter(
        (F.col("n_bigrams") >= 8) & (F.col("novelty") <= 0.5)
    )
    enriched = scored.join(kept.select("doc_id", "lang"), "doc_id")
    return enriched.groupBy("lang").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_bigrams").alias("total_bigrams"),
        F.sum("novel_bigrams").alias("total_novel"),
        (
            F.sum("novel_bigrams").cast("double")
            / F.sum("n_bigrams").cast("double")
        ).alias("novelty_rate"),
    )


PIPE14_SQL = """
WITH toks AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS w,
         len(string_split(text, ' ')) AS n_toks
  FROM documents
),
sh AS (
  SELECT doc_id, lang, n_toks,
         list_distinct(list_transform(range(1, len(w)-1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS l
  FROM toks WHERE len(w) >= 3
),
stok AS (SELECT doc_id, lang, unnest(l) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS o
  FROM stok a JOIN stok b ON a.lang = b.lang AND a.s = b.s
                         AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
drops AS (
  SELECT DISTINCT i.id_a AS doc_id
  FROM inter i
  JOIN sh ta ON ta.doc_id = i.id_a
  JOIN sh tb ON tb.doc_id = i.id_b
  WHERE CAST(i.o AS DOUBLE) / CAST(len(ta.l) AS DOUBLE) >= 0.8
    AND (tb.n_toks > ta.n_toks
         OR (tb.n_toks = ta.n_toks AND i.id_b < i.id_a))
),
kept AS (
  SELECT d.* FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
),
ktoks AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM kept
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i] || chr(1) || w[i+1])) AS bg
  FROM ktoks
),
doc_bg AS (SELECT doc_id, bg, COUNT(*) AS doc_cnt FROM bg GROUP BY 1, 2),
model  AS (SELECT bg, COUNT(*) AS corpus_cnt FROM bg GROUP BY 1),
per_doc AS (
  SELECT d.doc_id,
         SUM(d.doc_cnt) AS n_bigrams,
         SUM(CASE WHEN m.corpus_cnt = d.doc_cnt THEN d.doc_cnt ELSE 0 END) AS novel_bigrams
  FROM doc_bg d JOIN model m USING (bg)
  GROUP BY 1
),
scored AS (
  SELECT p.*, k.lang FROM per_doc p JOIN kept k USING (doc_id)
  WHERE p.n_bigrams >= 8
    AND CAST(p.novel_bigrams AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE) <= 0.5
)
SELECT lang,
       COUNT(*) AS kept_docs,
       CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
       CAST(SUM(novel_bigrams) AS BIGINT) AS total_novel,
       CAST(SUM(novel_bigrams) AS DOUBLE) / CAST(SUM(n_bigrams) AS DOUBLE) AS novelty_rate
FROM scored
GROUP BY 1
"""

QUERIES["pipe14_quality_dedup"] = pipe14_quality_dedup
ORACLE["pipe14_quality_dedup"] = PIPE14_SQL


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a target nation's share of PROMO-part revenue
    sold into one region, per order year — the classic
    SUM(CASE WHEN nation THEN volume END) / SUM(volume) conditional
    aggregate. Spark-first: region->nation->customer prunes the
    customer side BEFORE the fact join (all three dims broadcast),
    the part-type filter broadcasts into the lineitem scan, and the
    only fact-sized shuffle is lineitem->orders on orderkey. The
    share divides two exact decimal sums, cast to double once at the
    end so both engines convert the identical decimals.
    Reference idiom: ratio-of-conditional-sums as in the dashboard's
    publish-rate panels (rate_scales_worker/queries.py).
    """
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cust_nat = nat.join(
        broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select("n_nationkey")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(broadcast(cust_nat), F.col("c_nationkey") == cust_nat.n_nationkey)
        .select("c_custkey")
    )
    promo = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast(DEC)
            * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
        ).alias("volume"),
    )
    ords = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").between(1996, 1997)
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    sup_nat = (
        load_table(spark, sf_dir, "supplier")
        .join(broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    vol = (
        li.join(broadcast(promo), li.l_partkey == promo.p_partkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey, "left_semi")
        .join(broadcast(sup_nat), li.l_suppkey == sup_nat.s_suppkey)
    )
    zero = F.lit(0).cast(DEC)
    return vol.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(zero)
        ).cast("decimal(30,6)").cast("double").alias("nation_volume"),
        F.sum("volume").cast("decimal(30,6)").cast("double").alias("total_volume"),
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(zero)
            ).cast("decimal(30,6)").cast("double")
            / F.sum("volume").cast("decimal(30,6)").cast("double")
        ).alias("mkt_share"),
    )


Q8_SQL = """
WITH vol AS (
    SELECT year(o.o_orderdate) AS o_year,
           CAST(l.l_extendedprice AS DECIMAL(18,6))
             * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6))) AS volume,
           n1.n_name AS supp_nation
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    JOIN region r ON n2.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    WHERE p.p_type = 'PROMO'
      AND r.r_name = 'EUROPE'
      AND year(o.o_orderdate) BETWEEN 1996 AND 1997
)
SELECT o_year,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                          ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(30,6)) AS DOUBLE)
         AS nation_volume,
       CAST(CAST(SUM(volume) AS DECIMAL(30,6)) AS DOUBLE) AS total_volume,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                          ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(30,6)) AS DOUBLE)
         / CAST(CAST(SUM(volume) AS DECIMAL(30,6)) AS DOUBLE) AS mkt_share
FROM vol
GROUP BY 1
"""

QUERIES["q8_market_share"] = q8_market_share
ORACLE["q8_market_share"] = Q8_SQL


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year over a
    part-name substring filter. The testdata carries no partsupp
    table, so supply cost is the part's retail price per unit (the
    same join topology: the cost rides in on the part dim). Part and
    supplier-nation dims broadcast; lineitem->orders on orderkey is
    the single fact shuffle, and the profit expression stays exact
    decimal until one final double cast.
    """
    pt = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("gear")
    ).select("p_partkey", F.col("p_retailprice").cast(DEC).alias("unit_cost"))
    sup_nat = (
        load_table(spark, sf_dir, "supplier")
        .join(
            broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.col("l_quantity").cast(DEC).alias("qty"),
        (
            F.col("l_extendedprice").cast(DEC)
            * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
        ).alias("gross"),
    )
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    profit = (
        li.join(broadcast(pt), li.l_partkey == pt.p_partkey)
        .join(broadcast(sup_nat), li.l_suppkey == sup_nat.s_suppkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .select(
            "nation",
            "o_year",
            (F.col("gross") - F.col("unit_cost") * F.col("qty")).alias("amount"),
        )
    )
    return profit.groupBy("nation", "o_year").agg(
        F.sum("amount").cast("decimal(30,6)").cast("double").alias("sum_profit")
    )


Q9_SQL = """
SELECT n.n_name AS nation,
       year(o.o_orderdate) AS o_year,
       CAST(CAST(SUM(
           CAST(l.l_extendedprice AS DECIMAL(18,6))
             * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))
           - CAST(p.p_retailprice AS DECIMAL(18,6)) * CAST(l.l_quantity AS DECIMAL(18,6))
       ) AS DECIMAL(30,6)) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%gear%'
GROUP BY 1, 2
"""

QUERIES["q9_product_profit"] = q9_product_profit
ORACLE["q9_product_profit"] = Q9_SQL


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    one quarter. Revenue aggregates per customer FIRST (orderkey then
    custkey exchanges, both carrying partial sums), the customer and
    nation dims broadcast onto the small aggregate, and the top-k is
    orderBy+limit — Spark plans TakeOrderedAndProject (per-partition
    local top-20, merged on the driver; no global sort, no
    single-partition window) — with custkey as the tiebreak so
    boundary ties pick identical rows in both engines.
    """
    ords = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast(DEC)
            * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
        ).alias("volume"),
    )
    per_cust = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("volume").alias("rev"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ranked = (
        per_cust.join(broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .join(broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .orderBy(F.desc("rev"), F.asc("c_custkey"))
        .limit(20)
    )
    return ranked.select(
        "c_custkey",
        "c_name",
        F.col("rev").cast("decimal(30,6)").cast("double").alias("revenue"),
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "n_name",
    )


Q10_SQL = """
WITH per_cust AS (
    SELECT o.o_custkey,
           SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
               * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS rev
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
)
SELECT c.c_custkey, c.c_name,
       CAST(CAST(p.rev AS DECIMAL(30,6)) AS DOUBLE) AS revenue,
       CAST(c.c_acctbal AS DOUBLE) AS c_acctbal,
       n.n_name
FROM per_cust p
JOIN customer c ON p.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
QUALIFY ROW_NUMBER() OVER (ORDER BY p.rev DESC, c.c_custkey ASC) <= 20
"""

QUERIES["q10_returned_revenue"] = q10_returned_revenue
ORACLE["q10_returned_revenue"] = Q10_SQL


def t8_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear quality classifier over the corpus
    (functions.text.hashed_classifier_score): 1024 md5 buckets, a
    deterministic Knuth-multiplicative integer weight per bucket
    standing in for learned fastText-style weights, exact integer
    score sums — so the oracle replays the model bit-for-bit.
    """
    from ..functions.text import hashed_classifier_score

    weights = [((b * 2654435761) % 2001) - 1000 for b in range(1024)]
    docs = load_table(spark, sf_dir, "documents")
    return hashed_classifier_score(docs, weights=weights, threshold=0.0)


_T8_MD5LONG = (
    "list_reduce(list_transform(string_split(substr(md5(t),1,15), ''), "
    "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16+b)"
)

T8_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), t -> t <> '') AS l
  FROM documents
),
scored AS (
  SELECT doc_id, lang, len(l) AS n_tokens,
         COALESCE(list_sum(list_transform(l, t ->
             ((({_T8_MD5LONG} % 1024) * 2654435761) % 2001) - 1000
         )), 0) AS score_raw
  FROM toks
)
SELECT doc_id, lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(score_raw AS BIGINT) AS score_raw,
       CASE WHEN n_tokens > 0
            THEN CAST(score_raw AS DOUBLE) / CAST(n_tokens * 1000 AS DOUBLE)
       END AS score,
       COALESCE(
         (CASE WHEN n_tokens > 0
               THEN CAST(score_raw AS DOUBLE) / CAST(n_tokens * 1000 AS DOUBLE)
          END) >= 0.0, FALSE) AS label
FROM scored
"""

QUERIES["t8_hashed_classifier"] = t8_hashed_classifier
ORACLE["t8_hashed_classifier"] = T8_SQL


def pr1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (functions.graph.pagerank_fixed_point),
    3 iterations over the symmetrised customer<->supplier trade graph
    (distinct orders x lineitem pairs, supplier ids offset into a
    disjoint space). Integer mass arithmetic makes every iteration
    exactly reproducible, so a 3-round unrolled-CTE oracle compares
    bit-for-bit — the same exactness strategy as the c2 Lloyd gate.
    """
    from ..functions.graph import bipartite_edges, pagerank_fixed_point

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    ords = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    edges = bipartite_edges(pairs, "o_custkey", "l_suppkey")
    return pagerank_fixed_point(edges, n_iter=3)


PR1_SQL = """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s + 1000000 AS dst FROM pairs
  UNION ALL
  SELECT s + 1000000 AS src, c AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
r0 AS (SELECT src, CAST(1000000000000 AS BIGINT) AS rank_int FROM deg),
i1 AS (SELECT e.dst, SUM(r.rank_int // d.outdeg) AS incoming
       FROM edges e JOIN r0 r ON e.src = r.src JOIN deg d ON e.src = d.src
       GROUP BY 1),
r1 AS (SELECT deg.src,
              CAST(150000000000 + (85 * COALESCE(i.incoming, 0)) // 100 AS BIGINT) AS rank_int
       FROM deg LEFT JOIN i1 i ON deg.src = i.dst),
i2 AS (SELECT e.dst, SUM(r.rank_int // d.outdeg) AS incoming
       FROM edges e JOIN r1 r ON e.src = r.src JOIN deg d ON e.src = d.src
       GROUP BY 1),
r2 AS (SELECT deg.src,
              CAST(150000000000 + (85 * COALESCE(i.incoming, 0)) // 100 AS BIGINT) AS rank_int
       FROM deg LEFT JOIN i2 i ON deg.src = i.dst),
i3 AS (SELECT e.dst, SUM(r.rank_int // d.outdeg) AS incoming
       FROM edges e JOIN r2 r ON e.src = r.src JOIN deg d ON e.src = d.src
       GROUP BY 1),
r3 AS (SELECT deg.src,
              CAST(150000000000 + (85 * COALESCE(i.incoming, 0)) // 100 AS BIGINT) AS rank_int
       FROM deg LEFT JOIN i3 i ON deg.src = i.dst)
SELECT src AS node, rank_int,
       CAST(rank_int AS DOUBLE) / CAST(1000000000000 AS DOUBLE) AS "rank"
FROM r3
"""

QUERIES["pr1_pagerank"] = pr1_pagerank
ORACLE["pr1_pagerank"] = PR1_SQL


def pr2_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank with DANGLING nodes (functions.graph.
    pagerank_fixed_point(dangling='redistribute')), 3 iterations over
    the DIRECTED customer->supplier trade graph — suppliers never have
    out-edges, so every supplier is dangling and holds ~a third of the
    graph's mass. Each round their summed rank splits equally (integer
    div) over all nodes and is damped in with the edge contributions —
    classic PageRank dangling-mass semantics, integer-exact, so the
    unrolled-CTE oracle compares bit-for-bit.
    """
    from ..functions.graph import pagerank_fixed_point

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    ords = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    return pagerank_fixed_point(edges, n_iter=3, dangling="redistribute")


PR2_SQL = """
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
deg AS (
  SELECT n.src, COALESCE(d.outdeg, 0) AS outdeg
  FROM (SELECT src FROM edges UNION SELECT dst FROM edges) n
  LEFT JOIN (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1) d
    USING (src)
),
nn AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT src, outdeg, CAST(1000000000000 AS BIGINT) AS rank_int FROM deg),
dm1 AS (SELECT COALESCE(SUM(rank_int), 0) AS dm FROM r0 WHERE outdeg = 0),
i1 AS (SELECT e.dst, SUM(r.rank_int // r.outdeg) AS incoming
       FROM edges e JOIN r0 r ON e.src = r.src WHERE r.outdeg > 0
       GROUP BY 1),
r1 AS (SELECT d.src, d.outdeg,
              CAST(150000000000
                   + (85 * (COALESCE(i.incoming, 0)
                            + (SELECT dm FROM dm1) // (SELECT n FROM nn)))
                     // 100 AS BIGINT) AS rank_int
       FROM deg d LEFT JOIN i1 i ON d.src = i.dst),
dm2 AS (SELECT COALESCE(SUM(rank_int), 0) AS dm FROM r1 WHERE outdeg = 0),
i2 AS (SELECT e.dst, SUM(r.rank_int // r.outdeg) AS incoming
       FROM edges e JOIN r1 r ON e.src = r.src WHERE r.outdeg > 0
       GROUP BY 1),
r2 AS (SELECT d.src, d.outdeg,
              CAST(150000000000
                   + (85 * (COALESCE(i.incoming, 0)
                            + (SELECT dm FROM dm2) // (SELECT n FROM nn)))
                     // 100 AS BIGINT) AS rank_int
       FROM deg d LEFT JOIN i2 i ON d.src = i.dst),
dm3 AS (SELECT COALESCE(SUM(rank_int), 0) AS dm FROM r2 WHERE outdeg = 0),
i3 AS (SELECT e.dst, SUM(r.rank_int // r.outdeg) AS incoming
       FROM edges e JOIN r2 r ON e.src = r.src WHERE r.outdeg > 0
       GROUP BY 1),
r3 AS (SELECT d.src, d.outdeg,
              CAST(150000000000
                   + (85 * (COALESCE(i.incoming, 0)
                            + (SELECT dm FROM dm3) // (SELECT n FROM nn)))
                     // 100 AS BIGINT) AS rank_int
       FROM deg d LEFT JOIN i3 i ON d.src = i.dst)
SELECT src AS node, rank_int,
       CAST(rank_int AS DOUBLE) / CAST(1000000000000 AS DOUBLE) AS "rank"
FROM r3
"""

QUERIES["pr2_pagerank_dangling"] = pr2_pagerank_dangling
ORACLE["pr2_pagerank_dangling"] = PR2_SQL


def h4_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-moment statistics (functions.curation.moment_stats) per
    returnflag/linestatus cell: mean + sample stddev of quantity and
    covariance/correlation with extended price. The five decimal
    moments make the result partition-independent, so the oracle
    derives the identical doubles from the identical exact sums.
    """
    from ..functions.curation import moment_stats

    li = load_table(spark, sf_dir, "lineitem")
    return moment_stats(
        li,
        group_cols=("l_returnflag", "l_linestatus"),
        x_col="l_quantity",
        y_col="l_extendedprice",
    )


H4_SQL = """
WITH m AS (
  SELECT l_returnflag, l_linestatus,
         COUNT(*) AS n,
         SUM(CAST(CAST(l_quantity AS DECIMAL(28,6)) AS DECIMAL(38,8))) AS sx,
         SUM(CAST(CAST(l_quantity AS DECIMAL(28,6))
                * CAST(l_quantity AS DECIMAL(28,6)) AS DECIMAL(38,8))) AS sxx,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(28,6)) AS DECIMAL(38,8))) AS sy,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(28,6))
                * CAST(l_extendedprice AS DECIMAL(28,6)) AS DECIMAL(38,8))) AS syy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(28,6))
                * CAST(l_extendedprice AS DECIMAL(28,6)) AS DECIMAL(38,8))) AS sxy
  FROM lineitem
  GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, n,
       CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x,
       CASE WHEN n > 1 THEN sqrt(
           (CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(n AS DOUBLE) - 1.0)) END AS stddev_x,
       CASE WHEN n > 1 THEN
           (CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(n AS DOUBLE) - 1.0) END AS covar_xy,
       CASE WHEN n > 1
             AND (CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)) > 0
             AND (CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)) > 0
            THEN
           (CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           / (sqrt(CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
              * sqrt(CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
       END AS corr_xy
FROM m
"""

QUERIES["h4_moment_stats"] = h4_moment_stats
ORACLE["h4_moment_stats"] = H4_SQL


def z1_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order write-layout audit (functions.curation.zorder_key):
    quantize (l_partkey, l_suppkey) into 256 buckets each by their
    actual domain maxima (two 1-row broadcast scalars — the operator's
    documented "quantize wider domains first" step, scale-adaptive at
    any sf), interleave into a 16-bit Morton key, split the keyspace
    into 256 top-byte file groups (what a clustered writer would
    emit), and report each group's row count and per-dimension min/max
    envelope — the statistics a scan planner prunes on. Pure integer
    arithmetic, bit-identical in any engine.
    """
    from ..functions.curation import zorder_key

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("p"),
        F.col("l_suppkey").cast("long").alias("s"),
    )
    scalars = li.agg(F.max("p").alias("maxp"), F.max("s").alias("maxs"))
    quant = li.crossJoin(broadcast(scalars)).select(
        "p",
        "s",
        F.expr("(p * 256) div (maxp + 1)").alias("qp"),
        F.expr("(s * 256) div (maxs + 1)").alias("qs"),
    )
    z = zorder_key(["qp", "qs"], bits=8)
    return (
        quant.withColumn("zval", z)
        .withColumn("file_group", F.shiftright("zval", 8).cast("long"))
        .groupBy("file_group")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("p").alias("min_partkey"),
            F.max("p").alias("max_partkey"),
            F.min("s").alias("min_suppkey"),
            F.max("s").alias("max_suppkey"),
        )
    )


from ..functions.curation import zorder_sql as _zsql  # noqa: E402

Z1_SQL = f"""
WITH base AS (
  SELECT CAST(l_partkey AS BIGINT) AS p,
         CAST(l_suppkey AS BIGINT) AS s
  FROM lineitem
),
keyed AS (
  SELECT p, s,
         {_zsql(["((p * 256) // (MAX(p) OVER () + 1))",
                 "((s * 256) // (MAX(s) OVER () + 1))"], 8)} AS zval
  FROM base
)
SELECT (zval >> 8) AS file_group,
       COUNT(*) AS n_rows,
       MIN(p) AS min_partkey, MAX(p) AS max_partkey,
       MIN(s) AS min_suppkey, MAX(s) AS max_suppkey
FROM keyed
GROUP BY 1
"""

QUERIES["z1_zorder_layout"] = z1_zorder_layout
ORACLE["z1_zorder_layout"] = Z1_SQL


def j16_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join (operators.skew.salted_join): lineitem
    joined to supplier on suppkey with the fact side spread over 16
    salt sub-keys and the dim replicated per bucket. A pure physical
    rewrite — the oracle is the PLAIN join, proving salting changes
    the shuffle layout and nothing else.
    """
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"),
        "l_orderkey",
        F.col("l_quantity").cast("double").alias("qty"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    joined = salted_join(li, sup, on=["s_suppkey"], salt_buckets=16)
    return joined.groupBy("s_name", "s_nationkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("qty").alias("sum_qty"),
    )


J16_SQL = """
SELECT s.s_name, s.s_nationkey,
       COUNT(*) AS n_lines,
       SUM(CAST(l.l_quantity AS DOUBLE)) AS sum_qty
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1, 2
"""

QUERIES["j16_salted_join"] = j16_salted_join
ORACLE["j16_salted_join"] = J16_SQL


def g7_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with an explicit, non-lattice set list —
    ((event_type), (month), ()) — the shape neither ROLLUP (g5) nor
    CUBE (g6) expresses without computing unwanted combinations: the
    two one-dimension slices plus the grand total, skipping the
    (event_type, month) cells entirely. One pass, map-side partials,
    exact integer micro-units for the same 2^53 reason as g5."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    )
    micro = (F.col("value").cast(DEC) * 1_000_000).cast("decimal(24,0)")
    return (
        ev.groupingSets(
            [["event_type"], ["month"], []], "event_type", "month"
        )
        .agg(
            F.grouping("event_type").cast("long").alias("g_type"),
            F.grouping("month").cast("long").alias("g_month"),
            F.sum(micro).cast("long").alias("val_micro"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("event_type", "month", "g_type", "g_month", "val_micro", "n")
    )


G7_SQL = """
SELECT event_type, month,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(GROUPING(month) AS BIGINT) AS g_month,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS DECIMAL(24,0))) AS BIGINT) AS val_micro,
       COUNT(*) AS n
FROM (SELECT event_type, strftime(ts, '%Y-%m') AS month, value FROM events)
GROUP BY GROUPING SETS ((event_type), (month), ())
"""

QUERIES["g7_grouping_sets"] = g7_grouping_sets
ORACLE["g7_grouping_sets"] = G7_SQL


def w11_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling sum: per supplier, the trailing-7-DAY
    quantity sum ordered by ship date — a true range frame (gaps in
    the calendar shrink the window; the rows-frame family W1-W10 can't
    express this without densifying first, which is exactly what J4
    exists to avoid when the metric is sparse). The frame rides one
    partitionBy(suppkey) exchange; the order key is integer epoch-days
    so both engines bound the frame with exact integer arithmetic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.to_date("l_shipdate").alias("ship_date"),
        F.col("l_quantity").cast(DEC).alias("qty"),
    )
    day = F.unix_date("ship_date")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(day)
        .rangeBetween(-6, 0)
    )
    return li.select(
        "l_suppkey",
        F.col("ship_date").cast("string").alias("ship_date"),
        F.col("qty").cast("double").alias("qty"),
        F.sum("qty").over(w).cast("decimal(30,6)").cast("double").alias("qty_7day"),
    )


W11_SQL = """
SELECT l_suppkey,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date,
       CAST(CAST(l_quantity AS DECIMAL(18,6)) AS DOUBLE) AS qty,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) OVER (
           PARTITION BY l_suppkey
           ORDER BY date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS DECIMAL(30,6)) AS DOUBLE) AS qty_7day
FROM lineitem
"""

QUERIES["w11_range_window"] = w11_range_window
ORACLE["w11_range_window"] = W11_SQL


def h5_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full rank-function family in one window — rank, dense_rank,
    percent_rank, cume_dist over order value within each priority
    class (h3 covers ntile). All four are tie-stable (equal keys get
    equal outputs), so the result is deterministic without a unique
    tiebreak; the two fractional functions divide the same exact
    integers in both engines."""
    ords = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"))
    return ords.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
    )


H5_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(RANK() OVER w AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
       PERCENT_RANK() OVER w AS prnk,
       CUME_DIST() OVER w AS cdist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC)
"""

QUERIES["h5_rank_functions"] = h5_rank_functions
ORACLE["h5_rank_functions"] = H5_SQL


def pipe15_classifier_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end model-scored curation — the composition a production
    training-data pass runs after the heuristic gates:

    1. hashing-trick classifier scores every doc (t8's 1024-bucket
       fixed-point model; exact integer sums);
    2. keep docs the model accepts (score >= 0, non-empty);
    3. exact-dedup the survivors on the normalised fingerprint,
       keeping the min-id representative of each content class;
    4. emit the per-(lang, source) ledger: kept docs, total tokens,
       and the mean classifier score of the kept set — the exact
       integer mass divided once per group.

    Every stage is a map or one hash aggregate; the only shuffles are
    the fingerprint groupBy and the final ledger groupBy, both keyed
    and partial-aggregated.
    """
    from ..functions.text import fingerprint, hashed_classifier_score

    weights = [((b * 2654435761) % 2001) - 1000 for b in range(1024)]
    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_classifier_score(
        docs,
        weights=weights,
        threshold=0.0,
        keep_cols=("doc_id", "lang", "source", "text"),
    )
    accepted = scored.filter(F.col("label"))
    reps = (
        accepted.withColumn("fp", fingerprint("text"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
        )
    )
    kept = accepted.join(reps.select("doc_id"), "doc_id", "left_semi")
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("score_raw").alias("score_mass"),
        (
            F.sum("score_raw").cast("double")
            / (F.sum("n_tokens") * 1000).cast("double")
        ).alias("mean_score"),
    )


PIPE15_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, source, text,
         list_filter(string_split(text, ' '), t -> t <> '') AS l
  FROM documents
),
scored AS (
  SELECT doc_id, lang, source, text, len(l) AS n_tokens,
         COALESCE(list_sum(list_transform(l, t ->
             ((({_T8_MD5LONG} % 1024) * 2654435761) % 2001) - 1000
         )), 0) AS score_raw
  FROM toks
),
accepted AS (
  SELECT * FROM scored
  WHERE n_tokens > 0
    AND CAST(score_raw AS DOUBLE) / CAST(n_tokens * 1000 AS DOUBLE) >= 0.0
),
reps AS (
  SELECT MIN(doc_id) AS doc_id
  FROM (SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM accepted)
  GROUP BY fp
)
SELECT a.lang, a.source,
       COUNT(*) AS kept_docs,
       CAST(SUM(a.n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(a.score_raw) AS BIGINT) AS score_mass,
       CAST(SUM(a.score_raw) AS DOUBLE)
         / CAST(SUM(a.n_tokens) * 1000 AS DOUBLE) AS mean_score
FROM accepted a
JOIN reps r ON a.doc_id = r.doc_id
GROUP BY 1, 2
"""

QUERIES["pipe15_classifier_curation"] = pipe15_classifier_curation
ORACLE["pipe15_classifier_curation"] = PIPE15_SQL


def d13_fastss_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution near-identical names via FastSS deletion
    neighborhoods (functions.dedup.editdist_pairs_fastss): every
    customer-name pair within ONE edit, found by an equi-join on
    8-byte deletion-variant hashes — candidates grow linearly with the
    corpus (posting lists bounded by alphabet size), vs the
    length-band quadratic cells of d9's banded-DP join. The oracle is
    the brute-force all-pairs Levenshtein, so the gate also proves the
    neighborhood construction loses no qualifying pair.

    Names exact-dedup to their min-id representative FIRST — the
    operator's documented precondition, and the real entity-resolution
    shape: a mass-duplicated entity table (sf1 carries every name 10x)
    would otherwise spend its time re-deriving |dup|^2 known-identical
    pairs inside every cluster.
    """
    from ..functions.dedup import editdist_pairs_fastss

    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_name")
        .agg(F.min("c_custkey").alias("doc_id"))
        .select("doc_id", F.col("c_name").alias("text"))
    )
    out = editdist_pairs_fastss(cust, id_col="doc_id", text_col="text")
    return out.select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))


D13_SQL = """
WITH reps AS (
    SELECT MIN(c_custkey) AS id, c_name
    FROM customer
    GROUP BY c_name
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM reps a
JOIN reps b
  ON a.id < b.id
 AND abs(length(a.c_name) - length(b.c_name)) <= 1
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""

QUERIES["d13_fastss_pairs"] = d13_fastss_pairs
ORACLE["d13_fastss_pairs"] = D13_SQL


from ..functions.dedup import minhash_probe_pairs  # noqa: E402


def d14_probe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup probe: the 20% of docs with doc_id % 5 = 0
    play the 'new batch', the other 80% the indexed corpus. The batch's
    band rows equi-join the corpus band table (index state in
    production), and only candidate docs are tokenised for the exact
    Jaccard verify — the daily-crawl-vs-corpus shape at MinHash
    granularity (functions/dedup.py minhash_probe_pairs; ref parallel:
    the reference's releases are full re-loads keyed by row hash,
    db_etl_upload/uploader.py:320-325 — this is the incremental
    alternative a corpus-scale pipeline needs)."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return minhash_probe_pairs(batch, corpus, k=16, bands=2, threshold=0.5)


def _probe_sql(
    batch_pred: str,
    corpus_pred: str,
    k: int,
    bands: int,
    threshold: float,
    index_stats: bool = False,
) -> str:
    """MinHash-probe oracle builder, shared by d14 (batch operator),
    st6 (streaming operator, batch semantics) and d14b (index
    maintenance): signatures, band rows, distinct band-join
    candidates, exact-Jaccard verify. ``index_stats=True`` appends the
    rebuilt-from-scratch corpus band table's (row count, doc count) as
    constant columns — the d14b gate pins the MAINTAINED index against
    them, so an upsert that appended instead of replacing (stale rows
    left behind) fails the hash even when the pair set happens to
    survive."""
    rows_per_band = k // bands
    sig_exprs = ",".join(
        f"list_min(list_transform(th, h -> ({a} * h + {b}) % {MERSENNE_P})) AS mh{i}"
        for i, (a, b) in enumerate(hash_params(k))
    )
    band_sel = []
    for bidx in range(bands):
        members = ", ".join(
            f"mh{i}"
            for i in range(bidx * rows_per_band, (bidx + 1) * rows_per_band)
        )
        band_sel.append(
            f"SELECT doc_id, {bidx} AS band, concat_ws('_', {members}) AS sig "
            "FROM SIDE WHERE mh0 IS NOT NULL"
        )
    bands_sql = " UNION ALL ".join(band_sel)
    stats_cols = (
        ",\n       (SELECT CAST(COUNT(*) AS BIGINT) FROM bands_c) AS idx_rows,"
        "\n       (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM bands_c)"
        " AS idx_docs"
        if index_stats
        else ""
    )
    return f"""
WITH th_b AS (SELECT doc_id, {_TH_SQL} AS th FROM documents WHERE {batch_pred}),
th_c AS (SELECT doc_id, {_TH_SQL} AS th FROM documents WHERE {corpus_pred}),
sig_b AS (SELECT doc_id, {sig_exprs} FROM th_b),
sig_c AS (SELECT doc_id, {sig_exprs} FROM th_c),
bands_b AS ({bands_sql.replace('SIDE', 'sig_b')}),
bands_c AS ({bands_sql.replace('SIDE', 'sig_c')}),
cand AS (
    SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS old_id
    FROM bands_b b JOIN bands_c c ON b.band = c.band AND b.sig = c.sig
),
toks AS (
    SELECT doc_id,
           list_filter(list_distinct(string_split(text, ' ')), t -> t <> '') AS toks
    FROM documents
)
SELECT cand.new_id, cand.old_id,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
       / CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         AS jaccard{stats_cols}
FROM cand
JOIN toks a ON a.doc_id = cand.new_id
JOIN toks b ON b.doc_id = cand.old_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      >= {threshold}
"""


D14_SQL = _probe_sql("doc_id % 5 = 0", "doc_id % 5 <> 0", 16, 2, 0.5)

QUERIES["d14_probe_pairs"] = d14_probe_pairs
ORACLE["d14_probe_pairs"] = D14_SQL


def m4_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal AUDIO stage with a real codec in the loop:
    deterministic PCM-16 WAV clips (RIFF + fmt + data assembled by
    multimodal.build_wav_pcm16 from doc_id-derived samples) flow
    through the real byte-level WAV parser (chunk walk, little-endian
    frames) in decode_audio; the oracle recomputes every feature from
    the same sample formula — a wrong stride/endianness/offset in the
    parser shows up as a value mismatch. RMS is an integer
    sum-of-squares with one double division + sqrt, bit-reproducible.
    """
    import pandas as pd

    from ..functions.multimodal import build_wav_pcm16, decode_audio

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.lit("audio").alias("kind")
    )

    def build(batches):
        for pdf in batches:
            contents = []
            for d in pdf["media_id"]:
                d = int(d)
                rate = 8000 + (d % 3) * 4000
                n = 8 + d % 50
                xs = [((d * 7919 + i * 104729) % 65536) - 32768 for i in range(n)]
                contents.append(build_wav_pcm16(rate, xs))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "content": contents,
                }
            )

    media = docs.mapInPandas(build, "media_id long, kind string, content binary")
    return decode_audio(media)


M4_SQL = """
WITH p AS (
    SELECT doc_id,
           CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate,
           CAST(8 + doc_id % 50 AS BIGINT) AS n
    FROM documents
),
s AS (
    SELECT doc_id, rate, n,
           list_transform(range(0, CAST(n AS INT)),
                          i -> (doc_id * 7919 + i * 104729) % 65536 - 32768) AS xs
    FROM p
)
SELECT doc_id AS media_id,
       'audio' AS kind,
       rate AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(16 AS INT) AS bits,
       n AS n_samples,
       CAST(n AS DOUBLE) / rate AS duration_s,
       sqrt(CAST(list_sum(list_transform(xs, x -> x * x)) AS BIGINT)
            / CAST(n AS DOUBLE)) AS rms
FROM s
"""

QUERIES["m4_audio_decode"] = m4_audio_decode
ORACLE["m4_audio_decode"] = M4_SQL


def h6_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content checksum per returnflag
    (functions.curation.table_checksum): the one-pass commutative
    digest that verifies a 100 TB copy without sorting or moving it.
    Floats enter as fixed-scale decimals and the date as an ISO
    string, so the canonical row encoding is engine-independent; the
    60-bit row hashes sum exactly in DECIMAL(38,0).
    """
    from ..functions.curation import table_checksum

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_orderkey").cast("long").alias("okey"),
        F.col("l_linenumber").cast("long").alias("lno"),
        F.col("l_partkey").cast("long").alias("pkey"),
        F.col("l_quantity").cast(DEC).cast("string").alias("qty"),
        F.col("l_extendedprice").cast(DEC).cast("string").alias("price"),
        F.to_date("l_shipdate").cast("string").alias("ship_date"),
    )
    return table_checksum(li, group_cols=("l_returnflag",))


H6_SQL = """
WITH enc AS (
  SELECT l_returnflag,
         concat(
           CASE WHEN l_orderkey IS NULL THEN 'N'
                ELSE 'V' || CAST(strlen(CAST(CAST(l_orderkey AS BIGINT) AS VARCHAR)) AS VARCHAR) || ':' || CAST(CAST(l_orderkey AS BIGINT) AS VARCHAR) END,
           CASE WHEN l_linenumber IS NULL THEN 'N'
                ELSE 'V' || CAST(strlen(CAST(CAST(l_linenumber AS BIGINT) AS VARCHAR)) AS VARCHAR) || ':' || CAST(CAST(l_linenumber AS BIGINT) AS VARCHAR) END,
           CASE WHEN l_partkey IS NULL THEN 'N'
                ELSE 'V' || CAST(strlen(CAST(CAST(l_partkey AS BIGINT) AS VARCHAR)) AS VARCHAR) || ':' || CAST(CAST(l_partkey AS BIGINT) AS VARCHAR) END,
           CASE WHEN l_quantity IS NULL THEN 'N'
                ELSE 'V' || CAST(strlen(CAST(CAST(l_quantity AS DECIMAL(18,6)) AS VARCHAR)) AS VARCHAR) || ':' || CAST(CAST(l_quantity AS DECIMAL(18,6)) AS VARCHAR) END,
           CASE WHEN l_extendedprice IS NULL THEN 'N'
                ELSE 'V' || CAST(strlen(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS VARCHAR)) AS VARCHAR) || ':' || CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS VARCHAR) END,
           CASE WHEN l_shipdate IS NULL THEN 'N'
                ELSE 'V' || CAST(strlen(CAST(CAST(l_shipdate AS DATE) AS VARCHAR)) AS VARCHAR) || ':' || CAST(CAST(l_shipdate AS DATE) AS VARCHAR) END
         ) AS row_enc
  FROM lineitem
),
hashed AS (
  SELECT l_returnflag,
         list_reduce(list_transform(string_split(substr(md5(row_enc),1,15), ''),
             c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a,b) -> a*16+b) AS row_hash
  FROM enc
)
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(row_hash) AS VARCHAR) AS checksum
FROM hashed
GROUP BY 1
"""

QUERIES["h6_table_checksum"] = h6_table_checksum
ORACLE["h6_table_checksum"] = H6_SQL


def w12_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an event-time window — per
    supplier, how many distinct parts it has ever shipped as of each
    ship date. Spark windows reject DISTINCT aggregates, so the
    engine expresses it as ``size(collect_set(...))`` over a RANGE
    frame (a range frame, not rows: same-date ties must land wholly
    inside every row's frame or tie order would make the count
    nondeterministic). State is the distinct set per partition —
    bounded by the dimension's cardinality, not the fact row count.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.to_date("l_shipdate").alias("ship_date"),
        "l_partkey",
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(F.unix_date("ship_date"))
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        F.col("ship_date").cast("string").alias("ship_date"),
        "l_partkey",
        F.size(F.collect_set("l_partkey").over(w)).cast("long").alias(
            "distinct_parts_to_date"
        ),
    )


W12_SQL = """
SELECT l_suppkey,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date,
       l_partkey,
       CAST(COUNT(DISTINCT l_partkey) OVER (
           PARTITION BY l_suppkey
           ORDER BY date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS distinct_parts_to_date
FROM lineitem
"""

QUERIES["w12_running_distinct"] = w12_running_distinct
ORACLE["w12_running_distinct"] = W12_SQL


def x19_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement
    (functions.curation.priority_sample): the 20 highest-priority docs
    per language, weighted by token count — Duffield-Lund-Thorup
    priority sampling with md5-derived uniforms, so the kept set is
    exactly reproducible and the oracle replays the identical cut
    (priority ties break by doc_id)."""
    from ..functions.curation import priority_sample
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens",
        F.size(F.filter(tokens("text"), lambda t: t != F.lit(""))).cast("long"),
    )
    kept = priority_sample(
        docs.filter(F.col("n_tokens") > 0),
        k=20,
        weight_col="n_tokens",
        group_cols=("lang",),
    )
    return kept.select("doc_id", "lang", "n_tokens")


_X19_U = (
    "GREATEST(list_reduce(list_transform(string_split(substr(md5("
    "CAST(doc_id AS VARCHAR)),1,15), ''), "
    "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16+b), 1)"
)

X19_SQL = f"""
WITH sized AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
           AS n_tokens
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, n_tokens,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY CAST(n_tokens AS DOUBLE) / CAST({_X19_U} AS DOUBLE) DESC,
                    doc_id ASC
         ) AS rk
  FROM sized
  WHERE n_tokens > 0
)
SELECT doc_id, lang, n_tokens FROM ranked WHERE rk <= 20
"""

QUERIES["x19_priority_sample"] = x19_priority_sample
ORACLE["x19_priority_sample"] = X19_SQL


def m5_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal VIDEO stage with a real container decode in the
    loop: deterministic Y4M (YUV4MPEG2) streams — real header + FRAME
    markers + planar rasters assembled by multimodal.build_y4m from
    doc_id-derived luma planes, alternating Cmono and C420jpeg so both
    plane-size paths are exercised — flow through the byte-level Y4M
    walker in sample_video_frames (every 2nd frame). The oracle replays
    the same frame/pixel formula in SQL: a wrong chroma-plane size,
    frame offset, or header parse shifts every later frame's luma and
    fails the value hash. mean_luma is a BIGINT pixel sum with one
    double division, bit-reproducible. (functions/multimodal.py
    _parse_y4m / sample_video_frames; ref parallel: the reference
    treats media as opaque blobs at best — this is the frame-sampling
    stage a multimodal training pipeline needs.)"""
    import pandas as pd

    from ..functions.multimodal import build_y4m, sample_video_frames

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        for pdf in batches:
            contents = []
            for d in pdf["media_id"]:
                d = int(d)
                w = 4 + 2 * (d % 3)
                h = 4 + 2 * (d % 2)
                nf = 2 + d % 5
                planes = [
                    [(d * 31 + fi * 17 + i * 7) % 256 for i in range(w * h)]
                    for fi in range(nf)
                ]
                cs = "mono" if d % 4 == 0 else "420jpeg"
                contents.append(
                    build_y4m(w, h, planes, fps_num=10 + 5 * (d % 2), colorspace=cs)
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": contents}
            )

    media = docs.mapInPandas(build, "media_id long, content binary")
    return sample_video_frames(media, every_n=2)


M5_SQL = """
WITH p AS (
    SELECT doc_id,
           CAST(4 + 2 * (doc_id % 3) AS INT) AS w,
           CAST(4 + 2 * (doc_id % 2) AS INT) AS h,
           CAST(2 + doc_id % 5 AS INT) AS nf
    FROM documents
),
f AS (
    SELECT doc_id, w, h, CAST(unnest(range(0, nf)) AS INT) AS frame_index
    FROM p
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       frame_index,
       w AS width,
       h AS height,
       CAST(list_sum(list_transform(range(0, w * h),
            i -> (doc_id * 31 + frame_index * 17 + i * 7) % 256)) AS BIGINT)
       / CAST(w * h AS DOUBLE) AS mean_luma
FROM f
WHERE frame_index % 2 = 0
"""

QUERIES["m5_video_frames"] = m5_video_frames
ORACLE["m5_video_frames"] = M5_SQL


def m6_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal image stage with a real COMPRESSED-format decode
    in the loop: deterministic 8-bit PNGs (stdlib-zlib DEFLATE, real
    forward scanline filtering with filter type row%5 so every
    None/Sub/Up/Average/Paeth reconstruction path runs, alternating
    grayscale and RGB color types) assembled by multimodal.build_png
    from doc_id-derived pixels, then decoded byte-for-byte by
    _parse_png inside decode_images — chunk walk, CRC verify, inflate,
    unfilter. The oracle replays only the PIXEL formula in SQL: any
    bug in filter reconstruction, chunk parsing, or color-type
    normalisation perturbs decoded pixels and fails the value hash
    (PNG is lossless, so decode must recover the formula exactly).
    Luma is the integer BT.601 sum with one double division; gray
    replication is BT.601-exact since the weights sum to 1000.
    (functions/multimodal.py _parse_png / build_png / decode_images.)"""
    import pandas as pd

    from ..functions.multimodal import build_png, decode_images

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        for pdf in batches:
            contents = []
            for d in pdf["media_id"]:
                d = int(d)
                w, h = 3 + d % 4, 5 + d % 3
                if d % 2 == 0:
                    px = [(d * 13 + i * 5) % 256 for i in range(w * h)]
                    contents.append(build_png(w, h, px, color=0))
                else:
                    px = [(d * 13 + i * 5) % 256 for i in range(3 * w * h)]
                    contents.append(build_png(w, h, px, color=2))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "image",
                    "content": contents,
                }
            )

    media = docs.mapInPandas(build, "media_id long, kind string, content binary")
    return decode_images(media)


M6_SQL = """
WITH p AS (
    SELECT doc_id,
           CAST(3 + doc_id % 4 AS INT) AS w,
           CAST(5 + doc_id % 3 AS INT) AS h
    FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       'image' AS kind,
       w AS width,
       h AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CASE WHEN doc_id % 2 = 0 THEN
           CAST(list_sum(list_transform(range(0, w * h),
                i -> (doc_id * 13 + i * 5) % 256)) AS BIGINT)
           / CAST(w * h AS DOUBLE)
       ELSE
           CAST(list_sum(list_transform(range(0, w * h), px ->
                  299 * ((doc_id * 13 + (3 * px) * 5) % 256)
                + 587 * ((doc_id * 13 + (3 * px + 1) * 5) % 256)
                + 114 * ((doc_id * 13 + (3 * px + 2) * 5) % 256))) AS BIGINT)
           / CAST(1000 * w * h AS DOUBLE)
       END AS mean_luma
FROM p
"""

QUERIES["m6_png_decode"] = m6_png_decode
ORACLE["m6_png_decode"] = M6_SQL


def bpe1_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (Sennrich et al. 2016), the real
    trainer shape: ONE corpus-sized shuffle (word histogram with
    map-side partial agg), then the merge loop over the vocabulary
    only, collect bounded by a loud max_vocab. The oracle replays 3
    exact merge rounds in SQL via the sentinel isomorphism: after each
    round the fused pair is replaced by an unused control character,
    so every symbol is exactly one character and string replace ==
    greedy left-to-right symbol merging; ties break on (count DESC,
    decoded left, decoded right) on both sides.
    (functions/text.py learn_bpe_merges / _bpe_merge_loop.)"""
    from ..functions.text import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return learn_bpe_merges(docs, n_merges=3)


def _bpe_oracle_ctes() -> str:
    """Shared CTE block: words histogram + 3 sentinel-encoded merge
    rounds (m1/m2/m3 in their round's symbol space, w1/w2 rewritten
    corpora). SUMs are BIGINT-cast (DuckDB HUGEINT would fail the
    driver's same-type compare)."""
    m1s = "(SELECT l || r FROM m1)"
    dec1 = lambda x: f"replace({x}, chr(1), {m1s})"  # noqa: E731
    m2dec = f"(SELECT {dec1('l')} || {dec1('r')} FROM m2)"
    dec2 = lambda x: f"replace({dec1(x)}, chr(2), {m2dec})"  # noqa: E731
    return f"""
words AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS f
    FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents
    )
    GROUP BY word
),
p1 AS (
    SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r,
           CAST(SUM(f) AS BIGINT) AS c
    FROM words, unnest(range(1, length(word))) AS t(i)
    GROUP BY 1, 2
),
m1 AS (SELECT l, r, c FROM p1 ORDER BY c DESC, l, r LIMIT 1),
w1 AS (
    SELECT replace(word, {m1s}, chr(1)) AS word, f FROM words
),
p2 AS (
    SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r,
           CAST(SUM(f) AS BIGINT) AS c
    FROM w1, unnest(range(1, length(word))) AS t(i)
    GROUP BY 1, 2
),
m2 AS (
    SELECT l, r, c FROM p2
    ORDER BY c DESC, {dec1('l')}, {dec1('r')}
    LIMIT 1
),
w2 AS (
    SELECT replace(word, (SELECT l || r FROM m2), chr(2)) AS word, f FROM w1
),
p3 AS (
    SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r,
           CAST(SUM(f) AS BIGINT) AS c
    FROM w2, unnest(range(1, length(word))) AS t(i)
    GROUP BY 1, 2
),
m3 AS (
    SELECT l, r, c FROM p3
    ORDER BY c DESC, {dec2('l')}, {dec2('r')}
    LIMIT 1
)"""


def _bpe1_sql() -> str:
    m1s = "(SELECT l || r FROM m1)"
    dec1 = lambda x: f"replace({x}, chr(1), {m1s})"  # noqa: E731
    m2dec = f"(SELECT {dec1('l')} || {dec1('r')} FROM m2)"
    dec2 = lambda x: f"replace({dec1(x)}, chr(2), {m2dec})"  # noqa: E731
    return f"""
WITH {_bpe_oracle_ctes()}
SELECT CAST(1 AS INT) AS merge_rank, l AS "left", r AS "right",
       c AS pair_count FROM m1
UNION ALL
SELECT CAST(2 AS INT), {dec1('l')}, {dec1('r')}, c FROM m2
UNION ALL
SELECT CAST(3 AS INT), {dec2('l')}, {dec2('r')}, c FROM m3
"""


BPE1_SQL = _bpe1_sql()

QUERIES["bpe1_learn_merges"] = bpe1_learn_merges
ORACLE["bpe1_learn_merges"] = BPE1_SQL


def bpe2_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE with the merge table learned in-plan: per-doc token
    count after applying 3 learned merges (rank order, greedy
    left-to-right per pretoken). The encoder is Arrow-batched
    mapInPandas with per-batch word memoisation — map-side only, the
    merge table broadcast by closure. Oracle: in sentinel space every
    symbol is one character, so the token count per word is just
    length() after the three replaces. (functions/text.py bpe_encode.)"""
    from ..functions.text import bpe_encode, learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, n_merges=3)
    return bpe_encode(docs, merges).select("doc_id", "n_bpe_tokens")


BPE2_SQL = f"""
WITH {_bpe_oracle_ctes()},
enc AS (
    SELECT doc_id, CAST(SUM(length(
        replace(replace(replace(word,
            (SELECT l || r FROM m1), chr(1)),
            (SELECT l || r FROM m2), chr(2)),
            (SELECT l || r FROM m3), chr(3))
    )) AS BIGINT) AS n
    FROM (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents
    )
    GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(e.n, 0) AS n_bpe_tokens
FROM documents d LEFT JOIN enc e USING (doc_id)
"""

QUERIES["bpe2_encode_counts"] = bpe2_encode_counts
ORACLE["bpe2_encode_counts"] = BPE2_SQL


def m7_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal image stage with a real DICTIONARY-CODED format
    decode in the loop: deterministic GIF89a files — 8-entry palette
    and index raster both derived from doc_id, REAL LZW compression in
    multimodal.build_gif (variable-width codes, clear/EOI), odd doc_ids
    stored interlaced behind a graphic-control extension so the 4-pass
    row reordering and extension skipping are load-bearing — decoded
    byte-for-byte by _parse_gif inside decode_images. The oracle
    replays only the palette/index FORMULA in SQL: LZW is lossless, so
    any bug in code-width bumps, dictionary growth, interlace order, or
    table parsing perturbs decoded pixels and fails the value hash.
    Luma is the integer BT.601 sum with one double division.
    (functions/multimodal.py _parse_gif / _lzw_decode / build_gif.)"""
    import pandas as pd

    from ..functions.multimodal import build_gif, decode_images

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        for pdf in batches:
            contents = []
            for d in pdf["media_id"]:
                d = int(d)
                w, h = 3 + d % 4, 5 + d % 3
                pal = [
                    (
                        (d * 7 + j * 11) % 256,
                        (d * 5 + j * 13) % 256,
                        (d * 3 + j * 17) % 256,
                    )
                    for j in range(8)
                ]
                idx = [(d + i * 3) % 8 for i in range(w * h)]
                contents.append(
                    build_gif(
                        w, h, idx, pal,
                        interlace=bool(d % 2),
                        animated_hint=bool(d % 2),
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "image",
                    "content": contents,
                }
            )

    media = docs.mapInPandas(build, "media_id long, kind string, content binary")
    return decode_images(media)


M7_SQL = """
WITH p AS (
    SELECT doc_id,
           CAST(3 + doc_id % 4 AS INT) AS w,
           CAST(5 + doc_id % 3 AS INT) AS h
    FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       'image' AS kind,
       w AS width,
       h AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(list_sum(list_transform(range(0, w * h), i ->
              299 * ((doc_id * 7 + ((doc_id + i * 3) % 8) * 11) % 256)
            + 587 * ((doc_id * 5 + ((doc_id + i * 3) % 8) * 13) % 256)
            + 114 * ((doc_id * 3 + ((doc_id + i * 3) % 8) * 17) % 256)))
        AS BIGINT) / CAST(1000 * w * h AS DOUBLE) AS mean_luma
FROM p
"""

QUERIES["m7_gif_decode"] = m7_gif_decode
ORACLE["m7_gif_decode"] = M7_SQL


def x20_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023): score every
    document by the integer fixed-point hashed-ngram importance ratio
    of the English subset (the target domain) against the whole corpus
    (the raw distribution). The bucket model is 256 rows — driver
    big-int ratio arithmetic, broadcast-joined back — and the oracle
    replays the full pipeline in SQL: unigram+bigram explode, md5
    bucketing, add-one smoothed clipped ratio with HUGEINT
    intermediates, exact BIGINT mass, ONE double division.
    (functions/curation.py dsir_importance.)"""
    from ..functions.curation import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=256
    )


X20_SQL = (
    """
WITH toks AS (
    SELECT doc_id, lang,
           list_filter(string_split(text, ' '), t -> t <> '') AS tk
    FROM documents
),
grams AS (
    SELECT doc_id, lang, unnest(tk) AS g FROM toks
    UNION ALL
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || chr(1) || tk[i + 1])) AS g
    FROM toks
),
bg AS (
    SELECT doc_id, lang, """
    + _md5int_sql("g")
    + """ % 256 AS b FROM grams
),
raw_cnt AS (SELECT b, count(*) AS r FROM bg GROUP BY b),
tgt_cnt AS (SELECT b, count(*) AS t FROM bg WHERE lang = 'en' GROUP BY b),
tot AS (
    SELECT (SELECT count(*) FROM bg) AS big_r,
           (SELECT count(*) FROM bg WHERE lang = 'en') AS big_t
),
lut AS (
    SELECT rc.b,
           GREATEST(1, LEAST(1000000000000, CAST(
               (CAST(COALESCE(tc.t, 0) + 1 AS HUGEINT)
                   * (tot.big_r + 256) * 1000000)
               // (CAST(rc.r + 1 AS HUGEINT) * (tot.big_t + 256))
           AS BIGINT))) AS ratio
    FROM raw_cnt rc LEFT JOIN tgt_cnt tc USING (b), tot
),
scored AS (
    SELECT bg.doc_id, count(*) AS n_grams,
           CAST(SUM(lut.ratio) AS BIGINT) AS mass
    FROM bg JOIN lut USING (b) GROUP BY bg.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_grams, 0) AS n_grams,
       COALESCE(s.mass, 0) AS importance_mass,
       CASE WHEN COALESCE(s.n_grams, 0) > 0
            THEN CAST(s.mass AS DOUBLE)
                 / CAST(s.n_grams * 1000000 AS DOUBLE)
            ELSE 0.0 END AS importance
FROM documents d LEFT JOIN scored s USING (doc_id)
"""
)

QUERIES["x20_dsir_importance"] = x20_dsir_importance
ORACLE["x20_dsir_importance"] = X20_SQL


def s5_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end-to-end (Jégou et al. 2011): train
    per-subspace codebooks (m_sub=4, k=4, ONE exact-decimal Lloyd
    round, smallest-id seeding), encode the corpus to 4-byte codes
    (zero-shuffle literal-codebook argmin), then asymmetric-distance
    top-5 for the %97 query set — each query's (4×4) LUT evaluated
    once under the BroadcastExchange, candidates scored in O(m_sub)
    lookups with a sequential fold. The oracle replays the whole
    chain: seeding, the unrolled Lloyd round with its ORDERED-FOLD
    centroid sum (decimal sums are NOT cross-engine exact — Spark
    rounds the double→decimal cast HALF_UP, DuckDB truncates — and
    unlike c2's assignment output, ADC distances expose the last
    bit) with COALESCE empty-cluster fallback, argmin encoding, and
    the ordered list_reduce ADC sum — any drift in codebooks, codes,
    or fold order perturbs distances/ranks and fails the value hash.
    (functions/similarity.py pq_train / pq_encode / pq_adc_topk.)"""
    from ..functions.similarity import pq_adc_topk, pq_encode, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m_sub=4, k=4, n_iter=1, exact=True)
    enc = pq_encode(emb, cb)
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    return pq_adc_topk(queries, enc, cb, topk=5)


def _s5_sq_sql(x: str, c: str) -> str:
    """Ordered squared-L2 over 16-dim sublists — the same left fold
    pq's _sq_l2 evaluates (0.0 + t1 is exact, so the brackets agree)."""
    return (
        f"list_reduce(list_transform(range(1, 17), "
        f"i -> ({x}[i]-{c}[i])*({x}[i]-{c}[i])), (a,b) -> a+b)"
    )


S5_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
subs AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS s),
seeds AS (
    SELECT subs.s, CAST(r.rn - 1 AS BIGINT) AS code,
           list_slice(r.v, subs.s * 16 + 1, subs.s * 16 + 16) AS cw
    FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e) r,
         subs
    WHERE r.rn <= 4
),
sv AS (
    SELECT vec_id, subs.s,
           list_slice(v, subs.s * 16 + 1, subs.s * 16 + 16) AS x
    FROM e, subs
),
a0 AS (
    SELECT vec_id, s, code FROM (
        SELECT sv.vec_id, sv.s, sd.code,
               ROW_NUMBER() OVER (
                   PARTITION BY sv.vec_id, sv.s
                   ORDER BY {_s5_sq_sql('sv.x', 'sd.cw')} ASC, sd.code ASC
               ) AS rn
        FROM sv JOIN seeds sd ON sv.s = sd.s
    ) WHERE rn = 1
),
x0 AS (
    SELECT sv.vec_id, a0.s, a0.code, t.dim, sv.x[t.dim] AS val
    FROM a0 JOIN sv ON a0.vec_id = sv.vec_id AND a0.s = sv.s,
         LATERAL (SELECT UNNEST(generate_series(1, 16)) AS dim) t
),
cbm AS (
    SELECT s, code, list(sx / n ORDER BY dim) AS cw
    FROM (
        SELECT s, code, dim,
               list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
                   AS sx,
               COUNT(*) AS n
        FROM x0 GROUP BY s, code, dim
    ) GROUP BY s, code
),
cb AS (
    SELECT sd.s, sd.code, COALESCE(cbm.cw, sd.cw) AS cw
    FROM seeds sd LEFT JOIN cbm ON sd.s = cbm.s AND sd.code = cbm.code
),
enc AS (
    SELECT vec_id, s, code FROM (
        SELECT sv.vec_id, sv.s, cb.code,
               ROW_NUMBER() OVER (
                   PARTITION BY sv.vec_id, sv.s
                   ORDER BY {_s5_sq_sql('sv.x', 'cb.cw')} ASC, cb.code ASC
               ) AS rn
        FROM sv JOIN cb ON sv.s = cb.s
    ) WHERE rn = 1
),
qsub AS (
    SELECT vec_id AS query_id, s, x AS qx FROM sv WHERE vec_id % 97 = 0
),
pd AS (
    SELECT qsub.query_id, enc.vec_id, qsub.s,
           {_s5_sq_sql('qsub.qx', 'cb.cw')} AS pd
    FROM qsub
    JOIN enc ON qsub.s = enc.s
    JOIN cb ON enc.s = cb.s AND enc.code = cb.code
),
dist AS (
    SELECT query_id, vec_id,
           list_reduce(list(pd ORDER BY s), (a, b) -> a + b) AS adc_dist
    FROM pd GROUP BY query_id, vec_id
)
SELECT query_id, vec_id, adc_dist, rank FROM (
    SELECT query_id, vec_id, adc_dist,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC
           ) AS INT) AS rank
    FROM dist
) WHERE rank <= 5
"""

QUERIES["s5_pq_adc_topk"] = s5_pq_adc_topk
ORACLE["s5_pq_adc_topk"] = S5_SQL


def pipe16_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index build (the Faiss-style composition: coarse
    quantiser + product-quantised RESIDUALS): cosine-assign every
    vector to one of 8 coarse centroids (zero-shuffle literal
    assignment), subtract the assigned centroid to get the residual,
    then train/encode a 4-subspace k=4 PQ on the residuals (ordered-
    fold exact mode). Output is the index itself — (vec_id,
    centroid_id, sub, code) — the corpus-scale artifact; at 100 TB
    this is the whole write path: one broadcast join for residuals,
    one fixed-size model shuffle, map-side encode. The oracle replays
    coarse assignment, residual arithmetic (double subtraction is
    exact), and the full s5 PQ chain on residuals.
    (functions/similarity.py assign_centroids / pq_train / pq_encode.)"""
    from ..functions.similarity import (
        _to_double,
        assign_centroids,
        pq_encode,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    coarse = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    assigned = assign_centroids(emb, coarse)
    res = assigned.join(F.broadcast(coarse), "centroid_id").select(
        "vec_id",
        "centroid_id",
        F.zip_with(
            _to_double(F.col("embedding")),
            _to_double(F.col("centroid")),
            lambda x, c: x - c,
        ).alias("residual"),
    )
    cb = pq_train(res, m_sub=4, k=4, n_iter=1, vec_col="residual", exact=True)
    enc = pq_encode(res, cb, vec_col="residual")
    return enc.select(
        "vec_id",
        "centroid_id",
        F.posexplode("pq_codes").alias("sub", "code"),
    )


PIPE16_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c8 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assigned AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                            c.cid ASC
               ) AS rn
        FROM e, c8 c
    ) WHERE rn = 1
),
res AS (
    SELECT a.vec_id, a.cid,
           list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS v
    FROM assigned a JOIN c8 c ON a.cid = c.cid
),
subs AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS s),
seeds AS (
    SELECT subs.s, CAST(r.rn - 1 AS BIGINT) AS code,
           list_slice(r.v, subs.s * 16 + 1, subs.s * 16 + 16) AS cw
    FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM res) r,
         subs
    WHERE r.rn <= 4
),
sv AS (
    SELECT vec_id, subs.s,
           list_slice(v, subs.s * 16 + 1, subs.s * 16 + 16) AS x
    FROM res, subs
),
a0 AS (
    SELECT vec_id, s, code FROM (
        SELECT sv.vec_id, sv.s, sd.code,
               ROW_NUMBER() OVER (
                   PARTITION BY sv.vec_id, sv.s
                   ORDER BY {_s5_sq_sql('sv.x', 'sd.cw')} ASC, sd.code ASC
               ) AS rn
        FROM sv JOIN seeds sd ON sv.s = sd.s
    ) WHERE rn = 1
),
x0 AS (
    SELECT sv.vec_id, a0.s, a0.code, t.dim, sv.x[t.dim] AS val
    FROM a0 JOIN sv ON a0.vec_id = sv.vec_id AND a0.s = sv.s,
         LATERAL (SELECT UNNEST(generate_series(1, 16)) AS dim) t
),
cbm AS (
    SELECT s, code, list(sx / n ORDER BY dim) AS cw
    FROM (
        SELECT s, code, dim,
               list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
                   AS sx,
               COUNT(*) AS n
        FROM x0 GROUP BY s, code, dim
    ) GROUP BY s, code
),
cb AS (
    SELECT sd.s, sd.code, COALESCE(cbm.cw, sd.cw) AS cw
    FROM seeds sd LEFT JOIN cbm ON sd.s = cbm.s AND sd.code = cbm.code
),
enc AS (
    SELECT vec_id, s, code FROM (
        SELECT sv.vec_id, sv.s, cb.code,
               ROW_NUMBER() OVER (
                   PARTITION BY sv.vec_id, sv.s
                   ORDER BY {_s5_sq_sql('sv.x', 'cb.cw')} ASC, cb.code ASC
               ) AS rn
        FROM sv JOIN cb ON sv.s = cb.s
    ) WHERE rn = 1
)
SELECT enc.vec_id,
       res.cid AS centroid_id,
       CAST(enc.s AS INT) AS sub,
       CAST(enc.code AS INT) AS code
FROM enc JOIN res ON enc.vec_id = res.vec_id
"""

QUERIES["pipe16_ivfpq_index"] = pipe16_ivfpq_index
ORACLE["pipe16_ivfpq_index"] = PIPE16_SQL


def m8_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal image stage with a real ENTROPY-CODED format
    decode in the loop: deterministic baseline JPEGs — per-8x8-block
    constant grayscale rasters derived from doc_id, all-ones
    quantisation, real FDCT + zigzag + magnitude-category Huffman
    coding in multimodal.build_jpeg, odd doc_ids written with
    restart_interval=1 so RST handling and DC-predictor resets are
    load-bearing — decoded byte-for-byte by _parse_jpeg inside
    decode_images (marker walk, DHT-driven canonical Huffman decode
    with unstuffing, dequantise, IDCT). JPEG is lossy in general, but
    a per-block-constant image is DC-only under quant=1 and decodes
    BIT-EXACTLY (FDCT noise ~1e-13 dies in coefficient rounding), so
    the oracle can replay the block formula in SQL: any bug in
    Huffman decode, DC prediction, dezigzag, or the IDCT's DC path
    perturbs decoded pixels and fails the value hash.
    (functions/multimodal.py _parse_jpeg / build_jpeg / decode_images.)"""
    import numpy as np
    import pandas as pd

    from ..functions.multimodal import build_jpeg, decode_images

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        for pdf in batches:
            contents = []
            for dd in pdf["media_id"]:
                dd = int(dd)
                w, h = 8 * (1 + dd % 2), 8 * (1 + dd % 3)
                bw = w // 8
                vals = np.array(
                    [
                        (dd * 13 + b * 7) % 256
                        for b in range(bw * (h // 8))
                    ],
                    dtype=np.uint8,
                ).reshape(h // 8, bw)
                px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                contents.append(
                    build_jpeg(
                        w, h, px.reshape(-1),
                        restart_interval=1 if dd % 2 else 0,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "image",
                    "content": contents,
                }
            )

    media = docs.mapInPandas(build, "media_id long, kind string, content binary")
    return decode_images(media)


M8_SQL = """
WITH p AS (
    SELECT doc_id,
           CAST(8 * (1 + doc_id % 2) AS INT) AS w,
           CAST(8 * (1 + doc_id % 3) AS INT) AS h
    FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       'image' AS kind,
       w AS width,
       h AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(64 * list_sum(list_transform(range(0, (w // 8) * (h // 8)),
            b -> (doc_id * 13 + b * 7) % 256)) AS DOUBLE)
       / CAST(w * h AS DOUBLE) AS mean_luma
FROM p
"""

QUERIES["m8_jpeg_decode"] = m8_jpeg_decode
ORACLE["m8_jpeg_decode"] = M8_SQL


def m10_progressive_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal image stage with a real PROGRESSIVE (SOF2) JPEG
    decode in the loop: per-8x8-block constant grayscale rasters
    derived from doc_id, encoded by multimodal.build_jpeg_progressive
    — a 6-scan script (interleaved DC first at Al=1, DC refinement,
    and per spectral band 1-31/32-63 AC first + AC refinement) with
    real EOB runs and file-carried Huffman tables — then decoded by
    _parse_jpeg's multi-scan walk (spectral-selection +
    successive-approximation coefficient accumulation, shared
    dequant/IDCT). Per-block-constant input under quant=1 is DC-only,
    so the decode is BIT-EXACT and the oracle replays the block
    formula in SQL (pinning scan sequencing and DC shift/refine-OR);
    a second NOISY 8x8 leg decodes nonzero-AC content
    through both the progressive and the baseline scan structures and
    the oracle pins their equality, so AC coefficient placement,
    EOB-run bookkeeping, the refinement correction-bit weave, and
    band bounds are ALSO load-bearing in-gate.

    Distinct-content decode (round 10): the synthetic raster and the
    probe are fully determined by ``doc_id % 3840`` (w/h by %3/%2,
    pixel values by %256, the probe leg by %5 — 3840 = lcm), so the
    gate decodes each DISTINCT content once and broadcast-joins the
    results back to the corpus — the content-addressed pattern a real
    100 TB multimodal ingest uses (hash-dedup before the expensive
    decode). Every scan path still runs (all 3840 rasters + all 256
    noisy probes decode), every output row is still value-checked by
    the oracle, and the decode count is CONSTANT in corpus size
    instead of linear (sf1: 26.6k -> 3.8k decodes).
    (functions/multimodal.py _progressive_scan /
    build_jpeg_progressive.)"""
    import numpy as np
    import pandas as pd

    from ..functions.multimodal import (
        _parse_jpeg,
        _rgb_mean_luma,
        build_jpeg,
        build_jpeg_progressive,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    # explicit partition count: the distinct output is tiny, so AQE
    # would coalesce it to ONE task and serialise all 3840 decodes on
    # one core — spread the expensive stage across the cluster, sized
    # from the cluster's core count (3 waves of tasks smooth the
    # uneven per-key decode cost), never a constant tuned for one box
    keys = (
        docs.select((F.col("media_id") % 3840).alias("__k"))
        .distinct()
        .repartition(3 * spark.sparkContext.defaultParallelism, "__k")
    )

    def build_and_decode(batches):
        # ONE pass: encode + decode inline via the same _parse_jpeg the
        # decode_images stage dispatches to (its Arrow plumbing is
        # already pinned by m2/m6-m9); a decode_images + join shape
        # would re-execute this builder once per branch
        for pdf in batches:
            recs = []
            for dd in pdf["__k"]:
                dd = int(dd)
                w, h = 8 * (1 + dd % 3), 8 * (1 + dd % 2)
                bw = w // 8
                vals = np.array(
                    [
                        (dd * 17 + b * 11) % 256
                        for b in range(bw * (h // 8))
                    ],
                    dtype=np.uint8,
                ).reshape(h // 8, bw)
                px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                gw, gh, rgb = _parse_jpeg(
                    build_jpeg_progressive(w, h, px.reshape(-1))
                )
                # nonzero-AC leg: an 8x8 NOISY block decoded through
                # BOTH scan structures — constant blocks alone leave
                # every AC path (coefficient placement, EOB runs,
                # refinement weave) unexercised in-gate. Probed on a
                # deterministic 1-in-5 of keys (distinct noise per
                # key); unprobed rows carry an honest NULL, probed
                # rows a TRUE the oracle pins, so any divergence fails.
                if dd % 5 == 0:
                    noisy = (
                        (dd * 31 + np.arange(64) * 13) % 256
                    ).astype(np.uint8)
                    _, _, prog = _parse_jpeg(
                        build_jpeg_progressive(8, 8, noisy)
                    )
                    _, _, base = _parse_jpeg(build_jpeg(8, 8, noisy))
                    probe = bool(np.array_equal(prog, base))
                else:
                    probe = None
                recs.append(
                    (
                        dd, gw, gh, gw * gh,
                        _rgb_mean_luma(gw, gh, rgb),
                        probe,
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=[
                    "__k", "width", "height", "n_pixels",
                    "mean_luma", "prog_matches_baseline",
                ],
            )

    decoded = keys.mapInPandas(
        build_and_decode,
        "__k long, width int, height int, "
        "n_pixels long, mean_luma double, prog_matches_baseline boolean",
    )
    return (
        docs.withColumn("__k", F.col("media_id") % 3840)
        .join(F.broadcast(decoded), "__k")
        .select(
            "media_id",
            F.lit("image").alias("kind"),
            "width", "height", "n_pixels", "mean_luma",
            "prog_matches_baseline",
        )
    )


M10_SQL = """
WITH p AS (
    SELECT doc_id,
           CAST(8 * (1 + doc_id % 3) AS INT) AS w,
           CAST(8 * (1 + doc_id % 2) AS INT) AS h
    FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       'image' AS kind,
       w AS width,
       h AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(64 * list_sum(list_transform(range(0, (w // 8) * (h // 8)),
            b -> (doc_id * 17 + b * 11) % 256)) AS DOUBLE)
       / CAST(w * h AS DOUBLE) AS mean_luma,
       CASE WHEN doc_id % 5 = 0 THEN TRUE END AS prog_matches_baseline
FROM p
"""

QUERIES["m10_progressive_jpeg"] = m10_progressive_jpeg
ORACLE["m10_progressive_jpeg"] = M10_SQL


def pipe17_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): score every
    document with the in-corpus bigram LM (rational mode — exact
    integers, one double division) and NTILE each language's documents
    into head/middle/tail thirds by descending model fluency
    (avg_corpus_freq, the perplexity proxy: common transitions = low
    perplexity = head). The canonical pretraining-corpus triage: train
    on head, sample middle, drop tail. Null scores (docs with no
    bigrams) sort last EXPLICITLY — Spark and DuckDB default null
    ordering under DESC differ, so both sides pin NULLS LAST; ties
    break by doc_id. One LM model shuffle + one per-lang window
    exchange. (functions/text.py bigram_lm_score; curation composition.)"""
    from ..functions.text import bigram_lm_score

    docs = load_table(spark, sf_dir, "documents")
    scored = bigram_lm_score(docs, mode="rational")
    j = docs.select("doc_id", "lang").join(scored, "doc_id")
    win = Window.partitionBy("lang").orderBy(
        F.desc_nulls_last("avg_corpus_freq"), F.asc("doc_id")
    )
    return j.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "avg_corpus_freq",
        F.ntile(3).over(win).alias("bucket"),
    ).withColumn(
        "label",
        F.when(F.col("bucket") == 1, "head")
        .when(F.col("bucket") == 2, "middle")
        .otherwise("tail"),
    )


PIPE17_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)),
                i -> l[i] || chr(1) || l[i+1])) AS bg
  FROM toks
),
doc_bg AS (SELECT doc_id, bg, COUNT(*) AS doc_cnt FROM bg GROUP BY 1, 2),
model  AS (SELECT bg, COUNT(*) AS corpus_cnt FROM bg GROUP BY 1),
per_doc AS (
  SELECT d.doc_id,
         SUM(d.doc_cnt) AS n_bigrams,
         SUM(d.doc_cnt * m.corpus_cnt) AS corpus_freq_mass
  FROM doc_bg d JOIN model m USING (bg)
  GROUP BY 1
),
scored AS (
  SELECT d.doc_id, d.lang,
         CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         CAST(p.corpus_freq_mass AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
             AS avg_corpus_freq
  FROM documents d LEFT JOIN per_doc p USING (doc_id)
)
SELECT doc_id, lang, n_bigrams, avg_corpus_freq, bucket,
       CASE WHEN bucket = 1 THEN 'head'
            WHEN bucket = 2 THEN 'middle'
            ELSE 'tail' END AS label
FROM (
    SELECT doc_id, lang, n_bigrams, avg_corpus_freq,
           CAST(NTILE(3) OVER (
               PARTITION BY lang
               ORDER BY avg_corpus_freq DESC NULLS LAST, doc_id ASC
           ) AS INT) AS bucket
    FROM scored
)
"""

QUERIES["pipe17_ccnet_buckets"] = pipe17_ccnet_buckets
ORACLE["pipe17_ccnet_buckets"] = PIPE17_SQL


def st6_stream_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING near-dup probe in its batch-semantics form (the
    st2 contract: identical logic on a batch frame, the live
    stream-static execution covered by pytest): every 3rd document
    plays the arriving stream, the rest the static indexed corpus.
    Stream-side signatures and band rows are map-side; the candidate
    join is stream-static on the band key; pair dedup is the one
    stateful op (keyed on MATCHES, not corpus); the verify join
    fetches only candidate corpus tokens. k=16/bands=4/threshold=0.6
    deliberately differ from d14 so the two gates cannot shadow each
    other. (streaming/neardup.py probe_neardup_stream.)"""
    from ..streaming.neardup import probe_neardup_stream

    docs = load_table(spark, sf_dir, "documents")
    stream = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    return probe_neardup_stream(
        stream, corpus, k=16, bands=4, threshold=0.6
    )


ST6_SQL = _probe_sql("doc_id % 3 = 0", "doc_id % 3 <> 0", 16, 4, 0.6)

QUERIES["st6_stream_neardup_probe"] = st6_stream_neardup_probe
ORACLE["st6_stream_neardup_probe"] = ST6_SQL


def m9_mixed_format_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realistic multimodal ingest: ONE binary column carrying FOUR
    image formats (doc_id % 4 → PPM / PNG-gray / GIF / constant-block
    JPEG), decoded by magic-byte dispatch inside a single Arrow batch —
    the shape a crawled corpus actually has. Every format uses its
    round-8 real codec; the oracle replays each format's pixel formula
    behind a CASE on the same modulus, so a dispatch bug (wrong parser
    for a magic) or any per-codec regression fails the value hash.
    (functions/multimodal.py _decode_image_bytes dispatch.)"""
    import numpy as np
    import pandas as pd

    from ..functions.multimodal import (
        build_gif,
        build_jpeg,
        build_png,
        decode_images,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        for pdf in batches:
            contents = []
            for dd in pdf["media_id"]:
                dd = int(dd)
                kind = dd % 4
                if kind == 0:  # PPM P6: 2x2 RGB from the doc formula
                    px = bytes((dd * 11 + i * 3) % 256 for i in range(12))
                    contents.append(b"P6\n2 2\n255\n" + px)
                elif kind == 1:  # grayscale PNG, 3x2
                    px = [(dd * 11 + i * 3) % 256 for i in range(6)]
                    contents.append(build_png(3, 2, px, color=0))
                elif kind == 2:  # GIF, 4-entry palette, 3x2
                    pal = [
                        ((dd + j * 5) % 256, (dd + j * 7) % 256,
                         (dd + j * 11) % 256)
                        for j in range(4)
                    ]
                    idx = [(dd + i) % 4 for i in range(6)]
                    contents.append(build_gif(3, 2, idx, pal))
                else:  # constant-block JPEG, 8x8
                    val = (dd * 11) % 256
                    contents.append(
                        build_jpeg(8, 8, np.full(64, val, dtype=np.uint8))
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "image",
                    "content": contents,
                }
            )

    media = docs.mapInPandas(build, "media_id long, kind string, content binary")
    return decode_images(media)


M9_SQL = """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       'image' AS kind,
       CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 2 WHEN 1 THEN 3
            WHEN 2 THEN 3 ELSE 8 END AS width,
       CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 2 WHEN 1 THEN 2
            WHEN 2 THEN 2 ELSE 8 END AS height,
       CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 4 WHEN 1 THEN 6
            WHEN 2 THEN 6 ELSE 64 END AS BIGINT) AS n_pixels,
       CASE CAST(doc_id % 4 AS INT)
       WHEN 0 THEN
           CAST(list_sum(list_transform(range(0, 4), px ->
                  299 * ((doc_id * 11 + (3 * px) * 3) % 256)
                + 587 * ((doc_id * 11 + (3 * px + 1) * 3) % 256)
                + 114 * ((doc_id * 11 + (3 * px + 2) * 3) % 256)))
            AS BIGINT) / CAST(4000 AS DOUBLE)
       WHEN 1 THEN
           CAST(list_sum(list_transform(range(0, 6),
                i -> (doc_id * 11 + i * 3) % 256)) AS BIGINT)
           / CAST(6 AS DOUBLE)
       WHEN 2 THEN
           CAST(list_sum(list_transform(range(0, 6), i ->
                  299 * ((doc_id + ((doc_id + i) % 4) * 5) % 256)
                + 587 * ((doc_id + ((doc_id + i) % 4) * 7) % 256)
                + 114 * ((doc_id + ((doc_id + i) % 4) * 11) % 256)))
            AS BIGINT) / CAST(6000 AS DOUBLE)
       ELSE
           CAST((doc_id * 11) % 256 AS DOUBLE)
       END AS mean_luma
FROM documents
"""

QUERIES["m9_mixed_format_decode"] = m9_mixed_format_decode
ORACLE["m9_mixed_format_decode"] = M9_SQL


def s17_warc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17 (beyond-reference source) — WARC crawl-archive round-trip:
    documents become spec-framed WARC response records (one gzip-
    member archive per 100-doc shard, the Common Crawl framing, via
    build_warc), land on disk, and come back through the binaryFile +
    Arrow record walk in read_warc. The oracle recomputes every field
    from the documents table — URI formula, UTF-8 byte length, payload
    text — so any framing, Content-Length, gzip-member, or charset bug
    in the parser surfaces as a value mismatch.
    (sources/warc.py build_warc / parse_warc_bytes / read_warc.)"""
    import os
    import shutil
    import tempfile

    from ..sources.warc import build_warc, read_warc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # small by construction: gate scale; the builder half is driver-side
    rows = docs.collect()
    d = tempfile.mkdtemp(prefix="s17_warc_")
    try:
        shards: dict[int, list] = {}
        for r in rows:
            shards.setdefault(int(r.doc_id) // 100, []).append(r)
        for shard, members in sorted(shards.items()):
            recs = [
                (
                    "response",
                    f"https://corpus.example/{int(r.doc_id)}",
                    "2024-01-01T00:00:00Z",
                    (r.text or "").encode("utf-8"),
                )
                for r in sorted(members, key=lambda r: int(r.doc_id))
            ]
            with open(os.path.join(d, f"shard{shard:05d}.warc.gz"), "wb") as fh:
                fh.write(build_warc(recs, gzip_members=True))
        out = read_warc(spark, d).select(
            F.regexp_extract("target_uri", r"/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "record_type",
            "content_length",
            F.decode(F.col("content"), "UTF-8").alias("text"),
        )
        return store.rolling_checkpoint(out, "s17_warc_source", eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


S17_SQL = """
SELECT doc_id,
       'response' AS record_type,
       CAST(strlen(COALESCE(text, '')) AS BIGINT) AS content_length,
       COALESCE(text, '') AS text
FROM documents
"""

QUERIES["s17_warc_source"] = s17_warc_source
ORACLE["s17_warc_source"] = S17_SQL


def x21_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality firewall over the documents table: six
    constraint kinds audited in one pass (a single conditional-counter
    aggregation) plus one keyed aggregation for uniqueness and one
    broadcast anti-join for referential integrity — the release gate a
    pipeline runs before publishing. Deterministic sample keys (min
    id among violators) make the whole report value-hashable; the
    oracle recomputes every rule as plain SQL.
    (functions/curation.py validate_constraints; ref parallel: the
    QA-output sinks db_etl/etl.py:752-757 are the ad-hoc form.)"""
    from ..functions.curation import validate_constraints

    docs = load_table(spark, sf_dir, "documents")
    dim = docs.filter(F.col("doc_id") < 100).select("lang")
    return validate_constraints(
        docs,
        [
            ("not_null", "text"),
            ("range", "n_chars", 1, 2000),
            ("regex", "lang", "^[a-z]{2}$"),
            ("accepted", "source", ("web", "books", "wiki", "code", "news")),
            ("unique", "text"),
            ("referential", "lang", dim, "lang"),
        ],
    )


X21_SQL = """
SELECT 'not_null' AS rule, 'text' AS col_name,
       CAST(COUNT(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS violations,
       CAST(MIN(CASE WHEN text IS NULL THEN doc_id END) AS VARCHAR) AS sample_key
FROM documents
UNION ALL
SELECT 'range', 'n_chars',
       CAST(COUNT(CASE WHEN n_chars IS NOT NULL
                        AND (n_chars < 1 OR n_chars > 2000) THEN 1 END) AS BIGINT),
       CAST(MIN(CASE WHEN n_chars IS NOT NULL
                      AND (n_chars < 1 OR n_chars > 2000) THEN doc_id END) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'regex', 'lang',
       CAST(COUNT(CASE WHEN lang IS NOT NULL
                        AND NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 END) AS BIGINT),
       CAST(MIN(CASE WHEN lang IS NOT NULL
                      AND NOT regexp_matches(lang, '^[a-z]{2}$') THEN doc_id END) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'accepted', 'source',
       CAST(COUNT(CASE WHEN source IS NOT NULL
                        AND source NOT IN ('web','books','wiki','code','news')
                   THEN 1 END) AS BIGINT),
       CAST(MIN(CASE WHEN source IS NOT NULL
                      AND source NOT IN ('web','books','wiki','code','news')
                 THEN doc_id END) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'unique', 'text',
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT),
       CAST(MIN(k) AS VARCHAR)
FROM (
    SELECT text AS v, COUNT(*) AS n, MIN(doc_id) AS k
    FROM documents GROUP BY text
) WHERE n > 1
UNION ALL
SELECT 'referential', 'lang',
       CAST(COUNT(*) AS BIGINT),
       CAST(MIN(doc_id) AS VARCHAR)
FROM documents d
WHERE d.lang IS NOT NULL
  AND d.lang NOT IN (SELECT DISTINCT lang FROM documents WHERE doc_id < 100)
"""

QUERIES["x21_constraint_audit"] = x21_constraint_audit
ORACLE["x21_constraint_audit"] = X21_SQL


def t9_unicode_normalise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode hygiene pass (functions.text.normalize_text): dirty text
    is synthesised per document — decomposed 'e'+COMBINING ACUTE, a
    ZERO WIDTH SPACE, doubled spaces, NBSP, CRLF and a BEL control —
    then NFC-normalised, control/zero-width-stripped, whitespace-
    collapsed and trimmed. The oracle builds the identical bytes with
    chr() and replays nfc_normalize + the same three regex classes, so
    any divergence in normalisation order or class membership fails
    the value hash. (Spark chr() is mod-256, so the builder uses
    Python unicode literals; DuckDB uses chr(codepoint) — same
    codepoints either way.)"""
    from ..functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = F.concat(
        # DECOMPOSED e + U+0301: the Spark-side NFC compose is
        # load-bearing (a precomposed literal would make it a no-op)
        F.lit("Cafe\u0301\u200b  start\u00a0"),
        F.substring("text", 1, 30),
        F.lit(" \r\n mid\x07dle "),
        F.lit("\u2003tail\ufeff"),
    )
    out = normalize_text(docs.withColumn("dirty", dirty), "dirty", "clean")
    return out.select(
        "doc_id",
        "clean",
        F.length("clean").cast("long").alias("n_chars_clean"),
    )


T9_SQL = r"""
WITH dirty AS (
    SELECT doc_id,
           'Cafe' || chr(769) || chr(8203) || '  start' || chr(160)
             || substr(text, 1, 30)
             || ' ' || chr(13) || chr(10) || ' mid' || chr(7) || 'dle '
             || chr(8195) || 'tail' || chr(65279) AS d
    FROM documents
)
SELECT doc_id,
       trim(regexp_replace(regexp_replace(regexp_replace(
            nfc_normalize(d),
            '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}\x{80}-\x{84}\x{86}-\x{9F}]', '', 'g'),
            '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
            '[\s\x{85}\x{A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+', ' ', 'g'))
         AS clean,
       CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(
            nfc_normalize(d),
            '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}\x{80}-\x{84}\x{86}-\x{9F}]', '', 'g'),
            '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
            '[\s\x{85}\x{A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+', ' ', 'g')))
         AS BIGINT) AS n_chars_clean
FROM dirty
"""

QUERIES["t9_unicode_normalise"] = t9_unicode_normalise
ORACLE["t9_unicode_normalise"] = T9_SQL


def t10_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalisation (functions.text.canonical_url): synthetic
    crawl URLs per document cover every rule — uppercase scheme/host,
    userinfo (including a colon-bearing ``u:p@`` and a raw-``@``
    ``A@B@`` that exercises the host-after-LAST-@ rule), bracketed
    IPv6 hosts, default vs non-default ports on both schemes, empty
    paths, unsorted and duplicate-bearing query strings with empty
    params, fragments —
    all canonicalised by pure JVM expressions (regexp_extract +
    array_sort, no UDF). The oracle rebuilds the same URLs and replays
    every rule in DuckDB (list_sort over split params), so the two
    engines must agree byte-for-byte on the canonical form."""
    from ..functions.text import canonical_url

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    m3 = F.col("doc_id") % 3
    m4 = F.col("doc_id") % 4
    m2 = F.col("doc_id") % 2
    m6 = F.col("doc_id") % 6
    scheme = (
        F.when(m3 == 0, "http://").when(m3 == 1, "HTTPS://").otherwise("https://")
    )
    user = (
        F.when(m6 == 0, F.lit("u:p@")).when(m6 == 1, F.lit("A@B@"))
        .otherwise(F.lit(""))
    )
    host = F.when(F.col("doc_id") % 7 == 0, F.lit("[2001:DB8::1]")).otherwise(
        F.concat(F.lit("WWW.Site"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".ORG"))
    )
    port = (
        F.when(m4 == 0, ":80").when(m4 == 1, ":443").when(m4 == 2, ":8080")
        .otherwise("")
    )
    path = F.when(
        m2 == 0,
        F.concat(F.lit("/P"), (F.col("doc_id") % 7).cast("string"), F.lit("/x")),
    ).otherwise("")
    query = (
        F.when(m3 == 0, F.concat(F.lit("?b=2&a="), (F.col("doc_id") % 9).cast("string")))
        .when(m3 == 1, F.lit("?z=1&&a=2&a=1"))
        .otherwise(F.lit(""))
    )
    frag = F.when(m2 == 0, F.concat(F.lit("#s"), F.col("doc_id").cast("string"))).otherwise(F.lit(""))
    url = F.concat(scheme, user, host, port, path, query, frag)
    return docs.select(
        "doc_id",
        url.alias("url"),
        canonical_url(url).alias("canonical"),
    )


T10_SQL = """
WITH u AS (
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'HTTPS://'
                ELSE 'https://' END
           || CASE doc_id % 6 WHEN 0 THEN 'u:p@' WHEN 1 THEN 'A@B@'
                ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN '[2001:DB8::1]'
                ELSE 'WWW.Site' || CAST(doc_id % 5 AS VARCHAR) || '.ORG' END
           || CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                WHEN 2 THEN ':8080' ELSE '' END
           || CASE doc_id % 2 WHEN 0
                THEN '/P' || CAST(doc_id % 7 AS VARCHAR) || '/x' ELSE '' END
           || CASE doc_id % 3 WHEN 0
                THEN '?b=2&a=' || CAST(doc_id % 9 AS VARCHAR)
                WHEN 1 THEN '?z=1&&a=2&a=1' ELSE '' END
           || CASE doc_id % 2 WHEN 0
                THEN '#s' || CAST(doc_id AS VARCHAR) ELSE '' END AS url
    FROM documents
),
parts AS (
    SELECT doc_id, url,
           lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
           regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
           regexp_extract(nofrag, '\\?([^#]*)', 1) AS query
    FROM (SELECT *, regexp_replace(url, '(?s)#.*', '') AS nofrag FROM u)
),
canon AS (
    SELECT doc_id, url, scheme, path,
           lower(regexp_extract(hp, '^(\\[[^\\]]*\\]|[^:]*)', 1)) AS host,
           regexp_extract(hp, ':([0-9]+)$', 1) AS port,
           array_to_string(
               list_sort(list_filter(string_split(query, '&'), p -> p <> '')),
               '&') AS sorted_q
    FROM (SELECT *, regexp_replace(hostport, '(?s)^.*@', '') AS hp FROM parts)
)
SELECT doc_id, url,
       scheme || '://' || host
       || CASE WHEN port <> ''
                AND NOT ((scheme = 'http' AND port = '80')
                      OR (scheme = 'https' AND port = '443'))
               THEN ':' || port ELSE '' END
       || CASE WHEN path = '' THEN '/' ELSE path END
       || CASE WHEN sorted_q <> '' THEN '?' || sorted_q ELSE '' END
         AS canonical
FROM canon
"""

QUERIES["t10_url_canonical"] = t10_url_canonical
ORACLE["t10_url_canonical"] = T10_SQL


def d15_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (functions.dedup.
    winnow_fingerprints — Schleimer/Wilkerson/Aiken SIGMOD 2003, the
    MOSS scheme): per document, hash every 4-token gram (40-bit md5
    prefix), slide a 3-hash window, keep each window's minimum hash
    with rightmost tie-break, emit the distinct selections. The gate
    aggregates the selected set per document (count + fp sum/min/max +
    position sum): any divergence in the window min, the tie rule, the
    full-window edge condition, or the combined-key encoding perturbs
    the selected set and fails the value hash. The oracle replays the
    identical combined-key window min in DuckDB SQL."""
    from ..functions.dedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fps = winnow_fingerprints(docs, k=4, w=3)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.sum("fp").alias("sum_fp"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
        F.sum("pos").alias("sum_pos"),
    )


D15_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(w[i:i+3], ' ') AS g
  FROM toks, UNNEST(range(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 4
),
hashed AS (
  SELECT doc_id, pos,
         list_reduce(list_transform(string_split(substr(md5(g), 1, 10), ''),
             c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h
  FROM grams
),
win AS (
  SELECT doc_id,
         MIN(h * 1048576 + (1048575 - pos)) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS m,
         COUNT(*) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS n
  FROM hashed
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_fps,
       CAST(SUM(fp) AS BIGINT) AS sum_fp,
       MIN(fp) AS min_fp, MAX(fp) AS max_fp,
       CAST(SUM(pos) AS BIGINT) AS sum_pos
FROM (
  SELECT DISTINCT doc_id, m // 1048576 AS fp, 1048575 - (m % 1048576) AS pos
  FROM win WHERE n = 3
)
GROUP BY doc_id
"""

QUERIES["d15_winnow_fingerprints"] = d15_winnow_fingerprints
ORACLE["d15_winnow_fingerprints"] = D15_SQL


def pipe18_crawl_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end web-crawl curation composing the round-9 operators
    the way a crawl ingest would run them:

    1. URL-level dedup — every document gets its crawl URL (the t10
       synthesis), canonicalised by ``canonical_url``; only the
       smallest doc_id per canonical URL survives (the same page
       fetched under many spellings is ONE page);
    2. text hygiene — ``normalize_text`` over the survivors (NFC +
       control strip + whitespace collapse);
    3. near-dup removal — ``winnow_fingerprints`` (k=4, w=3) on the
       normalised text; any doc sharing >= 5 distinct fingerprints
       with a SMALLER-id survivor is dropped (MOSS-ranked overlap,
       deterministic keep-set);
    4. the per-language curation ledger: kept count, total normalised
       chars, total selected fingerprints.

    Every stage is SQL-replayable, so the oracle replays the whole
    pipeline — URL canon rules, winnowing window-min, overlap
    threshold, anti-join — and any divergence anywhere in the chain
    fails the value hash.

    Scale note: the survivors frame feeds three consumers
    (fingerprints, the anti-join left side, the ledger), so this
    unpersisted gate plan re-reads the source per branch (4 scans in
    PLAN_AUDIT). A production 100 TB run persists the url-deduped
    survivors once (write_store / localCheckpoint) and every branch
    reads the materialisation — the gate stays cache-free so its
    timings and oracle comparison measure the plan, not cache state."""
    from ..functions.dedup import winnow_candidate_pairs, winnow_fingerprints
    from ..functions.text import canonical_url, normalize_text

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    m3 = F.col("doc_id") % 3
    m4 = F.col("doc_id") % 4
    m2 = F.col("doc_id") % 2
    scheme = (
        F.when(m3 == 0, "http://").when(m3 == 1, "HTTPS://").otherwise("https://")
    )
    host = F.concat(F.lit("WWW.Site"), (F.col("doc_id") % 5).cast("string"),
                    F.lit(".ORG"))
    port = (
        F.when(m4 == 0, ":80").when(m4 == 1, ":443").when(m4 == 2, ":8080")
        .otherwise("")
    )
    path = F.when(
        m2 == 0,
        F.concat(F.lit("/P"), (F.col("doc_id") % 7).cast("string"), F.lit("/x")),
    ).otherwise("")
    query = (
        F.when(m3 == 0, F.concat(F.lit("?b=2&a="), (F.col("doc_id") % 9).cast("string")))
        .when(m3 == 1, F.lit("?z=1&&a=2&a=1"))
        .otherwise(F.lit(""))
    )
    url = F.concat(scheme, host, port, path, query)
    with_canon = docs.withColumn("canon", canonical_url(url))
    w_url = Window.partitionBy("canon").orderBy("doc_id")
    url_kept = (
        with_canon.withColumn("__rn", F.row_number().over(w_url))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    normed = normalize_text(url_kept, "text", "text_norm")
    fps = winnow_fingerprints(normed, id_col="doc_id", text_col="text_norm",
                              k=4, w=3)
    overlaps = winnow_candidate_pairs(fps).filter(F.col("n_shared") >= 5)
    kept = normed.join(
        overlaps.select(F.col("id_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    fp_counts = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    return (
        kept.join(fp_counts, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.length("text_norm")).alias("total_chars"),
            F.sum(F.coalesce("n_fps", F.lit(0))).alias("total_fps"),
        )
    )


PIPE18_SQL = """
WITH u AS (
    SELECT doc_id, text, lang,
           CASE doc_id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'HTTPS://'
                ELSE 'https://' END
           || 'WWW.Site' || CAST(doc_id % 5 AS VARCHAR) || '.ORG'
           || CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                WHEN 2 THEN ':8080' ELSE '' END
           || CASE doc_id % 2 WHEN 0
                THEN '/P' || CAST(doc_id % 7 AS VARCHAR) || '/x' ELSE '' END
           || CASE doc_id % 3 WHEN 0
                THEN '?b=2&a=' || CAST(doc_id % 9 AS VARCHAR)
                WHEN 1 THEN '?z=1&&a=2&a=1' ELSE '' END AS url
    FROM documents
),
parts AS (
    SELECT *, lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
           regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
           regexp_extract(nofrag, '\\?([^#]*)', 1) AS query
    FROM (SELECT *, regexp_replace(url, '(?s)#.*', '') AS nofrag FROM u)
),
canon AS (
    SELECT doc_id, text, lang,
           scheme || '://'
           || lower(regexp_extract(regexp_replace(hostport, '(?s)^.*@', ''), '^(\\[[^\\]]*\\]|[^:]*)', 1))
           || CASE WHEN regexp_extract(hostport, ':([0-9]+)$', 1) <> ''
                    AND NOT ((scheme = 'http' AND regexp_extract(hostport, ':([0-9]+)$', 1) = '80')
                          OR (scheme = 'https' AND regexp_extract(hostport, ':([0-9]+)$', 1) = '443'))
                   THEN ':' || regexp_extract(hostport, ':([0-9]+)$', 1) ELSE '' END
           || CASE WHEN path = '' THEN '/' ELSE path END
           || CASE WHEN array_to_string(list_sort(list_filter(string_split(query, '&'), p -> p <> '')), '&') <> ''
                   THEN '?' || array_to_string(list_sort(list_filter(string_split(query, '&'), p -> p <> '')), '&')
                   ELSE '' END AS c
    FROM parts
),
url_kept AS (
    SELECT doc_id, lang,
           trim(regexp_replace(regexp_replace(regexp_replace(
               nfc_normalize(text),
               '[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}\\x{80}-\\x{84}\\x{86}-\\x{9F}]', '', 'g'),
               '[\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g'),
               '[\\s\\x{85}\\x{A0}\\x{1680}\\x{2000}-\\x{200A}\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}]+', ' ', 'g'))
             AS tn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c ORDER BY doc_id) AS rn
          FROM canon)
    WHERE rn = 1
),
toks AS (
    SELECT doc_id, lang, tn, list_filter(string_split(tn, ' '), t -> t <> '') AS w
    FROM url_kept
),
grams AS (
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
           array_to_string(w[i:i+3], ' ') AS g
    FROM toks, UNNEST(range(1, len(w) - 2)) AS t(i)
    WHERE len(w) >= 4
),
hashed AS (
    SELECT doc_id, pos,
           list_reduce(list_transform(string_split(substr(md5(g), 1, 10), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) AS h
    FROM grams
),
win AS (
    SELECT doc_id,
           MIN(h * 1048576 + (1048575 - pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS m,
           COUNT(*) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS n
    FROM hashed
),
sel AS (
    SELECT DISTINCT doc_id, m // 1048576 AS fp, 1048575 - (m % 1048576) AS pos
    FROM win WHERE n = 3
),
fpv AS (SELECT DISTINCT doc_id, fp FROM sel),
overl AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM fpv a JOIN fpv b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
dropped AS (SELECT DISTINCT id_b AS doc_id FROM overl WHERE n_shared >= 5),
fp_counts AS (SELECT doc_id, COUNT(*) AS n_fps FROM sel GROUP BY doc_id)
SELECT k.lang,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(length(k.tn)) AS BIGINT) AS total_chars,
       CAST(SUM(COALESCE(f.n_fps, 0)) AS BIGINT) AS total_fps
FROM url_kept k
LEFT JOIN fp_counts f USING (doc_id)
WHERE k.doc_id NOT IN (SELECT doc_id FROM dropped)
GROUP BY k.lang
"""

QUERIES["pipe18_crawl_curation"] = pipe18_crawl_curation
ORACLE["pipe18_crawl_curation"] = PIPE18_SQL


def t11_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script profiling (functions.text.script_profile):
    deterministic multilingual text per document — Latin+digits,
    Cyrillic-dominant, Han+Greek, and an Arabic/Han TIE (resolved to
    han, the earlier SCRIPT_CLASSES declaration) — profiled into
    per-script counts, dominant_script and script_purity, all JVM
    regexp_count. The oracle rebuilds identical codepoints with chr()
    and replays the counts with RE2's \\p{Script} classes plus the
    ordered-CASE tie rule, so class membership AND the tie order are
    pinned cross-engine."""
    from ..functions.text import script_profile

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    m4 = F.col("doc_id") % 4
    body = (
        F.when(m4 == 0, F.lit("hello world "))
        .when(m4 == 1, F.lit('пппп abc '))
        .when(m4 == 2, F.lit('你你你γγ '))
        .otherwise(F.lit('ممممم你你你你你 '))
    )
    text = F.concat(body, (F.col("doc_id") % 100).cast("string"))
    out = script_profile(docs.withColumn("text", text))
    return out.select(
        "doc_id", "n_latin", "n_cyrillic", "n_han", "n_arabic",
        "n_greek", "n_digit", "dominant_script", "script_purity",
    )


T11_SQL = r"""
WITH t AS (
    SELECT doc_id,
           (CASE doc_id % 4
              WHEN 0 THEN 'hello world '
              WHEN 1 THEN repeat(chr(1087), 4) || ' abc '
              WHEN 2 THEN repeat(chr(20320), 3) || repeat(chr(947), 2) || ' '
              ELSE repeat(chr(1605), 5) || repeat(chr(20320), 5) || ' '
            END) || CAST(doc_id % 100 AS VARCHAR) AS txt
    FROM documents
),
c AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '[\p{Latin}]')) AS BIGINT) AS n_latin,
           CAST(len(regexp_extract_all(txt, '[\p{Cyrillic}]')) AS BIGINT) AS n_cyrillic,
           CAST(len(regexp_extract_all(txt, '[\p{Han}]')) AS BIGINT) AS n_han,
           CAST(len(regexp_extract_all(txt, '[\p{Arabic}]')) AS BIGINT) AS n_arabic,
           CAST(len(regexp_extract_all(txt, '[\p{Greek}]')) AS BIGINT) AS n_greek,
           CAST(len(regexp_extract_all(txt, '[0-9]')) AS BIGINT) AS n_digit
    FROM t
)
SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic, n_greek, n_digit,
       CASE
         WHEN n_latin > 0 AND n_latin >= n_cyrillic AND n_latin >= n_han
              AND n_latin >= n_arabic AND n_latin >= n_greek
              AND n_latin >= n_digit THEN 'latin'
         WHEN n_cyrillic > 0 AND n_cyrillic >= n_han AND n_cyrillic >= n_arabic
              AND n_cyrillic >= n_greek AND n_cyrillic >= n_digit THEN 'cyrillic'
         WHEN n_han > 0 AND n_han >= n_arabic AND n_han >= n_greek
              AND n_han >= n_digit THEN 'han'
         WHEN n_arabic > 0 AND n_arabic >= n_greek AND n_arabic >= n_digit
              THEN 'arabic'
         WHEN n_greek > 0 AND n_greek >= n_digit THEN 'greek'
         WHEN n_digit > 0 THEN 'digit'
         ELSE 'none'
       END AS dominant_script,
       CASE WHEN n_latin + n_cyrillic + n_han + n_arabic + n_greek + n_digit > 0
            THEN CAST(GREATEST(n_latin, n_cyrillic, n_han, n_arabic, n_greek,
                               n_digit) AS DOUBLE)
                 / CAST(n_latin + n_cyrillic + n_han + n_arabic + n_greek
                        + n_digit AS DOUBLE)
       END AS script_purity
FROM c
"""

QUERIES["t11_script_profile"] = t11_script_profile
ORACLE["t11_script_profile"] = T11_SQL


def t13_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — the corpus-monitoring number
    a tokenizer team watches (chars per BPE token; a language whose
    fertility drifts high is being shredded): the in-plan learned
    3-merge BPE (bpe1/bpe2 machinery) encodes every document, and the
    per-lang ledger aggregates pretoken characters vs emitted tokens.
    Both sums are exact integers, so the fertility division is
    bit-identical cross-engine. Oracle: the bpe2 sentinel-space replay
    extended with the per-word char sum and the lang rollup."""
    from ..functions.text import BPE_WORD_PATTERN, bpe_encode, learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, n_merges=3)
    enc = bpe_encode(docs, merges).select("doc_id", "n_bpe_tokens")
    # pretoken universe MUST be the tokenizer's own (BPE_WORD_PATTERN):
    # a hardcoded copy would let numerator (chars) and denominator
    # (tokens) silently diverge if the pattern is ever widened
    arr = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(BPE_WORD_PATTERN), 0
    )
    chars = F.aggregate(
        arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    base = docs.select("doc_id", "lang", chars.alias("n_chars"))
    return (
        base.join(enc, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_bpe_tokens").alias("total_tokens"),
            (
                F.sum("n_chars").cast("double") / F.sum("n_bpe_tokens")
            ).alias("fertility"),
        )
    )


T13_SQL = f"""
WITH {_bpe_oracle_ctes()},
doc_words AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
    FROM documents
),
enc AS (
    SELECT doc_id,
           CAST(SUM(length(
               replace(replace(replace(word,
                   (SELECT l || r FROM m1), chr(1)),
                   (SELECT l || r FROM m2), chr(2)),
                   (SELECT l || r FROM m3), chr(3))
           )) AS BIGINT) AS n,
           CAST(SUM(length(word)) AS BIGINT) AS chars
    FROM doc_words GROUP BY doc_id
)
SELECT d.lang,
       CAST(SUM(COALESCE(e.chars, 0)) AS BIGINT) AS total_chars,
       CAST(SUM(COALESCE(e.n, 0)) AS BIGINT) AS total_tokens,
       CAST(SUM(COALESCE(e.chars, 0)) AS DOUBLE) / SUM(COALESCE(e.n, 0))
           AS fertility
FROM documents d LEFT JOIN enc e USING (doc_id)
GROUP BY d.lang
"""

QUERIES["t13_bpe_fertility"] = t13_bpe_fertility
ORACLE["t13_bpe_fertility"] = T13_SQL


# --------------------------------------------------------------------------
# round 11: CDC apply-changes, KMV sketch family, ORC source round-trip
# --------------------------------------------------------------------------


def _cdc_changes(orders: DataFrame) -> DataFrame:
    """Deterministic CDC stream over the orders snapshot, exercising
    every apply rule: seq-1 updates (+100) and tombstones; seq-2
    deletes OVERRIDING updates, updates REINSTATING deleted keys
    (price*2), brand-new inserted keys (+100000000 id space); and a
    same-seq collision pair resolved by the src tiebreak ('b' beats
    'a', so +2 must win over +1)."""
    def leg(filt, price, seq, op, src, key_shift=0):
        return orders.filter(filt).select(
            (F.col("o_orderkey") + F.lit(key_shift)).alias("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            price.alias("o_totalprice"),
            F.lit(seq).cast("long").alias("seq"),
            F.lit(op).alias("op"),
            F.lit(src).alias("src"),
        )

    p = F.col("o_totalprice")
    k = F.col("o_orderkey")
    # every leg gets a DISTINCT src so keys matched by several legs at
    # the same seq (e.g. k%5==0 AND k%7==3 at seq 1) still resolve to
    # one deterministic winner — identical (key, seq, src) rows would
    # make row_number engine-dependent
    legs = [
        leg(k % 5 == 0, p + 100.0, 1, "U", "u1"),
        leg(k % 7 == 3, p, 1, "D", "d1"),
        leg(k % 10 == 0, p, 2, "D", "d2"),
        leg((k % 7 == 3) & (k % 2 == 0), p * 2.0, 2, "U", "u2"),
        leg(k % 11 == 5, p + 0.5, 1, "I", "i1", key_shift=100_000_000),
        leg(k % 13 == 1, p + 1.0, 2, "U", "a"),
        leg(k % 13 == 1, p + 2.0, 2, "U", "b"),
    ]
    out = legs[0]
    for l in legs[1:]:
        out = out.unionByName(l)
    return out


def cdc1_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply (operators.asof.apply_changes — the lakehouse APPLY
    CHANGES semantic): per-key latest-wins over (seq, tiebreak), a
    winning tombstone removes the key, other winners upsert wholesale,
    untouched keys pass through. The synthetic stream covers
    delete-overrides-update, update-reinstates-delete, fresh inserts,
    and a same-seq tiebreak collision; the oracle replays the full
    rule set with ROW_NUMBER + anti-join + union. Aggregated per
    (o_orderstatus, o_orderkey % 97) so every surviving row's key and
    price feed the value hash."""
    from ..operators.asof import apply_changes

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    applied = apply_changes(
        orders,
        _cdc_changes(orders),
        keys=["o_orderkey"],
        seq_col="seq",
        op_col="op",
        tiebreak_cols=["src"],
    )
    return applied.groupBy(
        "o_orderstatus", (F.col("o_orderkey") % 97).alias("key_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("sum_key"),
        # exact integer cents, not SUM(double): summation order differs
        # across engines and flips the last ulp of a float sum
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_price_cents"
        ),
    )


CDC1_SQL = """
WITH snapshot AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
),
changes AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice + 100.0 AS o_totalprice,
           CAST(1 AS BIGINT) AS seq, 'U' AS op, 'u1' AS src
    FROM orders WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           1, 'D', 'd1' FROM orders WHERE o_orderkey % 7 = 3
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           2, 'D', 'd2' FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2.0,
           2, 'U', 'u2' FROM orders WHERE o_orderkey % 7 = 3 AND o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
           o_totalprice + 0.5, 1, 'I', 'i1'
    FROM orders WHERE o_orderkey % 11 = 5
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0,
           2, 'U', 'a' FROM orders WHERE o_orderkey % 13 = 1
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 2.0,
           2, 'U', 'b' FROM orders WHERE o_orderkey % 13 = 1
),
winners AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_orderkey ORDER BY seq DESC, src DESC) AS rn
        FROM changes
    ) WHERE rn = 1
),
applied AS (
    SELECT s.* FROM snapshot s
    WHERE NOT EXISTS (SELECT 1 FROM winners w WHERE w.o_orderkey = s.o_orderkey)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM winners WHERE op <> 'D'
)
SELECT o_orderstatus, o_orderkey % 97 AS key_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents
FROM applied
GROUP BY o_orderstatus, key_bucket
"""

QUERIES["cdc1_apply_changes"] = cdc1_apply_changes
ORACLE["cdc1_apply_changes"] = CDC1_SQL


def sk6_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct sketch (sketches.kmv_sketch, Bar-Yossef
    2002 / Beyer SIGMOD 2007): per order priority, the 128 smallest
    distinct 60-bit md5 hashes of the customer key. The gate exports
    the sketch state itself (count, XOR fold, k-th value — overflow-
    free exact integers) plus the (k-1)/U_k estimate; the oracle
    rebuilds the identical sketch with ROW_NUMBER over the same md5
    prefix."""
    from ..functions.sketches import kmv_estimate, kmv_sketch

    orders = load_table(spark, sf_dir, "orders")
    sk = kmv_sketch(
        orders,
        F.col("o_custkey").cast("string"),
        k=128,
        group_cols=("o_orderpriority",),
    )
    return sk.select(
        "o_orderpriority",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.aggregate(
            "sketch",
            F.lit(0).cast("long"),
            lambda a, x: a.bitwiseXOR(x),
        ).alias("xor_sketch"),
        F.element_at("sketch", F.col("n_kept").cast("int")).alias("kth"),
        kmv_estimate(F.col("sketch"), F.col("n_kept"), 128).alias("est"),
    )


_KMV_H = (
    "list_reduce(list_transform(string_split(substr(md5("
    "CAST(o_custkey AS VARCHAR)),1,15), ''), "
    "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
    "(a,b) -> a*16+b)"
)

SK6_SQL = f"""
WITH h AS (
    SELECT DISTINCT o_orderpriority, {_KMV_H} AS h FROM orders
),
r AS (
    SELECT o_orderpriority, h,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn
    FROM h
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
           list(h ORDER BY h)), (a,b) -> xor(a,b)) AS xor_sketch,
       MAX(h) AS kth,
       CASE WHEN COUNT(*) < 128 THEN CAST(COUNT(*) AS DOUBLE)
            ELSE 127.0 / (CAST(MAX(h) AS DOUBLE) / 1152921504606846976.0)
       END AS est
FROM r WHERE rn <= 128
GROUP BY o_orderpriority
"""

QUERIES["sk6_kmv_distinct"] = sk6_kmv_distinct
ORACLE["sk6_kmv_distinct"] = SK6_SQL


def sk7_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise set-intersection estimates from KMV sketches
    (sketches.kmv_pairwise — the capability HLL cannot express):
    Jaccard / union / intersection of the customer sets behind every
    two order priorities, computed entirely from two 128-value
    sketches per pair. The oracle replays the pooled bottom-k, the
    both-sides membership count, and the unsaturated-exact rule in
    DuckDB list functions."""
    from ..functions.sketches import kmv_pairwise, kmv_sketch

    orders = load_table(spark, sf_dir, "orders")
    sk = kmv_sketch(
        orders,
        F.col("o_custkey").cast("string"),
        k=128,
        group_cols=("o_orderpriority",),
    )
    return kmv_pairwise(sk, "o_orderpriority", k=128)


SK7_SQL = f"""
WITH h AS (
    SELECT DISTINCT o_orderpriority, {_KMV_H} AS h FROM orders
),
r AS (
    SELECT o_orderpriority, h,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn
    FROM h
),
sk AS (
    SELECT o_orderpriority AS g, list(h ORDER BY h) AS s
    FROM r WHERE rn <= 128 GROUP BY o_orderpriority
),
pairs AS (
    SELECT a.g AS g_a, b.g AS g_b, a.s AS sa, b.s AS sb,
           list_sort(list_distinct(a.s || b.s))[1:128] AS pool
    FROM sk a JOIN sk b ON a.g < b.g
),
scored AS (
    SELECT g_a, g_b, len(pool) AS kp,
           len(list_filter(pool,
               v -> list_contains(sa, v) AND list_contains(sb, v)))
               AS overlap,
           list_extract(pool, len(pool)) AS kth
    FROM pairs
)
SELECT g_a, g_b,
       CAST(overlap AS BIGINT) AS overlap_k,
       CAST(overlap AS DOUBLE) / CAST(kp AS DOUBLE) AS jaccard_est,
       CASE WHEN kp < 128 THEN CAST(kp AS DOUBLE)
            ELSE 127.0 / (CAST(kth AS DOUBLE) / 1152921504606846976.0)
       END AS union_est,
       (CAST(overlap AS DOUBLE) / CAST(kp AS DOUBLE)) *
       CASE WHEN kp < 128 THEN CAST(kp AS DOUBLE)
            ELSE 127.0 / (CAST(kth AS DOUBLE) / 1152921504606846976.0)
       END AS intersect_est
FROM scored
"""

QUERIES["sk7_kmv_intersect"] = sk7_kmv_intersect
ORACLE["sk7_kmv_intersect"] = SK7_SQL


def s20_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip: the documents table written as ORC
    (Spark's second first-class columnar format — predicate pushdown
    and column pruning work the same as parquet) and read back; the
    per-language aggregate must match the parquet-derived oracle
    value-for-value, proving the format conversion is lossless for
    longs and UTF-8 strings."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = _scratch_store(spark, "gate_s20_orc")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("doc_id").alias("sum_id"),
    )


S20_SQL = """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
       CAST(SUM(doc_id) AS BIGINT) AS sum_id
FROM documents
GROUP BY lang, source
"""

QUERIES["s20_orc_roundtrip"] = s20_orc_roundtrip
ORACLE["s20_orc_roundtrip"] = S20_SQL


def t14_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText character-fraction repetition rules
    (curation.topgram_repetition, Rae et al. 2021 Table A1): per doc
    the most frequent 2-/3-gram (deterministic lexicographic tie), the
    character fraction its occurrences cover, and the character
    fraction of duplicated 5-grams. The oracle replays gram explode +
    count + ROW_NUMBER argmax + the same exact-integer-in-double
    arithmetic."""
    from ..functions.curation import topgram_repetition

    docs = load_table(spark, sf_dir, "documents")
    return topgram_repetition(docs, top_ns=(2, 3), dup_n=5).select(
        "doc_id",
        "top2_gram",
        "top2_char_frac",
        "top3_gram",
        "top3_char_frac",
        "dup5_char_frac",
    )


def _gopher_gram_cte(n: int, tag: str) -> str:
    return f"""
g{tag} AS (
    SELECT doc_id, chars,
           unnest(list_transform(
               range(1, greatest(len(w) - {n - 1}, 0) + 1),
               i -> array_to_string(w[i:i+{n - 1}], ' '))) AS gram
    FROM base
),
c{tag} AS (
    SELECT doc_id, chars, gram, COUNT(*) AS c
    FROM g{tag} GROUP BY doc_id, chars, gram
)"""


T14_SQL = f"""
WITH base AS (
    SELECT doc_id, CAST(len(text) AS DOUBLE) AS chars,
           list_filter(string_split(text, ' '), t -> t <> '') AS w
    FROM documents
),{_gopher_gram_cte(2, "2")},{_gopher_gram_cte(3, "3")},{_gopher_gram_cte(5, "5")},
top2 AS (
    SELECT doc_id, gram, CAST(c AS DOUBLE) * CAST(len(gram) AS DOUBLE)
               / chars AS frac
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
          FROM c2) WHERE rn = 1
),
top3 AS (
    SELECT doc_id, gram, CAST(c AS DOUBLE) * CAST(len(gram) AS DOUBLE)
               / chars AS frac
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
          FROM c3) WHERE rn = 1
),
dup5 AS (
    SELECT doc_id,
           SUM(CAST(c AS DOUBLE) * CAST(len(gram) AS DOUBLE)) AS dupchars
    FROM c5 WHERE c > 1 GROUP BY doc_id
)
SELECT b.doc_id,
       t2.gram AS top2_gram,
       COALESCE(t2.frac, 0.0) AS top2_char_frac,
       t3.gram AS top3_gram,
       COALESCE(t3.frac, 0.0) AS top3_char_frac,
       CASE WHEN b.chars > 0 THEN COALESCE(d5.dupchars, 0.0) / b.chars
            ELSE 0.0 END AS dup5_char_frac
FROM base b
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN top3 t3 USING (doc_id)
LEFT JOIN dup5 d5 USING (doc_id)
"""

QUERIES["t14_gopher_repetition"] = t14_gopher_repetition
ORACLE["t14_gopher_repetition"] = T14_SQL


def d16_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exact shared token runs per document pair
    (dedup.shared_spans — Lee et al. 2022's exact-substring pass as
    inverted-index join + dotplot-diagonal gaps-and-islands, no suffix
    sort). Returns every >= 16-token maximal run with both start
    positions and its token length; the oracle replays the identical
    gram hash, the d >= 2 gram filter, the diagonal islands, and the
    count + k - 1 length arithmetic."""
    from ..functions.dedup import shared_spans

    docs = load_table(spark, sf_dir, "documents")
    return shared_spans(docs, k=8, min_len=16, max_gram_docs=50)


D16_SQL = f"""
WITH toks AS (
    SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
    FROM documents
),
g AS (
    SELECT doc_id AS id, CAST(i - 1 AS BIGINT) AS pos,
           {_md5int_sql("array_to_string(w[i:i+7], ' ')")} AS h
    FROM toks, UNNEST(range(1, greatest(len(w) - 7, 0) + 1)) AS t(i)
),
sh AS (
    SELECT h FROM (SELECT h, COUNT(DISTINCT id) AS d FROM g GROUP BY h)
    WHERE d >= 2
),
m AS (
    SELECT a.id AS id_a, b.id AS id_b, a.pos AS pos_a, b.pos AS pos_b,
           a.pos - b.pos AS diag
    FROM g a JOIN g b USING (h) SEMI JOIN sh USING (h)
    WHERE a.id < b.id
),
runs AS (
    SELECT id_a, id_b, diag, pos_a, pos_b,
           pos_a - ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS island
    FROM m
)
SELECT id_a, id_b,
       MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
       CAST(COUNT(*) + 7 AS BIGINT) AS len_tokens
FROM runs
GROUP BY id_a, id_b, diag, island
HAVING COUNT(*) + 7 >= 16
"""

QUERIES["d16_shared_spans"] = d16_shared_spans
ORACLE["d16_shared_spans"] = D16_SQL


def st7_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batched CDC apply through the parquet snapshot store
    (streaming.ingest.cdc_apply_batch — the foreachBatch sink form of
    apply_changes): the cdc1 change stream split into its seq-1 and
    seq-2 waves and applied SEQUENTIALLY, store round-trip between
    batches, first-batch bootstrap included. The oracle is the same
    ONE-SHOT union replay as cdc1 — the gate binds, cross-engine, the
    composability property the streaming sink's correctness rests on
    (live readStream/foreachBatch parity is pytest territory, the
    st-family split)."""
    from ..streaming.ingest import cdc_apply_batch

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    changes = _cdc_changes(orders)
    path = _scratch_store(spark, "gate_st7_store")
    # seed the store with the snapshot (batch 0 = initial load: all
    # inserts at seq 0), then the waves in stream order
    seed = orders.withColumns(
        {
            "seq": F.lit(0).cast("long"),
            "op": F.lit("I"),
            "src": F.lit("seed"),
        }
    )
    for wave in (
        seed,
        changes.filter(F.col("seq") == 1),
        changes.filter(F.col("seq") == 2),
    ):
        cdc_apply_batch(
            wave,
            path,
            keys=("o_orderkey",),
            tiebreak_cols=("src",),
        )
    snapshot = spark.read.parquet(path)
    return snapshot.groupBy(
        "o_orderstatus", (F.col("o_orderkey") % 97).alias("key_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("sum_key"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_price_cents"
        ),
    )


QUERIES["st7_stream_cdc"] = st7_stream_cdc
ORACLE["st7_stream_cdc"] = CDC1_SQL


def d14b_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash band-index MAINTENANCE (round-11 verdict
    item 7): the index UPDATE half of the daily-crawl loop that
    d14_probe_pairs' static probe assumes. Crawl wave 1 indexes the
    60% corpus plus a STALE first crawl of the %5==4 docs ('stale0 '
    prepended); wave 2 re-crawls those docs with their current text
    and ``minhash_index_upsert`` replaces their band rows through a
    parquet store round trip; the %5==0 batch then probes the
    maintained index via ``minhash_probe_pairs(corpus_bands=...)``.
    The oracle rebuilds the index FROM SCRATCH over the final corpus —
    probe-after-update must equal probe-after-rebuild — and the gate
    also pins the maintained index's (row count, doc count) against
    the rebuilt one's as constant columns, so an upsert that appended
    instead of replacing (stale band rows left behind) fails the value
    hash even if the surviving pair set coincides. The store uses the
    production PARTITIONED layout (band_index_write: (band, sig)-hash
    bucket directories) and the probe reads it PRUNED
    (band_index_pruned — the corpus scan carries PartitionFilters for
    exactly the buckets the probe batch touches; round-12 verdict
    item 4)."""
    from ..functions.dedup import (
        band_index_pruned,
        band_index_read,
        band_index_write,
        minhash_band_index,
        minhash_index_upsert,
    )

    docs = load_table(spark, sf_dir, "documents")
    base, stale, recrawl = _index_slices(docs)
    idx0 = minhash_band_index(base.unionByName(stale), k=16, bands=2)
    path = _scratch_store(spark, "gate_d14b_index")
    band_index_write(idx0, path, k=16, bands=2)
    # wave 2: re-crawl of the %5==4 docs with their CURRENT text —
    # replace-by-document through the store; the rewrite streams from
    # checkpoint blocks, not from the files it replaces
    updated = minhash_index_upsert(
        band_index_read(spark, path), recrawl, k=16, bands=2
    )
    with store.materialised(updated) as rows:
        band_index_write(rows, path, k=16, bands=2)
    probe_batch = docs.filter(F.col("doc_id") % 5 == 0)
    pairs = minhash_probe_pairs(
        probe_batch,
        docs.filter(F.col("doc_id") % 5 != 0),
        k=16,
        bands=2,
        threshold=0.5,
        corpus_bands=band_index_pruned(spark, path, probe_batch, k=16, bands=2),
    )
    stats = band_index_read(spark, path).agg(
        F.count(F.lit(1)).alias("idx_rows"),
        F.count_distinct("doc_id").alias("idx_docs"),
    )
    return pairs.crossJoin(F.broadcast(stats))


D14B_SQL = _probe_sql(
    "doc_id % 5 = 0", "doc_id % 5 <> 0", 16, 2, 0.5, index_stats=True
)

QUERIES["d14b_index_maintenance"] = d14b_index_maintenance
ORACLE["d14b_index_maintenance"] = D14B_SQL


#: shared boilerplate header for pipe20 — 12 tokens, so its 5 fully-
#: interior 8-grams appear in EVERY document and trip shared_spans'
#: max_gram_docs=50 guard at every test sf (100+ docs), while grams
#: straddling the header/body boundary stay document-unique
_PIPE20_HDR = (
    "terms of service apply to all content herein "
    "all rights reserved worldwide"
)


def pipe20_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-cut -> shared_spans composition (round-11 verdict
    item 3): the operational remedy for ``shared_spans``' hot-gram
    abort, proven as a pipeline. Every document gets the shared
    12-token template header prepended — a corpus templated enough
    that RAW ``shared_spans(max_gram_docs=50)`` aborts loudly
    (pytest-pinned: test_pipe20_raw_input_aborts) — then
    ``cut_hot_spans`` removes every token covered by a k-gram in more
    than 50 documents, and the span pass converges on the survivors.
    The gate also carries the hottest gram's document frequency as a
    constant column, certifying cross-engine that the input really
    was over the guard. Reference semantics: Lee et al. 2022 §4
    (boilerplate dominates raw-crawl duplicate mass; cut it corpus-
    wide before the exact-substring pass)."""
    from ..functions.dedup import cut_hot_spans, shared_spans

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit(_PIPE20_HDR + " "), F.col("text")).alias("text"),
    )
    stats: list = []
    cleaned = cut_hot_spans(docs, k=8, max_docs=50, stats_out=stats)
    runs = shared_spans(cleaned, k=8, min_len=16, max_gram_docs=50)
    # the certificate reads the cut pass's own checkpointed gram index
    # (stats_out) — no second explode of the corpus
    hottest = stats[0].agg(F.max("__d").alias("max_gram_df"))
    return runs.crossJoin(F.broadcast(hottest))


PIPE20_SQL = f"""
WITH raw AS (
    SELECT doc_id, '{_PIPE20_HDR} ' || text AS text FROM documents
),
toks0 AS (
    SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
    FROM raw
),
g0 AS (
    SELECT doc_id AS id, CAST(i - 1 AS BIGINT) AS pos,
           {_md5int_sql("array_to_string(w[i:i+7], ' ')")} AS h
    FROM toks0, UNNEST(range(1, greatest(len(w) - 7, 0) + 1)) AS t(i)
),
freq AS (SELECT h, COUNT(DISTINCT id) AS d FROM g0 GROUP BY h),
hot AS (SELECT h FROM freq WHERE d > 50),
hs AS (
    SELECT id, list(pos) AS starts
    FROM g0 SEMI JOIN hot USING (h)
    GROUP BY id
),
cw AS (
    SELECT t.doc_id,
           [t.w[i + 1] FOR i IN range(len(t.w))
            IF len(list_filter(COALESCE(h.starts, []),
                               s -> s <= i AND i < s + 8)) = 0] AS w
    FROM toks0 t LEFT JOIN hs h ON h.id = t.doc_id
),
g AS (
    SELECT doc_id AS id, CAST(i - 1 AS BIGINT) AS pos,
           {_md5int_sql("array_to_string(w[i:i+7], ' ')")} AS h
    FROM cw, UNNEST(range(1, greatest(len(w) - 7, 0) + 1)) AS t(i)
),
sh AS (
    SELECT h FROM (SELECT h, COUNT(DISTINCT id) AS d FROM g GROUP BY h)
    WHERE d >= 2
),
m AS (
    SELECT a.id AS id_a, b.id AS id_b, a.pos AS pos_a, b.pos AS pos_b,
           a.pos - b.pos AS diag
    FROM g a JOIN g b USING (h) SEMI JOIN sh USING (h)
    WHERE a.id < b.id
),
runs AS (
    SELECT id_a, id_b, diag, pos_a, pos_b,
           pos_a - ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS island
    FROM m
)
SELECT id_a, id_b,
       MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
       CAST(COUNT(*) + 7 AS BIGINT) AS len_tokens,
       (SELECT CAST(MAX(d) AS BIGINT) FROM freq) AS max_gram_df
FROM runs
GROUP BY id_a, id_b, diag, island
HAVING COUNT(*) + 7 >= 16
"""

QUERIES["pipe20_boilerplate_spans"] = pipe20_boilerplate_spans
ORACLE["pipe20_boilerplate_spans"] = PIPE20_SQL


def st8_stream_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batched band-index maintenance through the parquet store
    (streaming.ingest.index_upsert_batch — the foreachBatch sink form
    of minhash_index_upsert): the d14b maintenance sequence replayed
    as three sequential waves — base corpus, STALE first crawl of the
    %5==4 docs, then their re-crawl with current text — store round
    trip between waves, first-batch bootstrap included. The final
    index must equal the rebuilt-from-scratch one (same D14B oracle:
    probe pairs + index row/doc counts), binding cross-engine the
    wave-slicing-independence property the streaming sink's
    correctness rests on (live readStream/foreachBatch parity is
    pytest territory, the st-family split). The sink writes the
    production PARTITIONED layout and the probe reads it PRUNED
    (band_index_pruned; round-12 verdict item 4)."""
    from ..functions.dedup import band_index_pruned, band_index_read
    from ..streaming.ingest import index_upsert_batch

    docs = load_table(spark, sf_dir, "documents")
    path = _scratch_store(spark, "gate_st8_index")
    for wave in _index_slices(docs):
        index_upsert_batch(wave, path, k=16, bands=2)
    probe_batch = docs.filter(F.col("doc_id") % 5 == 0)
    pairs = minhash_probe_pairs(
        probe_batch,
        docs.filter(F.col("doc_id") % 5 != 0),
        k=16,
        bands=2,
        threshold=0.5,
        corpus_bands=band_index_pruned(spark, path, probe_batch, k=16, bands=2),
    )
    stats = band_index_read(spark, path).agg(
        F.count(F.lit(1)).alias("idx_rows"),
        F.count_distinct("doc_id").alias("idx_docs"),
    )
    return pairs.crossJoin(F.broadcast(stats))


QUERIES["st8_stream_index"] = st8_stream_index
ORACLE["st8_stream_index"] = D14B_SQL


def d8b_incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d8's daily-crawl incremental dedup on the Bloom-prefiltered path
    (dedup.dedup_incremental_bloom): the historical fingerprint table
    is only SCANNED (broadcast semi-join against the delta-sized
    Bloom-surviving fp set), never shuffled — the 100 TB shape the
    plain operator's sort-merge anti-join cannot give. Output must be
    IDENTICAL to d8's (same oracle): the pre-filter has no false
    negatives, the semi-join confirms every true hit, so the bloom
    path can only differ if one of those invariants breaks."""
    from ..functions.dedup import dedup_incremental_bloom

    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 3 == 0).select(
        fingerprint("text").alias("fp")
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    out = dedup_incremental_bloom(batch, seen, m_bits=1 << 18)
    return out.select("doc_id", "lang", "fp")


QUERIES["d8b_incremental_dedup_bloom"] = d8b_incremental_dedup_bloom
ORACLE["d8b_incremental_dedup_bloom"] = D8_SQL


def pipe21_incremental_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-dedup DAILY LOOP through the persisted fingerprint
    table — the operational round trip ``dedup_incremental``'s
    docstring promises ("append fp to the fingerprint table to advance
    the corpus state"), proven as a pipeline like st8 proved the band
    index's: seed the fp store from the historical corpus (%3==0),
    dedup wave 1 (%3==1) against it, APPEND the survivors' fps (store
    round trip), dedup wave 2 (%3==2) against the advanced state. The
    oracle replays both waves sequentially in SQL — wave-2 rows whose
    fingerprint first appeared in wave 1 must be dropped, which only
    happens if the append path actually advanced the state. The store
    uses the production PARTITIONED layout (fp_store_write: fp-hash
    bucket directories; appends land inside touched buckets and never
    rewrite existing files) and each wave reads it PRUNED
    (fp_store_pruned — the seen-side scan carries PartitionFilters for
    the wave's own fp buckets; round-12 verdict item 4)."""
    from ..functions.dedup import fp_store_pruned, fp_store_write

    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint("text").alias("fp")
    path = _scratch_store(spark, "gate_pipe21_fps")
    fp_store_write(
        docs.filter(F.col("doc_id") % 3 == 0).select(fp).distinct(),
        path,
        mode="overwrite",  # explicit SEED mode: never absorb residue
    )
    out = None
    for wave_no in (1, 2):
        wave = docs.filter(F.col("doc_id") % 3 == wave_no)
        seen = fp_store_pruned(spark, path, wave)
        kept = dedup_incremental(wave, seen).select(
            "doc_id", "lang", "fp", F.lit(wave_no).alias("wave")
        )
        # advance the state: append the survivors' fps (one slim
        # column; eager materialise BEFORE touching the store path,
        # the cdc_apply_batch pattern — append mode never rewrites
        # existing files, so production appends stay file-sized)
        with store.materialised(kept.select("fp")) as fps:
            fp_store_write(fps, path)
        out = kept if out is None else out.unionByName(kept)
    return out


PIPE21_SQL = r"""
WITH fp AS (
    SELECT doc_id, lang,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM documents
),
seen0 AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 = 0),
w1 AS (
    SELECT doc_id, lang, fp,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp
    WHERE doc_id % 3 = 1
      AND fp NOT IN (SELECT fp FROM seen0)
),
kept1 AS (SELECT doc_id, lang, fp FROM w1 WHERE rn = 1),
seen1 AS (
    SELECT fp FROM seen0 UNION SELECT fp FROM kept1
),
w2 AS (
    SELECT doc_id, lang, fp,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp
    WHERE doc_id % 3 = 2
      AND fp NOT IN (SELECT fp FROM seen1)
),
kept2 AS (SELECT doc_id, lang, fp FROM w2 WHERE rn = 1)
SELECT doc_id, lang, fp, CAST(1 AS INT) AS wave FROM kept1
UNION ALL
SELECT doc_id, lang, fp, CAST(2 AS INT) AS wave FROM kept2
"""

QUERIES["pipe21_incremental_loop"] = pipe21_incremental_loop
ORACLE["pipe21_incremental_loop"] = PIPE21_SQL


def pipe22_crawl_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED crawl-day pipeline (``plans.crawl.crawl_day``): one
    synthetic crawl day run as two waves through the full incremental
    stack — exact dedup against the fp store, near-dup probe against
    the band index, quality filter, packing — with every piece of state
    advancing between waves; the composition pipe21 pins for exact
    dedup only, extended to the whole corpus-maintenance loop.

    Seed corpus = docs %3==0; the waves are ``_recrawl_waves``, whose
    planted re-crawls make every stage and both state advances
    observable: a wave-2 copy of a wave-1 survivor drops at the exact
    stage ONLY if wave 1 advanced the fp store, and a planted copy of a
    wave-1 near-dup or quality reject must be dropped by the SAME stage
    that dropped its source. The oracle replays both waves sequentially
    in SQL, so any stage that fails to advance (or advances with the
    wrong set) diverges on wave 2."""
    from ..functions.dedup import band_index_write, fp_store_write, minhash_band_index

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    corpus0 = docs.filter(F.col("doc_id") % 3 == 0)
    fp_path = _scratch_store(spark, "gate_pipe22_fps")
    idx_path = _scratch_store(spark, "gate_pipe22_index")
    corpus_path = _scratch_store(spark, "gate_pipe22_corpus")
    fp_store_write(
        corpus0.select(fingerprint("text").alias("fp")).distinct(),
        fp_path,
        mode="overwrite",  # explicit SEED mode: never absorb residue
    )
    band_index_write(
        minhash_band_index(corpus0, k=16, bands=2), idx_path, k=16, bands=2
    )
    corpus0.select("doc_id", "text").write.parquet(corpus_path)
    return crawl_day(
        spark, fp_path, idx_path, corpus_path, _recrawl_waves(docs)
    ).select(
        "doc_id", "lang", "fp", "n_tokens", "pack_id", "pack_offset", "wave"
    )


def _pipe22_sql() -> str:
    """Two-wave sequential SQL replay of pipe22 — exact dedup, banded
    MinHash probe + Jaccard-0.9 verify, quality filter, per-wave
    packing, state advance between waves (same signature construction
    as _probe_sql, shared with d14/d14b/st6/st8)."""
    sig_exprs = ",".join(
        f"list_min(list_transform(th, h -> ({a} * h + {b}) % {MERSENNE_P})) AS mh{i}"
        for i, (a, b) in enumerate(hash_params(16))
    )
    b0 = ", ".join(f"mh{i}" for i in range(8))
    b1 = ", ".join(f"mh{i}" for i in range(8, 16))
    jac = (
        "CAST(len(list_intersect(ta.t, tc.t)) AS DOUBLE) / "
        "CAST(len(ta.t) + len(tc.t) - len(list_intersect(ta.t, tc.t)) AS DOUBLE)"
    )

    def wave(n: int, batch: str, seen: str, corpus_ids: str) -> str:
        return f"""
ke{n} AS (
    SELECT b.doc_id, b.lang, f.fp
    FROM {batch} b JOIN fps f USING (doc_id)
    WHERE f.fp NOT IN (SELECT fp FROM {seen})
    QUALIFY ROW_NUMBER() OVER (PARTITION BY f.fp ORDER BY b.doc_id) = 1
),
nd{n} AS (
    SELECT DISTINCT a.doc_id
    FROM bnd a
    JOIN ke{n} k ON a.doc_id = k.doc_id
    JOIN bnd c ON a.band = c.band AND a.sig = c.sig
    JOIN ({corpus_ids}) w ON c.doc_id = w.doc_id
    JOIN tk ta ON ta.doc_id = a.doc_id
    JOIN tk tc ON tc.doc_id = c.doc_id
    WHERE {jac} >= 0.9
),
kept{n} AS (
    SELECT k.doc_id, k.lang, k.fp, q.n_tokens
    FROM ke{n} k JOIN qual q USING (doc_id)
    WHERE k.doc_id NOT IN (SELECT doc_id FROM nd{n}) AND q.ok
      AND q.n_tokens <= 512
),
pk{n} AS (
    SELECT doc_id, lang, fp, n_tokens,
           COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
    FROM kept{n}
)"""

    return f"""
WITH raw AS (SELECT doc_id, lang, text FROM documents),
w0 AS (SELECT * FROM raw WHERE doc_id % 3 = 0),
b1 AS (
    SELECT * FROM raw WHERE doc_id % 3 = 1
    UNION ALL
    SELECT doc_id + 1000000, lang, text FROM w0 WHERE doc_id % 5 = 0
),
b2 AS (
    SELECT * FROM raw WHERE doc_id % 3 = 2
    UNION ALL
    SELECT doc_id + 2000000, lang, text FROM raw
    WHERE doc_id % 3 = 1 AND doc_id % 5 = 1
),
ad AS (
    SELECT * FROM w0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2
),
fps AS (
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM ad
),
th AS (SELECT doc_id, {{TH}} AS th FROM ad),
sig AS (SELECT doc_id, {sig_exprs} FROM th),
bnd AS (
    SELECT doc_id, 0 AS band, concat_ws('_', {b0}) AS sig
    FROM sig WHERE mh0 IS NOT NULL
    UNION ALL
    SELECT doc_id, 1 AS band, concat_ws('_', {b1}) AS sig
    FROM sig WHERE mh0 IS NOT NULL
),
tk AS (
    SELECT doc_id,
           list_filter(list_distinct(string_split(text, ' ')), t -> t <> '') AS t
    FROM ad
),
qual AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           len(string_split(text, ' ')) >= 20
           AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.5 AS ok
    FROM ad
),
seen0 AS (SELECT DISTINCT fp FROM fps JOIN w0 USING (doc_id)),
{wave(1, "b1", "seen0", "SELECT doc_id FROM w0")},
seen1 AS (SELECT fp FROM seen0 UNION SELECT fp FROM kept1),
{wave(2, "b2", "seen1",
      "SELECT doc_id FROM w0 UNION ALL SELECT doc_id FROM kept1")}
SELECT doc_id, lang, fp, n_tokens,
       CAST(prefix // 512 AS BIGINT) AS pack_id,
       CAST(prefix % 512 AS BIGINT) AS pack_offset,
       CAST(1 AS INT) AS wave
FROM pk1
UNION ALL
SELECT doc_id, lang, fp, n_tokens,
       CAST(prefix // 512 AS BIGINT) AS pack_id,
       CAST(prefix % 512 AS BIGINT) AS pack_offset,
       CAST(2 AS INT) AS wave
FROM pk2
""".replace("{TH}", _TH_SQL)


PIPE22_SQL = _pipe22_sql()

QUERIES["pipe22_crawl_day"] = pipe22_crawl_day
ORACLE["pipe22_crawl_day"] = PIPE22_SQL


def j16b_adaptive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probe-then-decide skew wrapper (operators.skew.adaptive_join,
    round-12 verdict item 7) on a DELIBERATELY skewed key: ~70% of
    lineitem rows collapse onto key 0, the rest spread over %97
    buckets. ``probe_hot_keys`` (exact mode) fires, the join takes the
    salted path, and — the operator's whole contract — the result is
    byte-identical to the plain join the oracle runs. The gate carries
    a SKEW CERTIFICATE (pipe20's pattern): ``max_key_rows`` (the hot
    key's exact row count) and ``probe_fired`` (max > threshold) as
    constant columns, certifying cross-engine that the input really
    was over the probe threshold, so a silently-dead probe cannot pass
    by running the plain join on easy data. Path selection itself is
    plan-asserted in pytest (test_adaptive_join_probes_and_salts:
    __salt in the skewed plan, absent in the uniform one)."""
    from ..operators.skew import adaptive_join

    threshold = 5_000
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_suppkey") % 10 < 7, F.lit(0))
        .otherwise(F.col("l_suppkey") % 97)
        .cast("long")
        .alias("key"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("qty"),
    )
    dim = (
        load_table(spark, sf_dir, "supplier")
        .groupBy((F.col("s_suppkey") % 97).cast("long").alias("key"))
        .agg(F.min("s_name").alias("s_label"))
    )
    joined = adaptive_join(
        li,
        dim,
        on=["key"],
        hot_threshold=threshold,
        salt_buckets=8,
        unique_cols=["l_orderkey", "l_linenumber"],
    )
    out = joined.groupBy("s_label").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("qty").alias("sum_qty"),
    )
    cert = (
        li.groupBy("key")
        .count()
        .agg(F.max("count").alias("max_key_rows"))
        .withColumn("probe_fired", F.col("max_key_rows") > threshold)
    )
    return out.crossJoin(F.broadcast(cert))


J16B_SQL = """
WITH big AS (
    SELECT CASE WHEN l_suppkey % 10 < 7 THEN 0
                ELSE l_suppkey % 97 END AS key,
           CAST(l_quantity AS DOUBLE) AS qty
    FROM lineitem
),
dim AS (
    SELECT s_suppkey % 97 AS key, MIN(s_name) AS s_label
    FROM supplier
    GROUP BY 1
),
cert AS (
    SELECT CAST(MAX(n) AS BIGINT) AS max_key_rows, MAX(n) > 5000 AS probe_fired
    FROM (SELECT COUNT(*) AS n FROM big GROUP BY key)
)
SELECT d.s_label, COUNT(*) AS n_lines, SUM(b.qty) AS sum_qty,
       c.max_key_rows, c.probe_fired
FROM big b
JOIN dim d ON b.key = d.key
CROSS JOIN cert c
GROUP BY 1, 4, 5
"""

QUERIES["j16b_adaptive_join"] = j16b_adaptive_join
ORACLE["j16b_adaptive_join"] = J16B_SQL


def pipe23_bloom_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom-prefiltered exact-dedup DAILY LOOP with the sketch
    PERSISTED next to the fingerprint table — the production form
    ``dedup_incremental_bloom``'s step 1 describes, proven as a
    pipeline the way pipe21 proves the plain loop: seed the
    partitioned fp store AND the set-bit sketch from the historical
    corpus (%3==0), then per wave dedup via the persisted sketch
    (``bits=`` — no corpus-sized sketch rebuild) with the confirm scan
    pruned to the wave's fp buckets (``fp_store_pruned``), APPEND the
    survivors' fps, and MERGE their bits into the sketch
    (union+distinct — bloom_bits' documented merge). Waves carry
    pipe22's planted re-crawls, so the gate fails if EITHER store
    stalls: an unadvanced fp table leaves a wave-2 planted dup
    unconfirmed at step 3 (kept wrongly), an unadvanced sketch answers
    'definitively absent' at step 2 (kept wrongly) — both diverge from
    the sequential-waves oracle. Output semantics are identical to the
    plain loop (no false negatives; confirm removes false positives),
    so the oracle is pipe21's with the planted rows added."""
    from ..functions.dedup import (
        dedup_incremental_bloom,
        fp_store_pruned,
        fp_store_write,
    )
    from ..functions.sketches import bloom_bits

    m_bits = 1 << 18
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    corpus0 = docs.filter(F.col("doc_id") % 3 == 0)
    fp_path = _scratch_store(spark, "gate_pipe23_fps")
    sk_path = _scratch_store(spark, "gate_pipe23_sketch")
    seed_fps = corpus0.select(fingerprint("text").alias("fp")).distinct()
    # explicit SEED mode: never absorb residue from a prior run
    fp_store_write(seed_fps, fp_path, mode="overwrite")
    bloom_bits(seed_fps, F.col("fp"), m_bits).write.parquet(sk_path)

    out = None
    with store.pins("pipe23_bloom_loop") as pin:
        for wave_no, wave in _recrawl_waves(docs).items():
            kept = pin(
                dedup_incremental_bloom(
                    wave,
                    fp_store_pruned(spark, fp_path, wave),
                    m_bits=m_bits,
                    bits=spark.read.parquet(sk_path),
                )
            )
            # advance BOTH pieces of state: fps append into their buckets,
            # survivor bits OR-merged into the sketch (eager materialise
            # before overwriting the path the plan reads — d14b pattern)
            fp_store_write(kept.select("fp"), fp_path)
            merged = (
                spark.read.parquet(sk_path)
                .unionByName(bloom_bits(kept, F.col("fp"), m_bits))
                .distinct()
            )
            with store.materialised(merged) as bits:
                bits.write.mode("overwrite").parquet(sk_path)
            rows = kept.select(
                "doc_id", "lang", "fp", F.lit(wave_no).alias("wave")
            )
            out = rows if out is None else out.unionByName(rows)
    return out


PIPE23_SQL = r"""
WITH raw AS (SELECT doc_id, lang, text FROM documents),
w0 AS (SELECT * FROM raw WHERE doc_id % 3 = 0),
b1 AS (
    SELECT * FROM raw WHERE doc_id % 3 = 1
    UNION ALL
    SELECT doc_id + 1000000, lang, text FROM w0 WHERE doc_id % 5 = 0
),
b2 AS (
    SELECT * FROM raw WHERE doc_id % 3 = 2
    UNION ALL
    SELECT doc_id + 2000000, lang, text FROM raw
    WHERE doc_id % 3 = 1 AND doc_id % 5 = 1
),
ad AS (
    SELECT * FROM w0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2
),
fps AS (
    SELECT doc_id, lang,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM ad
),
seen0 AS (SELECT DISTINCT fp FROM fps JOIN w0 USING (doc_id)),
w1 AS (
    SELECT f.doc_id, f.lang, f.fp,
           ROW_NUMBER() OVER (PARTITION BY f.fp ORDER BY f.doc_id) AS rn
    FROM fps f JOIN b1 USING (doc_id)
    WHERE f.fp NOT IN (SELECT fp FROM seen0)
),
kept1 AS (SELECT doc_id, lang, fp FROM w1 WHERE rn = 1),
seen1 AS (SELECT fp FROM seen0 UNION SELECT fp FROM kept1),
w2 AS (
    SELECT f.doc_id, f.lang, f.fp,
           ROW_NUMBER() OVER (PARTITION BY f.fp ORDER BY f.doc_id) AS rn
    FROM fps f JOIN b2 USING (doc_id)
    WHERE f.fp NOT IN (SELECT fp FROM seen1)
),
kept2 AS (SELECT doc_id, lang, fp FROM w2 WHERE rn = 1)
SELECT doc_id, lang, fp, CAST(1 AS INT) AS wave FROM kept1
UNION ALL
SELECT doc_id, lang, fp, CAST(2 AS INT) AS wave FROM kept2
"""

QUERIES["pipe23_bloom_loop"] = pipe23_bloom_loop
ORACLE["pipe23_bloom_loop"] = PIPE23_SQL


def d14c_tombstone_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCH-SIZED band-index upsert + compaction fold (round-13
    verdict item 1): the d14b maintenance sequence replayed through
    ``band_index_upsert_write`` — the re-crawl wave APPENDS its band
    rows into their hash buckets and writes a delta-sized TOMBSTONE,
    never rewriting the store — then probed MERGE-ON-READ (pruned read
    folds tombstones at read time), then FOLDED by
    ``compact_dedup_store`` (tombstones applied to the data files and
    cleared). Oracle = d14b's rebuilt-from-scratch probe, extended:

    * ``idx_rows``/``idx_docs`` pin the MERGE-ON-READ view (before the
      fold) against the rebuilt index — an upsert whose tombstones
      failed to hide stale rows diverges here;
    * ``idx_rows_folded``/``idx_docs_folded`` pin the POST-FOLD store —
      a compaction that dropped live rows or kept dead ones diverges
      here;
    * ``tombs_folded`` pins how many tombstone rows the fold consumed
      (= the re-crawl wave's distinct doc count), certifying
      cross-engine that the upsert really took the tombstone path —
      a fallback to rewrite-on-upsert would fold zero.

    100 TB shape: the daily write is wave-sized (appends + one id-sized
    tombstone file) instead of corpus-sized — the round-13 verdict's
    last open scale gap; the corpus-sized rewrite happens only inside
    the amortised compaction, exactly like Delta/Iceberg merge-on-read
    with OPTIMIZE. Reference frame: SURVEY §1.1 release-snapshot upsert
    model (db_etl_upload/uploader.py:320-325 idempotent re-release)."""
    from ..functions.dedup import (
        band_index_pruned,
        band_index_read,
        band_index_upsert_write,
        compact_dedup_store,
    )

    docs = load_table(spark, sf_dir, "documents")
    base, stale, recrawl = _index_slices(docs)
    path = _scratch_store(spark, "gate_d14c_index")
    # wave 1 bootstraps the store (full build, epoch 1, no tombstones)
    band_index_upsert_write(base.unionByName(stale), path, k=16, bands=2)
    # wave 2: re-crawl of the %5==4 docs with their CURRENT text —
    # wave-sized appends + tombstones, the store is never rewritten
    band_index_upsert_write(recrawl, path, k=16, bands=2)
    probe_batch = docs.filter(F.col("doc_id") % 5 == 0)
    # materialise the probe and the merge-on-read stats BEFORE the fold
    # rewrites the files their plans reference
    with store.pins("d14c_tombstone_upsert") as pin:
        pairs = pin(
            minhash_probe_pairs(
                probe_batch,
                docs.filter(F.col("doc_id") % 5 != 0),
                k=16,
                bands=2,
                threshold=0.5,
                corpus_bands=band_index_pruned(spark, path, probe_batch, k=16, bands=2),
            )
        )
        stats_pre = pin(
            band_index_read(spark, path).agg(
                F.count(F.lit(1)).alias("idx_rows"),
                F.count_distinct("doc_id").alias("idx_docs"),
            )
        )
    rep = compact_dedup_store(spark, path)
    stats_post = (
        band_index_read(spark, path)
        .agg(
            F.count(F.lit(1)).alias("idx_rows_folded"),
            F.count_distinct("doc_id").alias("idx_docs_folded"),
        )
        .withColumn(
            "tombs_folded", F.lit(rep["tombstones_folded"]).cast("long")
        )
    )
    return pairs.crossJoin(F.broadcast(stats_pre)).crossJoin(
        F.broadcast(stats_post)
    )


D14C_SQL = D14B_SQL.replace(
    " AS idx_docs",
    " AS idx_docs,\n"
    "       (SELECT CAST(COUNT(*) AS BIGINT) FROM bands_c)"
    " AS idx_rows_folded,\n"
    "       (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM bands_c)"
    " AS idx_docs_folded,\n"
    "       (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM documents"
    " WHERE doc_id % 5 = 4) AS tombs_folded",
)

QUERIES["d14c_tombstone_upsert"] = d14c_tombstone_upsert
ORACLE["d14c_tombstone_upsert"] = D14C_SQL


def pipe24_fp_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION for the appended fingerprint store
    (round-13 verdict item 2): pipe21's incremental loop run for THREE
    waves (~1 file per touched bucket per wave), then
    ``compact_dedup_store`` folds every bucket back to one file
    (bucket-scoped: only fat buckets rewrite, via dynamic partition
    overwrite), then wave 3 REPLAYS against the compacted store and
    must drop entirely — the state survived the rewrite. Certificate
    columns (pipe20's pattern — booleans the Spark side derives from
    REAL file counts, pinned TRUE by the oracle):

    * ``compacted``        — the fold strictly reduced the file count;
    * ``files_per_bucket_ok`` — every bucket holds exactly one data
      file afterwards;
    * ``state_intact``     — the wave-3 replay found every fingerprint
      still present (zero survivors).

    100 TB shape: the daily append stays file-sized; this maintenance
    op bounds the store's file count the way ``compact_store`` bounds
    the long store's (plans/main_pipeline.py:386), rewriting only the
    buckets that need it."""
    from ..functions.dedup import (
        compact_dedup_store,
        fp_store_pruned,
        fp_store_write,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = _scratch_store(spark, "gate_pipe24_fps")
    # explicit SEED mode: never absorb residue from a prior run
    fp_store_write(
        docs.filter(F.col("doc_id") % 4 == 0)
        .select(fingerprint("text").alias("fp"))
        .distinct(),
        path,
        buckets=16,
        mode="overwrite",
    )
    out = None
    with store.pins("pipe24_fp_compact") as pin:
        for wave_no in (1, 2, 3):
            wave = docs.filter(F.col("doc_id") % 4 == wave_no)
            kept = pin(
                dedup_incremental(wave, fp_store_pruned(spark, path, wave)).select(
                    "doc_id", "lang", "fp", F.lit(wave_no).alias("wave")
                )
            )
            fp_store_write(kept.select("fp"), path)
            out = kept if out is None else out.unionByName(kept)
    rep = compact_dedup_store(spark, path, max_files_per_bucket=1)
    per_bucket = [len(sizes) for sizes in store.bucket_files(path).values()]
    replay = docs.filter(F.col("doc_id") % 4 == 3)
    cert = (
        dedup_incremental(replay, fp_store_pruned(spark, path, replay))
        .agg((F.count(F.lit(1)) == 0).alias("state_intact"))
        .withColumn(
            "compacted", F.lit(rep["files_after"] < rep["files_before"])
        )
        .withColumn(
            "files_per_bucket_ok", F.lit(max(per_bucket, default=99) <= 1)
        )
    )
    return out.crossJoin(F.broadcast(cert))


PIPE24_SQL = r"""
WITH fp AS (
    SELECT doc_id, lang,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM documents
),
seen0 AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 4 = 0),
w1 AS (
    SELECT doc_id, lang, fp,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp
    WHERE doc_id % 4 = 1 AND fp NOT IN (SELECT fp FROM seen0)
),
kept1 AS (SELECT doc_id, lang, fp FROM w1 WHERE rn = 1),
seen1 AS (SELECT fp FROM seen0 UNION SELECT fp FROM kept1),
w2 AS (
    SELECT doc_id, lang, fp,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp
    WHERE doc_id % 4 = 2 AND fp NOT IN (SELECT fp FROM seen1)
),
kept2 AS (SELECT doc_id, lang, fp FROM w2 WHERE rn = 1),
seen2 AS (SELECT fp FROM seen1 UNION SELECT fp FROM kept2),
w3 AS (
    SELECT doc_id, lang, fp,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp
    WHERE doc_id % 4 = 3 AND fp NOT IN (SELECT fp FROM seen2)
),
kept3 AS (SELECT doc_id, lang, fp FROM w3 WHERE rn = 1)
SELECT doc_id, lang, fp, CAST(1 AS INT) AS wave,
       TRUE AS state_intact, TRUE AS compacted, TRUE AS files_per_bucket_ok
FROM kept1
UNION ALL
SELECT doc_id, lang, fp, CAST(2 AS INT) AS wave,
       TRUE AS state_intact, TRUE AS compacted, TRUE AS files_per_bucket_ok
FROM kept2
UNION ALL
SELECT doc_id, lang, fp, CAST(3 AS INT) AS wave,
       TRUE AS state_intact, TRUE AS compacted, TRUE AS files_per_bucket_ok
FROM kept3
"""

QUERIES["pipe24_fp_compact"] = pipe24_fp_compact
ORACLE["pipe24_fp_compact"] = PIPE24_SQL


def j16c_salted_dup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """adaptive_join on the DEGENERATE skew corpus (round-13 verdict
    item 5): the hot key's mass is BYTE-IDENTICAL duplicated rows —
    every hot row is exactly ``(0, 1.0)`` — the one shape the old
    content-hash default salt could not spread (identical rows
    co-bucketed, the straggler survived salting). The default salt now
    mixes a per-row uniquifier, so the probe fires AND the spread is
    real. Certificates (j16b's pattern):

    * ``max_key_rows``/``probe_fired`` — the input really was over the
      probe threshold (a dead probe can't pass on easy data);
    * ``salt_spread`` — the hot key's rows landed on ALL 8 salt
      buckets (read from the salted frame itself via ``stats_out``;
      with thousands of identical hot rows, fewer than 8 distinct
      salts has probability ~(7/8)^4000 — i.e. the old co-bucketing
      behaviour pins at 1 and fails the hash).

    Result rows must still equal the plain join the oracle runs —
    salting stays a pure physical rewrite."""
    from ..operators.skew import SALT_COL, adaptive_join

    threshold = 2_000
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_suppkey") % 10 < 7, F.lit(0))
        .otherwise(F.col("l_suppkey") % 97)
        .cast("long")
        .alias("key"),
        F.lit(1.0).alias("qty"),
    )
    dim = (
        load_table(spark, sf_dir, "supplier")
        .groupBy((F.col("s_suppkey") % 97).cast("long").alias("key"))
        .agg(F.min("s_name").alias("s_label"))
    )
    stats: list = []
    joined = adaptive_join(
        li,
        dim,
        on=["key"],
        hot_threshold=threshold,
        salt_buckets=8,
        stats_out=stats,
    )
    out = joined.groupBy("s_label").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("qty").alias("sum_qty"),
    )
    if not stats:
        raise AssertionError(
            "j16c: the probe did not fire on the deliberately skewed "
            "input — the gate's premise is broken"
        )
    spread = (
        stats[0]
        .filter(F.col("key") == 0)
        .agg(F.count_distinct(SALT_COL).alias("salt_spread"))
    )
    cert = (
        li.groupBy("key")
        .count()
        .agg(F.max("count").alias("max_key_rows"))
        .withColumn("probe_fired", F.col("max_key_rows") > threshold)
    )
    return out.crossJoin(F.broadcast(cert)).crossJoin(F.broadcast(spread))


J16C_SQL = """
WITH big AS (
    SELECT CASE WHEN l_suppkey % 10 < 7 THEN 0
                ELSE l_suppkey % 97 END AS key,
           CAST(1.0 AS DOUBLE) AS qty
    FROM lineitem
),
dim AS (
    SELECT s_suppkey % 97 AS key, MIN(s_name) AS s_label
    FROM supplier
    GROUP BY 1
),
cert AS (
    SELECT CAST(MAX(n) AS BIGINT) AS max_key_rows, MAX(n) > 2000 AS probe_fired
    FROM (SELECT COUNT(*) AS n FROM big GROUP BY key)
)
SELECT d.s_label, COUNT(*) AS n_lines, SUM(b.qty) AS sum_qty,
       c.max_key_rows, c.probe_fired, CAST(8 AS BIGINT) AS salt_spread
FROM big b
JOIN dim d ON b.key = d.key
CROSS JOIN cert c
GROUP BY 1, 4, 5
"""

QUERIES["j16c_salted_dup_rows"] = j16c_salted_dup_rows
ORACLE["j16c_salted_dup_rows"] = J16C_SQL


def d14d_incremental_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL bucket-scoped tombstone fold (round-14): the d14c
    upsert sequence, but compaction runs under a PER-RUN BUCKET BUDGET
    — ``compact_dedup_store(incremental=True, bucket_budget=4)`` folds
    only the 4 dirtiest of 16 buckets (dynamic partition overwrite;
    clean and unfolded buckets keep their files), KEEPS the tombstone
    table (still live for the unfolded buckets, provably harmless over
    folded ones: surviving rows carry the tombstone's own epoch), and a
    second budget-less run drains the rest and clears the tombstones.
    This spreads the corpus-sized fold across maintenance windows —
    each run writes (folded buckets / buckets) of the store, the
    cadence knob for stores too large to fold in one window (Iceberg
    rewrite_data_files' where-scoped form; round-13 VERDICT watch
    item: "bucket-scoped INCREMENTAL fold ... is the next refinement").

    The result is the per-document MERGE-ON-READ view captured BETWEEN
    the two folds — (band-row count, lexicographic min sig) per doc —
    pinned against the rebuilt-from-scratch index: a partial fold that
    dropped live rows, kept dead ones, or broke the tombstone anti-join
    diverges value-by-value. Certificates (booleans + counts the Spark
    side derives from REAL reports/files, pinned by the oracle):

    * ``partial_fold``     — run 1 folded SOME but not ALL debt
      (0 < buckets_rewritten < buckets, dead rows remained);
    * ``tombstones_kept_mid`` — the tombstone dir survived run 1;
    * ``fold_complete``    — run 2 reported the debt drained and
      cleared the tombstones;
    * ``idx_rows_final`` / ``store_physically_clean`` — after run 2
      the RAW store row count equals the logical view's (no dead row
      physically remains), and matches the rebuilt index."""
    from ..functions.dedup import (
        band_index_read,
        band_index_upsert_write,
        compact_dedup_store,
    )

    docs = load_table(spark, sf_dir, "documents")
    base, stale, recrawl = _index_slices(docs)
    path = _scratch_store(spark, "gate_d14d_index")
    tombstones = store.tombstone_path(path)
    band_index_upsert_write(
        base.unionByName(stale), path, k=16, bands=2, buckets=16
    )
    # the re-crawl wave: wave-sized appends + tombstones (epoch 2)
    band_index_upsert_write(recrawl, path, k=16, bands=2, buckets=16)
    rep1 = compact_dedup_store(spark, path, incremental=True, bucket_budget=4)
    tombs_kept_mid = store.is_dir(tombstones)
    # materialise the mid-fold view BEFORE run 2 rewrites its files
    view_mid = store.rolling_checkpoint(
        band_index_read(spark, path)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_band_rows"),
            F.min("sig").alias("min_sig"),
        ),
        "d14d_incremental_fold",
        eager=True,
    )
    rep2 = compact_dedup_store(spark, path, incremental=True)
    raw_rows = spark.read.parquet(path).count()
    final_rows = band_index_read(spark, path).count()
    cert = spark.range(1).select(
        F.lit(final_rows).cast("long").alias("idx_rows_final"),
        F.lit(
            0 < rep1["buckets_rewritten"] < rep1["buckets_before"]
            and rep1["dead_rows_remaining"] > 0
        ).alias("partial_fold"),
        F.lit(tombs_kept_mid).alias("tombstones_kept_mid"),
        F.lit(
            bool(rep2["tombstones_cleared"]) and not store.is_dir(tombstones)
        ).alias("fold_complete"),
        F.lit(raw_rows == final_rows).alias("store_physically_clean"),
    )
    return view_mid.crossJoin(F.broadcast(cert))


def _index_view_sql(corpus_pred: str, k: int, bands: int) -> str:
    """Rebuilt-from-scratch per-document band-index view (DuckDB): the
    oracle for the merge-on-read store readers — (band-row count, min
    sig) per doc over the final corpus, plus the total-row pin."""
    rows_per_band = k // bands
    sig_exprs = ",".join(
        f"list_min(list_transform(th, h -> ({a} * h + {b}) % {MERSENNE_P})) AS mh{i}"
        for i, (a, b) in enumerate(hash_params(k))
    )
    band_sel = []
    for bidx in range(bands):
        members = ", ".join(
            f"mh{i}"
            for i in range(bidx * rows_per_band, (bidx + 1) * rows_per_band)
        )
        band_sel.append(
            f"SELECT doc_id, {bidx} AS band, concat_ws('_', {members}) AS sig "
            "FROM sig_c WHERE mh0 IS NOT NULL"
        )
    bands_sql = " UNION ALL ".join(band_sel)
    return f"""
WITH th_c AS (SELECT doc_id, {_TH_SQL} AS th FROM documents WHERE {corpus_pred}),
sig_c AS (SELECT doc_id, {sig_exprs} FROM th_c),
bands_c AS ({bands_sql})
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_band_rows, MIN(sig) AS min_sig,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bands_c) AS idx_rows_final,
       TRUE AS partial_fold, TRUE AS tombstones_kept_mid,
       TRUE AS fold_complete, TRUE AS store_physically_clean
FROM bands_c
GROUP BY doc_id
"""


D14D_SQL = _index_view_sql("doc_id % 5 <> 0", 16, 2)

QUERIES["d14d_incremental_fold"] = d14d_incremental_fold
ORACLE["d14d_incremental_fold"] = D14D_SQL
