"""Physical-plan regression tests — the properties that matter at 100 TB.

These assert the *shape* of the executed plan, not results: filters reach
the parquet scan, column pruning holds, dimension joins broadcast, and
the whole rolling family shares ONE exchange. A refactor that silently
turns these into extra shuffles or full scans fails here long before a
bench run would catch it.
"""

import pytest
from pyspark.sql import functions as F

from coronavirus_dashboard_pipeline_etl_spark.operators import change_by_sum
from coronavirus_dashboard_pipeline_etl_spark.plans.gate_queries import QUERIES

SF = "/root/testdata/sf0.001"


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark):
    plan = executed_plan(QUERIES["p2_filter_pushdown_scan"](spark, SF))
    assert "PushedFilters: [" in plan
    # (plan toString truncates the filter list — match what survives)
    assert "GreaterThan(l_quantity" in plan
    assert "l_returnflag" in plan.split("PushedFilters:")[1].splitlines()[0]
    # column pruning: the scan's column list must exclude unused columns
    scan_cols = plan.split("FileScan parquet [")[1].split("]")[0]
    assert "l_tax" not in scan_cols and "l_suppkey" not in scan_cols


def test_star_join_broadcasts_dimensions(spark):
    plan = executed_plan(QUERIES["q5_region_volume"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, (
        "nation/region dimension joins must broadcast, not shuffle"
    )
    assert "CartesianProduct" not in plan


def test_rolling_family_single_exchange(spark):
    """All derived columns for ALL metrics must ride one shuffle."""
    df = spark.range(0, 1000).select(
        F.lit("t").alias("areaType"),
        (F.col("id") % 10).cast("string").alias("areaCode"),
        F.date_format(
            F.date_add(F.lit("2021-01-01"), (F.col("id") % 100).cast("int")),
            "yyyy-MM-dd",
        ).alias("date"),
        *[(F.rand(i) * 10).alias(f"m{i}") for i in range(5)],
    )
    plan = executed_plan(change_by_sum(df, [f"m{i}" for i in range(5)]))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort ") <= 2


def test_ann_shuffle_is_candidate_sized(spark):
    """The ANN global top-k must shuffle candidates, not the corpus: the
    exchange below the window sees only mapInPandas output."""
    plan = executed_plan(QUERIES["s1_ann_cosine_topk"](spark, SF))
    # window (global top-k) sits above the python-worker stage, and the
    # corpus-side scan feeds the python stage directly without a join
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_melt_is_shuffle_free(spark):
    plan = executed_plan(QUERIES["p7_melt_lineitem"](spark, SF))
    assert "Exchange" not in plan, "melt must compile to Expand, no shuffle"
    assert "Expand" in plan


def test_rolling_rate_broadcasts_population(spark):
    """J2+A1: population dim must broadcast-join; the default (parity)
    path additionally computes the metric's global last-valid date as an
    aggregate branch — a documented second pass over the subtree."""
    plan = executed_plan(QUERIES["j2_rolling_rate_per100k"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert plan.count("orders.parquet") == 2  # main + scalar branch


def test_rolling_rate_frame_keys_single_fact_scan(spark):
    """With ``frame_keys`` the tail-rule scalars are windows over the
    key exchange: the fact table is scanned exactly once and no 1-row
    broadcast branch is planned."""
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.operators import calculate_rates
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table

    orders = load_table(spark, SF, "orders").select(
        F.col("o_custkey").alias("areaCode"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date"),
        F.col("o_totalprice").cast("double").alias("spend"),
    )
    pop = spark.createDataFrame(
        [(str(i), 1000) for i in range(10)], ["areaCode", "population"]
    )
    out = calculate_rates(
        orders,
        pop,
        rolling_rate=["spend"],
        group_keys=("areaCode",),
        frame_keys=("areaCode",),
    )
    plan = executed_plan(out)
    assert plan.count("orders.parquet") == 1, (
        "fact side scanned more than once despite per-frame scalars"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_dose_alignment_is_one_pivot_pass(spark):
    """J8: the three-way FULL OUTER alignment must be one aggregation over
    the fact table, not self-joins."""
    plan = executed_plan(QUERIES["j8_full_outer_align"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("events.parquet") == 1


def test_suppression_pipeline_single_window_exchange(spark):
    """MSOA suppression: pre-suppression, zero-group rule, change, direction
    and post-suppression must ALL ride one window exchange, never one per
    derived column or per suppression stage."""
    from coronavirus_dashboard_pipeline_etl_spark.operators import (
        suppress_by_rolling_sum,
    )

    panel = spark.range(0, 1000).select(
        (F.col("id") % 20).alias("bucket"),
        F.date_format(
            F.date_add(F.lit("2021-01-01"), (F.col("id") % 50).cast("int")),
            "yyyy-MM-dd",
        ).alias("date"),
        (F.col("id") % 3).cast("double").alias("cases"),
    )
    out = change_by_sum(
        panel, ["cases"], group_keys=("bucket",),
        min_sum_allowed=3.0, min_sum_sub=2.0,
    )
    out = suppress_by_rolling_sum(
        out, "casesRollingSum",
        ["cases", "casesChange", "casesDirection", "casesChangePercentage"],
    )
    plan = executed_plan(out)
    assert plan.count("Exchange") == 1, plan


def test_bucketed_store_groupby_is_shuffle_free(spark, tmp_path):
    """write_store_bucketed: a groupBy on the bucket keys must read the
    bucket layout instead of exchanging the fact table."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        write_store_bucketed,
    )

    long = spark.range(0, 1000).select(
        F.concat(F.lit("A"), (F.col("id") % 7).cast("string")).alias("area_code"),
        F.concat(F.lit("m"), (F.col("id") % 3).cast("string")).alias("metric"),
        F.date_format(
            F.date_add(F.lit("2021-01-01"), (F.col("id") % 50).cast("int")),
            "yyyy-MM-dd",
        ).alias("date"),
        F.lit("other").alias("partition_id"),
        F.col("id").cast("double").alias("value"),
    )
    spark.sql("DROP TABLE IF EXISTS bucketed_store_test")
    write_store_bucketed(long, "bucketed_store_test", buckets=4)
    try:
        read = spark.table("bucketed_store_test")
        agg = read.groupBy("area_code", "metric").agg(F.max("date").alias("mx"))
        plan = executed_plan(agg)
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan

        # re-running one partition must replace ONLY that partition
        # (dynamic insertInto), never drop the others
        p2 = long.withColumn("partition_id", F.lit("ltla")).limit(100)
        write_store_bucketed(p2, "bucketed_store_test", buckets=4)
        counts = {
            r["partition_id"]: r["count"]
            for r in spark.table("bucketed_store_test")
            .groupBy("partition_id")
            .count()
            .collect()
        }
        assert counts["other"] == 1000   # untouched partition survives
        assert counts["ltla"] == 100
        rerun = long.filter(F.col("area_code") == "A1").withColumn(
            "partition_id", F.lit("ltla")
        )
        write_store_bucketed(rerun, "bucketed_store_test", buckets=4)
        counts = {
            r["partition_id"]: r["count"]
            for r in spark.table("bucketed_store_test")
            .groupBy("partition_id")
            .count()
            .collect()
        }
        assert counts["other"] == 1000
        assert counts["ltla"] == rerun.count()  # partition replaced, not appended
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_store_test")


def test_salted_join_matches_plain_join(spark):
    """salted_join must be a pure physical rewrite: same rows out."""
    from coronavirus_dashboard_pipeline_etl_spark.operators import salted_join

    big = spark.range(0, 5000).select(
        # hot key: 80% of rows share key 0
        F.when(F.col("id") % 5 != 0, F.lit(0)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    got = salted_join(big, small, on=["k"], salt_buckets=8)
    exp = big.join(small, on="k")
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    # unique_cols mode: still a pure rewrite, and the salt expression
    # is a deterministic function of the named column (fully value-
    # deterministic — no monotonically_increasing_id in the plan)
    got_u = salted_join(big, small, on=["k"], salt_buckets=8, unique_cols=["v"])
    assert got_u.count() == exp.count()
    assert got_u.exceptAll(exp).count() == 0
    plan_u = got_u._jdf.queryExecution().analyzed().toString()
    assert "monotonically_increasing_id" not in plan_u, plan_u
    # default mode mixes the per-row uniquifier (r13 verdict item 5) so
    # byte-identical duplicated rows spread too
    plan_d = got._jdf.queryExecution().analyzed().toString()
    assert "monotonically_increasing_id" in plan_d, plan_d
    dup = spark.range(0, 4000).select(
        F.lit(0).alias("k"), F.lit(1).alias("v")  # one byte-identical hot key
    )
    stats: list = []
    got_dup = salted_join(dup, small, on=["k"], salt_buckets=8, stats_out=stats)
    assert got_dup.count() == 4000
    spread = stats[0].filter("k = 0").select("__salt").distinct().count()
    assert spread == 8, f"duplicated hot rows only spread to {spread} salts"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unique_cols not in big side"):
        salted_join(big, small, on=["k"], unique_cols=["nope"])


def test_composed_pipelines_exchange_budget(spark):
    """Lock in the composed pipelines' physical shape: a bounded number
    of hash exchanges, and every single-partition exchange fed by a
    partial global aggregate (one row per upstream partition — benign),
    never by raw fact rows."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.gate_queries import (
        QUERIES,
    )

    sf = "/root/testdata/sf0.001"
    budgets = {"pipe2_main_panel": 5, "pipe3_msoa": 5}
    for name, max_hash_exchanges in budgets.items():
        plan = (
            QUERIES[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = plan.count("Exchange hashpartitioning")
        assert n <= max_hash_exchanges, f"{name}: {n} hash exchanges"
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" in line:
                below = "\n".join(lines[i + 1 : i + 3])
                assert "partial_" in below, (
                    f"{name}: single-partition exchange not fed by a "
                    f"partial aggregate:\n{below}"
                )


def test_split_and_shard_plan_shapes(spark):
    """x17/x18 scale contracts: split is a pure map-side expression
    (zero exchanges); shard assignment uses exactly ONE hash exchange
    (the shard-key window) — never a global sort."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.curation import (
        assign_shards,
        split_corpus,
    )
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    split_plan = executed_plan(split_corpus(docs))
    assert "Exchange" not in split_plan

    shard_plan = executed_plan(assign_shards(docs, n_shards=8))
    assert shard_plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in shard_plan  # no global sort


def test_editdist_pairs_is_equi_join(spark):
    """d9 scale contract: the blocked pair generation must plan as an
    equi-join on (block, bucket) — never BroadcastNestedLoopJoin or a
    cartesian product, which would mean all-pairs."""
    plan = executed_plan(QUERIES["d9_editdist_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_dump_load_reload_prunes_columns(spark, tmp_path):
    """S15: reloading a dump and selecting a subset must push the
    pruned schema into the JSON scan (ReadSchema shows only what the
    query needs)."""
    from coronavirus_dashboard_pipeline_etl_spark.sources import load_table
    from coronavirus_dashboard_pipeline_etl_spark.sources.dump_load import (
        dump_table,
        load_dump,
    )

    nation = load_table(spark, SF, "nation")
    d = str(tmp_path / "dump")
    dump_table(nation, d, "public.nation", ["n_nationkey"])
    back, _ = load_dump(spark, d)
    plan = executed_plan(back.select("n_nationkey"))
    assert "n_name" not in plan.split("ReadSchema")[-1]


def test_read_store_prunes_partitions_and_columns(spark, tmp_path):
    """read_store: a partition filter must reach the scan as partition
    pruning (PartitionFilters/pushed predicate on partition_id) and a
    column projection must narrow ReadSchema."""
    from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import (
        read_store,
    )

    path = str(tmp_path / "store")
    (
        spark.range(0, 200)
        .selectExpr(
            "concat('h', id) AS hash",
            "concat('p', id % 4) AS partition_id",
            "concat('{\"value\":', id, '}') AS payload",
        )
        .write.mode("overwrite")
        .partitionBy("partition_id")
        .parquet(path)
    )
    df = read_store(spark, path, partitions=["p1"], columns=["hash"])
    plan = executed_plan(df)
    assert "partition_id" in plan  # the pruning predicate is present
    read_schema = plan.split("ReadSchema")[-1]
    assert "payload" not in read_schema  # projection narrowed the scan
    assert df.count() == 50
    assert set(r["hash"] for r in df.collect()) == {
        f"h{i}" for i in range(200) if i % 4 == 1
    }


def test_adaptive_join_probes_and_salts(spark):
    """adaptive_join: plain join on uniform keys, salted on a hot key;
    rows identical either way; the probe is deterministic."""
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.operators import (
        adaptive_join,
        probe_hot_keys,
    )

    uniform = spark.range(200).select((F.col("id") % 20).alias("k"), "id")
    skewed = spark.range(200).select(
        F.when(F.col("id") < 150, F.lit(7)).otherwise(F.col("id") % 20).alias("k"),
        "id",
    )
    dim = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))

    assert probe_hot_keys(uniform, ["k"], hot_threshold=100) == []
    assert probe_hot_keys(skewed, ["k"], hot_threshold=100) == [(7,)]
    # sampled probe still finds the hot key, deterministically
    assert probe_hot_keys(skewed, ["k"], hot_threshold=100, sample_one_in=4) == [(7,)]

    expected = sorted(
        (r["k"], r["id"], r["v"])
        for r in skewed.join(dim, "k").collect()
    )
    hot_plan = adaptive_join(skewed, dim, ["k"], hot_threshold=100)
    got = sorted((r["k"], r["id"], r["v"]) for r in hot_plan.collect())
    assert got == expected
    # path selection is visible in the plan: the skewed input joins on
    # the salt sub-key, the uniform one takes the plain join
    assert "__salt" in hot_plan._jdf.queryExecution().analyzed().toString()
    # uniform input takes the plain path and is equally correct
    plain_plan = adaptive_join(uniform, dim, ["k"], hot_threshold=100)
    assert "__salt" not in plain_plan._jdf.queryExecution().analyzed().toString()
    got_u = sorted((r["k"], r["id"], r["v"]) for r in plain_plan.collect())
    assert got_u == sorted(
        (r["k"], r["id"], r["v"]) for r in uniform.join(dim, "k").collect()
    )
