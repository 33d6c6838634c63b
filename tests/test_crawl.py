"""The crawl day below its gate: ``plans.crawl.crawl_day`` run on a small
slice of the sf0.001 documents against freshly seeded stores."""

import os

import pytest
from pyspark.sql import functions as F

from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
    band_index_read,
    band_index_write,
    fp_store_write,
    minhash_band_index,
)
from coronavirus_dashboard_pipeline_etl_spark.functions.text import fingerprint
from coronavirus_dashboard_pipeline_etl_spark.plans.crawl import BANDS, K, crawl_day
from coronavirus_dashboard_pipeline_etl_spark.sources import load_table
from tests.test_plans import SF


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 test tables absent")
def test_crawl_day_is_path_agnostic(spark, tmp_path):
    """The same day over stores named by plain paths and by ``file://``
    URIs yields identical rows and advances the stores identically; a
    planted re-crawl of a seed doc drops at the exact stage, and one of
    a wave-1 doc drops in wave 2."""
    docs = (
        load_table(spark, SF, "documents")
        .select("doc_id", "lang", "text")
        .filter(F.col("doc_id") < 150)
    )
    seed = docs.filter(F.col("doc_id") % 3 == 0)
    raw1 = docs.filter(F.col("doc_id") % 3 == 1)
    waves = {
        1: raw1.unionByName(
            seed.withColumn("doc_id", F.col("doc_id") + 1_000_000)
        ),
        2: docs.filter(F.col("doc_id") % 3 == 2).unionByName(
            raw1.withColumn("doc_id", F.col("doc_id") + 2_000_000)
        ),
    }

    results = {}
    for label, root in (
        ("plain", str(tmp_path / "plain")),
        ("uri", "file://" + str(tmp_path / "uri")),
    ):
        fp_path, idx_path, corpus_path = (
            f"{root}/{name}" for name in ("fps", "index", "corpus")
        )
        fp_store_write(
            seed.select(fingerprint("text").alias("fp")).distinct(),
            fp_path,
            mode="overwrite",
        )
        band_index_write(
            minhash_band_index(seed, k=K, bands=BANDS), idx_path, k=K, bands=BANDS
        )
        seed.select("doc_id", "text").write.parquet(corpus_path)
        out = crawl_day(spark, fp_path, idx_path, corpus_path, waves)
        results[label] = (
            sorted(
                tuple(r)
                for r in out.select(
                    "doc_id", "fp", "n_tokens", "pack_id", "pack_offset", "wave"
                ).collect()
            ),
            sorted(r.fp for r in spark.read.parquet(fp_path).collect()),
            sorted(tuple(r) for r in spark.read.parquet(corpus_path).collect()),
            sorted(tuple(r) for r in band_index_read(spark, idx_path).collect()),
        )

    assert results["uri"] == results["plain"]
    rows = results["plain"][0]
    assert {r[-1] for r in rows} == {1, 2}
    # planted copies of seed docs (wave 1) and of wave-1 survivors
    # (wave 2) never survive: their fingerprints are already in the state
    assert all(r[0] < 1_000_000 for r in rows)
