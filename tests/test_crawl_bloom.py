"""A crawl through the Bloom-fronted seen check reproduces the oracle
simulator byte-for-byte: the Bloom filter is a pure pre-filter (its
positives are verified by an exact anti-join)."""

from __future__ import annotations

import pytest

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.plans import epoch as ep

from . import crawl_oracle

DATA = "/tmp/sct_bloom_data"
N = 200
BUDGET_SCALE = 0.2
MAX_EPOCHS = 12


@pytest.fixture(scope="module")
def universe(spark):
    datagen.generate_all(
        spark, DATA, n_images=N, n_seeds=8, budget_scale=BUDGET_SCALE
    )
    return DATA


def test_bloom_crawl_identical(spark, universe):
    job = "/tmp/sct_bloom_jobB"
    ep.run_crawl(
        spark,
        ep.CrawlParams(
            images_path=f"{DATA}/images.parquet",
            seeds_path=f"{DATA}/seeds.parquet",
            domains_path=f"{DATA}/domains.parquet",
            robots_path=f"{DATA}/robots.parquet",
            job_dir=job,
            n_images=N,
            max_epochs=MAX_EPOCHS,
        ),
        resume=False,
    )
    sim = crawl_oracle.simulate_universe(
        DATA, N, 8, budget_scale=BUDGET_SCALE, max_epochs=MAX_EPOCHS
    )
    log = [tuple(r) for r in ep.read_crawl_log(spark, job).orderBy("seq").collect()]
    assert len(log) > 0
    assert log == crawl_oracle.crawl_log(sim)
    assert crawl_oracle.engine_final_state(
        ep.read_final_frontier(spark, job)
    ) == crawl_oracle.final_state(sim)
