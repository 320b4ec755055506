"""Adaptive Bloom resize (epoch.BLOOM_RESIZE_AT): when the seen set
outgrows the filter's design capacity, the epoch's bloom job rebuilds at
the next power-of-two size instead of OR-ing. Results must be byte-exact
either way (the bloom is a pure pre-filter — positives are verified by an
exact anti-join), so these tests pin: the trigger actually fires under a
deliberately undersized filter, the crawl log stays identical to the
oracle simulator's, the recorded size matches the bitmap bytes on disk,
resume restores the grown size, and with the trigger out of reach the
filter keeps its size (its false-positive rate then climbs far past
design, and the exact verification must absorb it)."""

from __future__ import annotations

import shutil

import pytest

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.operators import seen as seen_ops
from scrapy_cluster_test_spark.plans import epoch as ep

from . import crawl_oracle

DATA = "/tmp/sct_bresize_data"
N = 200
# deliberately undersized: capacity = 1024 bits/shard · 2 shards / 10 b/key
# = 204 keys, far under the ~500-URL frontier this universe produces
TINY = dict(bloom_expected_total=32, bloom_shards=2)


@pytest.fixture(scope="module")
def universe(spark):
    datagen.generate_all(spark, DATA, n_images=N, n_seeds=8, budget_scale=0.2)
    return DATA


def _params(job_dir, **over):
    kw = dict(
        images_path=f"{DATA}/images.parquet",
        seeds_path=f"{DATA}/seeds.parquet",
        domains_path=f"{DATA}/domains.parquet",
        robots_path=f"{DATA}/robots.parquet",
        job_dir=job_dir,
        n_images=N,
        max_epochs=12,
    )
    kw.update(over)
    return ep.CrawlParams(**kw)


def _log(spark, job_dir):
    return [
        tuple(r)
        for r in ep.read_crawl_log(spark, job_dir).orderBy("seq").collect()
    ]


def _final_rec(job_dir):
    return ep.read_commit(job_dir, ep.last_committed_epoch(job_dir))


def _fresh(job_dir: str) -> str:
    """rm a stale dir from any previous session so no test ever compares
    against leftovers (tests must be self-contained under pytest -k)."""
    shutil.rmtree(job_dir, ignore_errors=True)
    return job_dir


@pytest.fixture(scope="module")
def oracle_log(universe):
    return crawl_oracle.crawl_log(
        crawl_oracle.simulate_universe(DATA, N, 8, budget_scale=0.2, max_epochs=12)
    )


@pytest.fixture(scope="module")
def tiny_job(spark, universe):
    d = _fresh("/tmp/sct_bresize_tiny")
    ep.run_crawl(spark, _params(d, **TINY), resume=False)
    return d


def test_resize_triggers_and_crawl_identical(spark, oracle_log, tiny_job):
    b = _log(spark, tiny_job)
    assert len(b) > 0
    assert b == oracle_log
    rec = _final_rec(tiny_job)
    m0 = ep._bloom_m_bits(_params("/tmp/x", **TINY))
    assert rec["n_frontier"] > (m0 * 2) // seen_ops.BITS_PER_KEY, (
        "universe too small to exercise the trigger — grow N"
    )
    assert rec["bloom_m_bits"] > m0, "resize never fired"
    # the committed bitmap bytes match the recorded size
    last = ep.last_committed_epoch(tiny_job)
    bm = spark.read.parquet(f"{tiny_job}/epoch={last:05d}/bloom").collect()
    assert len(bm) == 2
    assert all(len(r.bitmap) == rec["bloom_m_bits"] // 8 for r in bm)


def test_resize_under_delta_carry(spark, oracle_log):
    """compact_every=1 re-flattens the carried seen set every epoch, so the
    resize epoch's rebuild scans the old seen layers in one tail job while
    the flatten replaces them in another — the old layers may be released
    only after the tail barrier."""
    d = _fresh("/tmp/sct_bresize_delta")
    ep.run_crawl(spark, _params(d, compact_every=1, **TINY), resume=False)
    assert _log(spark, d) == oracle_log
    assert _final_rec(d)["bloom_m_bits"] > ep._bloom_m_bits(
        _params("/tmp/x", **TINY)
    )


def test_resize_survives_resume(spark, universe, tiny_job):
    d = _fresh("/tmp/sct_bresize_resume")
    p_stop = _params(d, max_epochs=4, **TINY)
    ep.run_crawl(spark, p_stop, resume=False)
    p_go = _params(d, **TINY)
    ep.run_crawl(spark, p_go, resume=True)
    assert _log(spark, d) == _log(spark, tiny_job)
    assert _final_rec(d)["bloom_m_bits"] == _final_rec(tiny_job)["bloom_m_bits"]


def test_resize_disabled_keeps_fixed_size(spark, oracle_log, monkeypatch):
    d = _fresh("/tmp/sct_bresize_off")
    monkeypatch.setattr(ep, "BLOOM_RESIZE_AT", float("inf"))
    ep.run_crawl(spark, _params(d, **TINY), resume=False)
    assert _log(spark, d) == oracle_log
    assert _final_rec("/tmp/sct_bresize_off")["bloom_m_bits"] == ep._bloom_m_bits(
        _params("/tmp/x", **TINY)
    )
