"""The concurrent post-commit tail (epoch.run_epoch): every per-epoch
job after the commit write (compaction, bloom OR-maintenance, the carry
checkpoints, child_ctx, metrics) runs from driver threads. Two contracts
pin the concurrency down:

1. output-identity — the overlap is pure latency hiding: job dirs are
   byte-identical to the serial order (SCT_SERIAL_EPOCH_TAIL=1);
2. crash-atomicity — a tail job failing means the epoch's _COMMIT is
   never published, so resume discards the partial epoch and converges
   to the uninterrupted run (the same contract the torn-write test pins
   for the commit write itself).
"""

from __future__ import annotations

import os

import pytest

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.operators import seen as seen_ops
from scrapy_cluster_test_spark.plans import epoch as ep

DATA = "/tmp/sct_tail_data"


@pytest.fixture(scope="module")
def universe(spark):
    datagen.generate_all(spark, DATA, n_images=400, n_seeds=8)
    return DATA


def _params(job_dir, **kw):
    kw.setdefault("compact_every", 3)
    return ep.CrawlParams(
        images_path=f"{DATA}/images.parquet",
        seeds_path=f"{DATA}/seeds.parquet",
        domains_path=f"{DATA}/domains.parquet",
        robots_path=f"{DATA}/robots.parquet",
        job_dir=job_dir,
        n_images=400,
        seller_cap=40,
        asin_cap=25,
        max_epochs=7,
        **kw,
    )


def _log(spark, job):
    return sorted(tuple(r) for r in ep.read_crawl_log(spark, job).collect())


def _final(spark, job):
    cols = ep.FRONTIER_COLS
    return sorted(
        tuple(r) for r in ep.read_final_frontier(spark, job).select(*cols).collect()
    )


def _metrics(spark, job):
    rows = spark.read.parquet(f"{job}/epoch=*/metrics")
    return sorted(tuple(r) for r in rows.collect())


def test_concurrent_tail_equals_serial(spark, universe, tmp_path, monkeypatch):
    """Thread-pool tail vs serial tail: same log, final frontier and
    metrics — the overlap may reorder job COMPLETION but never changes
    any job's input (each consumes only committed files or checkpointed
    relations)."""
    ser, con = str(tmp_path / "ser"), str(tmp_path / "con")
    monkeypatch.setenv("SCT_SERIAL_EPOCH_TAIL", "1")
    ep.run_crawl(spark, _params(ser))
    monkeypatch.delenv("SCT_SERIAL_EPOCH_TAIL")
    ep.run_crawl(spark, _params(con))
    assert _log(spark, con) == _log(spark, ser)
    assert _final(spark, con) == _final(spark, ser)
    assert _metrics(spark, con) == _metrics(spark, ser)


def test_pipelined_pop_equals_unpipelined(spark, universe, tmp_path, monkeypatch):
    """Epoch pipelining (SCT_PIPELINE_POP=0 turns it off): building epoch k+1's
    pop/rank inside epoch k's tail is pure latency hiding — crawl log,
    final frontier and metrics are byte-identical to the unpipelined run
    (both head paths run the same _build_popped over the same carried
    checkpoint with the same commit-record-derived hints)."""
    off, on = str(tmp_path / "off"), str(tmp_path / "on")
    monkeypatch.setenv("SCT_PIPELINE_POP", "0")
    ep.run_crawl(spark, _params(off))
    monkeypatch.delenv("SCT_PIPELINE_POP")
    fallbacks_before = ep.PREPOP_FALLBACKS
    ep.run_crawl(spark, _params(on))
    # the pipelined leg must actually pipeline: a prepop build failure
    # silently falls back to the serial rebuild (correct but slower), so
    # a regression here would otherwise be invisible (r6)
    assert ep.PREPOP_FALLBACKS == fallbacks_before
    assert _log(spark, on) == _log(spark, off)
    assert _final(spark, on) == _final(spark, off)
    assert _metrics(spark, on) == _metrics(spark, off)
    # and pipelining composes with the serial tail (prepop chains after
    # the pending carry in either tail execution order)
    ser = str(tmp_path / "ser_on")
    monkeypatch.setenv("SCT_SERIAL_EPOCH_TAIL", "1")
    ep.run_crawl(spark, _params(ser))
    monkeypatch.delenv("SCT_SERIAL_EPOCH_TAIL")
    assert _log(spark, ser) == _log(spark, off)


def test_tail_failure_aborts_epoch_uncommitted(
    spark, universe, tmp_path, monkeypatch
):
    """Kill ONE tail job (the bloom write) mid-crawl: run_crawl must
    re-raise after joining the pool, the failed epoch must have NO
    _COMMIT marker (its sibling tail outputs are invisible orphans), and
    a clean resume must converge to the uninterrupted run."""
    ref, job = str(tmp_path / "ref"), str(tmp_path / "job")
    ep.run_crawl(spark, _params(ref))

    p_short = _params(job)
    p_short.max_epochs = 3
    ep.run_crawl(spark, p_short)
    last_ok = ep.last_committed_epoch(job)

    real = seen_ops.bloom_or_new

    def _boom(*a, **kw):
        raise RuntimeError("injected tail-job failure")

    # epoch.py calls bloom_or_new through the seen module attribute, so
    # patching it reaches the tail job's closure
    monkeypatch.setattr(seen_ops, "bloom_or_new", _boom)
    with pytest.raises(RuntimeError, match="injected tail-job failure"):
        ep.run_crawl(spark, _params(job))
    monkeypatch.setattr(seen_ops, "bloom_or_new", real)

    # the failed epoch published nothing
    assert ep.last_committed_epoch(job) == last_ok
    assert not os.path.exists(
        os.path.join(job, f"epoch={last_ok + 1:05d}", "_COMMIT")
    )

    # resume discards the partial epoch and converges
    ep.run_crawl(spark, _params(job))
    assert _log(spark, job) == _log(spark, ref)
    assert _final(spark, job) == _final(spark, ref)
