"""Delta (merge-on-read) commits: crawl output equal to the oracle
simulator, resume-safe, and per-epoch write volume scaling with TOUCHED
rows, not frontier size (VERDICT r1 scale-killer #4)."""

from __future__ import annotations

import glob
import os

import pytest

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.plans import epoch as ep

from . import crawl_oracle

DATA = "/tmp/sct_delta_data"
CAPS = dict(seller_cap=40, asin_cap=25)
MAX_EPOCHS = 7


@pytest.fixture(scope="module")
def universe(spark):
    datagen.generate_all(spark, DATA, n_images=400, n_seeds=8)
    return DATA


@pytest.fixture(scope="module")
def oracle(universe):
    return crawl_oracle.simulate_universe(
        DATA, 400, 8, max_epochs=MAX_EPOCHS, **CAPS
    )


def _params(job_dir, **kw):
    kw.setdefault("max_epochs", MAX_EPOCHS)
    return ep.CrawlParams(
        images_path=f"{DATA}/images.parquet",
        seeds_path=f"{DATA}/seeds.parquet",
        domains_path=f"{DATA}/domains.parquet",
        robots_path=f"{DATA}/robots.parquet",
        job_dir=job_dir,
        n_images=400,
        **CAPS,
        **kw,
    )


def _log(spark, job):
    return sorted(tuple(r) for r in ep.read_crawl_log(spark, job).collect())


def _final(spark, job):
    return crawl_oracle.engine_final_state(ep.read_final_frontier(spark, job))


def _metrics(spark, job):
    rows = spark.read.parquet(f"{job}/epoch=*/metrics")
    return sorted(tuple(r) for r in rows.collect())


def test_delta_equals_oracle(spark, oracle, tmp_path):
    dlt = str(tmp_path / "dlt")
    ep.run_crawl(spark, _params(dlt, compact_every=3))
    assert _log(spark, dlt) == crawl_oracle.crawl_log(oracle)
    assert _final(spark, dlt) == crawl_oracle.final_state(oracle)
    assert _metrics(spark, dlt) == sorted(oracle.metrics)

    # write volume: delta commits carry ONLY touched rows — well under
    # the full frontier a snapshot-per-epoch commit would rewrite
    def rows_written(job, sub):
        paths = glob.glob(f"{job}/epoch=0000[1-7]/{sub}")
        return sum(spark.read.parquet(p).count() for p in paths)

    snapshot_rows = sum(
        ep.read_commit(dlt, e)["n_frontier"] for e in range(1, MAX_EPOCHS + 1)
    )
    delta_rows = rows_written(dlt, "delta")
    assert delta_rows < snapshot_rows / 2, (delta_rows, snapshot_rows)

    # compaction snapshots exist exactly at the configured cadence
    snaps = sorted(
        int(os.path.basename(os.path.dirname(pth)).split("=")[1])
        for pth in glob.glob(f"{dlt}/epoch=*/frontier")
    )
    assert snaps == [0, 3, 6], snaps

    # bin-packing invariant: each delta layer writes AT MOST one file per
    # touched _dbucket (without the pre-write repartition, every shuffle
    # task opens its own file per bucket and the merge-on-read resolve
    # re-lists ~tasks x buckets tiny files per layer — the r4-profiled
    # delta scale-killer)
    for layer in glob.glob(f"{dlt}/epoch=*/delta"):
        buckets = glob.glob(f"{layer}/_dbucket=*")
        files = glob.glob(f"{layer}/_dbucket=*/*.parquet")
        assert buckets and len(files) <= len(buckets), (layer, len(files))


def test_delta_resume_mid_chain(spark, oracle, tmp_path):
    """Kill after a committed delta epoch (no compaction yet) → rerun
    resumes (fresh process state: the carries start empty, so the first
    epoch takes the disk resolve) and converges to the oracle."""
    part = str(tmp_path / "part")
    # stops mid delta-chain (last compaction at 3)
    ep.run_crawl(spark, _params(part, compact_every=3, max_epochs=4))
    ep.run_crawl(spark, _params(part, compact_every=3))  # resumes at epoch 4
    assert _log(spark, part) == crawl_oracle.crawl_log(oracle)
    assert _final(spark, part) == crawl_oracle.final_state(oracle)


def test_resume_compacts_long_chain(spark, oracle, tmp_path):
    """Resume-time carry warm-up (VERDICT r4 item #7): when the delta
    chain since the last compaction exceeds compact_every, resume writes
    ONE compaction snapshot up front so the first epoch's disk resolve is
    bounded by compact_every layers — and the crawl output is unchanged."""
    part = str(tmp_path / "part")
    # die at epoch 4 with NO in-run compaction (cadence larger than the
    # run) → chain base is the bootstrap snapshot, 4 delta layers deep
    ep.run_crawl(spark, _params(part, compact_every=100, max_epochs=4))
    assert ep._frontier_base_epoch(part, 4) == 0
    # resume with the normal cadence: 4 >= 3 → compaction fires at the
    # resume point before the first epoch runs
    ep.run_crawl(spark, _params(part, compact_every=3))
    assert os.path.isdir(f"{part}/epoch=00004/frontier")
    assert ep._frontier_base_epoch(part, 4) == 4
    assert not os.path.isdir(f"{part}/epoch=00004/_frontier_compact_tmp")
    assert _log(spark, part) == crawl_oracle.crawl_log(oracle)
    assert _final(spark, part) == crawl_oracle.final_state(oracle)


def test_delta_torn_write_ignored(spark, oracle, tmp_path):
    """An uncommitted (torn) delta epoch is discarded on resume."""
    job = str(tmp_path / "torn")
    ep.run_crawl(spark, _params(job, compact_every=3, max_epochs=3))
    # fake a torn epoch 4: delta dir present, no _COMMIT
    torn = f"{job}/epoch=00004/delta"
    os.makedirs(torn)
    spark.read.parquet(f"{job}/epoch=00003/delta").limit(3).write.mode(
        "overwrite"
    ).parquet(torn)
    ep.run_crawl(spark, _params(job, compact_every=3))
    assert _log(spark, job) == crawl_oracle.crawl_log(oracle)


def test_reads_need_a_committed_epoch(spark, universe, tmp_path):
    """The readers on a job dir with no committed epoch raise a clear
    FileNotFoundError; after a crawl that committed only the bootstrap
    epoch the log is empty with the log columns, and resuming that job
    dir runs its first fetch epoch."""
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    for read in (ep.read_final_frontier, ep.read_crawl_log):
        with pytest.raises(FileNotFoundError, match="no committed epoch"):
            read(spark, empty)

    job = str(tmp_path / "boot")
    assert ep.run_crawl(spark, _params(job, max_epochs=0))["epochs"] == 0
    boot_log = ep.read_crawl_log(spark, job)
    assert boot_log.columns == ep.LOG_COLS
    assert boot_log.count() == 0
    assert ep.read_final_frontier(spark, job).count() > 0  # the seeds

    ep.run_crawl(spark, _params(job, max_epochs=1))
    log = ep.read_crawl_log(spark, job)
    assert log.count() > 0
    assert log.schema.simpleString() == boot_log.schema.simpleString()


def test_delta_bucket_pruning(spark, universe, tmp_path):
    """VERDICT r2 item #5: delta files are partitioned by
    pmod(domain_hash, N_LINEAGE_BUCKETS); a bucket-scoped merge-on-read
    touches ONLY that bucket's delta partitions (checked via inputFiles)
    and returns exactly the full overlay filtered to the bucket."""
    from pyspark.sql import functions as F

    job = str(tmp_path / "bkt")
    ep.run_crawl(spark, _params(job, compact_every=100))
    last = ep.last_committed_epoch(job)
    assert last and last >= 2
    # every committed delta epoch wrote _dbucket=K subdirs only for the
    # buckets it touched
    ddirs = sorted(glob.glob(f"{job}/epoch=*/delta"))
    assert ddirs
    for d in ddirs:
        subs = sorted(os.listdir(d))
        assert all(
            s.startswith(("_dbucket=", "_", ".")) for s in subs
        ), subs

    b = int(
        os.path.basename(
            sorted(glob.glob(f"{ddirs[-1]}/_dbucket=*"))[0]
        ).split("=")[1]
    )
    scoped = ep._read_frontier_state(spark, job, last, buckets=[b])
    delta_files = [f for f in scoped.inputFiles() if "/delta/" in f]
    assert delta_files, "scoped read saw no delta files"
    assert all(f"_dbucket={b}/" in f for f in delta_files), delta_files[:5]

    full = ep._read_frontier_state(spark, job, last).filter(
        F.pmod(F.col("domain_hash"), F.lit(ep.N_LINEAGE_BUCKETS)) == b
    )
    assert sorted(tuple(r) for r in scoped.collect()) == sorted(
        tuple(r) for r in full.collect()
    )
