"""Physical-plan quality gates (SURVEY §4): the plans we'd want at 100 TB,
asserted on the actual executed plans — not assumed.

* filters reach the parquet scan (PushedFilters);
* projections prune columns (ReadSchema) — the scheduler path must never
  read the multi-KB ``bytes`` column;
* dimension joins broadcast (no shuffle for robots/domains/budget);
* the frontier pop stays whole-stage-codegen outside the window exchanges.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.operators import frontier as fr_ops
from scrapy_cluster_test_spark.sources import fetchsim, tables

from .conftest import SF_TINY

DATA = "/tmp/sct_plans_data"


@pytest.fixture(scope="module")
def universe(spark):
    datagen.generate_all(spark, DATA, n_images=60, n_seeds=6)
    return DATA


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_and_pruning(spark):
    li = tables.load(spark, SF_TINY, "lineitem")
    q = li.filter(F.col("l_shipdate") >= "1997-01-01").select("l_orderkey")
    plan = _plan(q)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]
    # ReadSchema must not include unprojected columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema


def test_sched_path_never_reads_bytes(spark, universe):
    """The scheduler's payload join must column-prune `bytes` out of the
    images scan — reading 100 TB of pixels to schedule URLs is the bug
    this test prevents."""
    images = spark.read.parquet(f"{DATA}/images.parquet")
    seeds = spark.read.parquet(f"{DATA}/seeds.parquet")
    from scrapy_cluster_test_spark.functions import urlkit

    canon = urlkit.canonicalize(F.col("url"))
    popped = seeds.select(
        canon.alias("url"),
        urlkit.url_fingerprint(canon).alias("url_fp"),
        "queue_kind",
        F.lit(0).alias("priority"),
        F.col("crawl_time"),
        F.lit(0).alias("retry_times"),
        F.lit("crawlera").alias("provider"),
        urlkit.domain_of(canon).alias("domain"),
        F.lit(1).cast("long").alias("seq"),
    )
    joined = fetchsim.join_payload(popped, images, with_bytes=False)
    plan = _plan(fetchsim.fetch_statuses(joined))
    scan_part = plan[plan.index("Scan parquet") :]
    read_schema = scan_part.split("ReadSchema:")[1].splitlines()[0]
    assert "bytes" not in read_schema, read_schema
    assert "phash" in read_schema


def test_dim_joins_broadcast(spark, universe):
    """robots + domain-budget joins must be broadcast exchanges — never a
    shuffle of the 10^10-row frontier on a dimension key."""
    robots = spark.read.parquet(f"{DATA}/robots.parquet")
    domains = spark.read.parquet(f"{DATA}/domains.parquet")
    frontier = spark.createDataFrame(
        [
            ("https://d0001.example.com/asin/0000000001", 1, "d0001.example.com",
             11, "asin", 0, 1, 0, "crawlera", "pending", 3, None, 0)
        ],
        "url string, url_fp long, domain string, domain_hash long, queue_kind string,"
        "priority int, crawl_time long, retry_times int, provider string,"
        "status string, path_bucket int, parent_fp long, epoch int",
    )
    allowed, blocked = fr_ops.robots_split(frontier, robots)
    popped = fr_ops.pop_batch(allowed, domains, 10, 10, 0)
    plan = _plan(popped)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    # dimension joins must not introduce a SortMergeJoin
    assert "SortMergeJoin" not in plan


def test_pop_uses_takeordered_or_window(spark, universe):
    """orderBy().limit() compiles to TakeOrderedAndProject (no full sort
    materialization) — the reference's `$sort + $limit` pop (SURVEY O2)."""
    ev = tables.load(spark, SF_TINY, "events")
    q = ev.orderBy("ts").limit(10)
    assert "TakeOrderedAndProject" in _plan(q)


def test_neardup_plan_has_no_cartesian(spark):
    """VERDICT r1 gate: embedding_neardup_pairs must plan as a bucket
    equi-join — no CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    from scrapy_cluster_test_spark.plans.catalog import catalog

    df = catalog()["embedding_neardup_pairs"].builder(spark, SF_TINY)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_fetch_join_partition_prunes(spark, universe):
    """VERDICT r1 scale-killer #2: the payload join must read only the
    img_bucket partitions the popped batch touches — PartitionFilters with
    an IN-set on the scan, never a full images sweep."""
    import re

    images = spark.read.parquet(f"{DATA}/images.parquet")
    seeds = spark.read.parquet(f"{DATA}/seeds.parquet")
    from scrapy_cluster_test_spark.functions import urlkit

    canon = urlkit.canonicalize(F.col("url"))
    popped = seeds.select(
        canon.alias("url"),
        urlkit.url_fingerprint(canon).alias("url_fp"),
        "queue_kind",
        F.lit(0).alias("priority"),
        F.col("crawl_time"),
        F.lit(0).alias("retry_times"),
        F.lit("crawlera").alias("provider"),
        urlkit.domain_of(canon).alias("domain"),
        F.lit(1).cast("long").alias("seq"),
    )
    joined = fetchsim.join_payload(popped, images, with_bytes=False)
    plan = _plan(joined)
    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert pf is not None, plan[:2000]
    assert re.search(r"img_bucket#\d+ IN \(", pf.group(0)), pf.group(0)


def test_pop_batch_no_single_partition_window(spark, universe):
    """VERDICT r1 scale-killer #3: seq assignment must be the two-level
    distributed rank — no Exchange SinglePartition anywhere in pop_batch
    or enqueue_children plans."""
    robots = spark.read.parquet(f"{DATA}/robots.parquet")
    domains = spark.read.parquet(f"{DATA}/domains.parquet")
    frontier = spark.createDataFrame(
        [
            ("https://d0001.example.com/asin/0000000001", 1, "d0001.example.com",
             11, "asin", 0, 1, 0, "crawlera", "pending", 3, None, 0)
        ],
        "url string, url_fp long, domain string, domain_hash long, queue_kind string,"
        "priority int, crawl_time long, retry_times int, provider string,"
        "status string, path_bucket int, parent_fp long, epoch int",
    )
    allowed, _ = fr_ops.robots_split(frontier, robots)
    popped = fr_ops.pop_batch(allowed, domains, 10, 10, 0)
    assert "SinglePartition" not in _plan(popped), _plan(popped)[:3000]

    children = spark.createDataFrame(
        [("https://d0001.example.com/asin/0000000002", 2, "d0001.example.com",
          11, "asin", 5, 1, 1, 0)],
        "url string, url_fp long, domain string, domain_hash long,"
        "queue_kind string, path_bucket int, parent_fp long, parent_seq long,"
        "child_k int",
    )
    enq = fr_ops.enqueue_children(children, 0)
    assert "SinglePartition" not in _plan(enq), _plan(enq)[:3000]


def test_ann_lsh_plan_has_no_cartesian(spark):
    """VERDICT r2 item #4: the registered ANN query must plan as a bucket
    equi-join — no CartesianProduct / BroadcastNestedLoopJoin anywhere
    (the O(N^2) shape lives only in the unregistered exact baseline)."""
    from scrapy_cluster_test_spark.plans.catalog import catalog

    df = catalog()["ann_cosine_topk_lsh"].builder(spark, SF_TINY)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
