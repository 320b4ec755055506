"""pop_batch's ranks — the two-level bucketed form, the salted
prefilter and the plain-window small-input path — must reproduce the
plain global row_number reference exactly."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_pop_batch_seq_matches_window_reference(spark):
    """seq from the fused (per-kind rank + offset) composition must equal
    the plain global row_number over POP_ORDER — capped and uncapped."""
    from pyspark.sql.window import Window as W

    from scrapy_cluster_test_spark.operators.frontier import (
        POP_ORDER,
        kind_rank,
        pop_batch,
    )

    n = 5000
    fr = spark.range(n).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.xxhash64(F.col("id").cast("string")).alias("url_fp"),
        F.concat(F.lit("d"), (F.col("id") % 7)).alias("domain"),
        (F.col("id") % 7).alias("domain_hash"),
        F.when(F.col("id") % 3 == 0, "seller").otherwise("asin").alias("queue_kind"),
        (F.col("id") % 2).cast("int").alias("priority"),
        F.col("id").alias("crawl_time"),
        F.lit(0).alias("retry_times"),
        F.lit("crawlera").alias("provider"),
        F.lit("pending").alias("status"),
        F.lit(0).alias("path_bucket"),
        F.lit(None).cast("long").alias("parent_fp"),
        F.lit(0).alias("epoch"),
    )
    domains = spark.sql(
        "SELECT * FROM VALUES ('d0',400),('d1',400),('d2',400),('d3',400),"
        "('d4',400),('d5',400),('d6',400) AS t(domain, budget_per_epoch)"
    )
    for caps, salt, small in (
        ((700, 900), None, False),   # bucketed dom-rank branch (fat-pop regime)
        ((None, None), None, False),
        ((700, 900), 4, False),      # salted-prefilter + plain-window branch
        ((None, None), 4, False),
        ((700, 900), None, True),    # small_pop_hint: plain-window physical path
        ((None, None), None, True),
    ):
        popped = pop_batch(
            fr, domains, caps[0], caps[1], seq_base=100, prefilter_salt=salt,
            small_pop_hint=small,
        )
        # reference: same budget/cap filters with plain windows + global seq
        c = fr.withColumn("kind_rank", kind_rank()).join(
            F.broadcast(domains), "domain", "left"
        )
        w_dom = W.partitionBy("domain").orderBy(*POP_ORDER)
        c = c.withColumn("dom_rk", F.row_number().over(w_dom)).filter(
            F.col("dom_rk") <= F.coalesce(F.col("budget_per_epoch"), F.lit(1))
        )
        if caps[0] is not None:
            w_kind = W.partitionBy("queue_kind").orderBy(
                "priority", "crawl_time", "url_fp"
            )
            cap = F.when(F.col("queue_kind") == "seller", caps[0]).otherwise(caps[1])
            c = c.withColumn("krk", F.row_number().over(w_kind)).filter(
                F.col("krk") <= cap
            )
        ref = c.withColumn(
            "seq", F.row_number().over(W.orderBy(*POP_ORDER)) + F.lit(100)
        ).select("url_fp", "seq")
        got = popped.select("url_fp", "seq")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect())
        ), f"caps={caps} salt={salt} small={small}"
