"""One benchmark run inside a fresh Python process (its own JVM).

Started by run.py as ``python3 perfbench/worker.py <config.json>``. The
run writes raw observations to the config's ``result`` path; run.py
turns them into metrics and checks them against the oracle.

Phases, in order: set-up, one crawl, the correctness read-back of the
crawl log and seen set, the read-request mix and, in a traced run,
verification of a page sample and the catalog pass.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import sys
import time


def _setup(cfg: dict):
    """Process start → warmed SparkSession (get_spark plus one trivial
    job). ``t_launch`` is taken by the parent just before it spawned this
    process, so interpreter start and imports count."""
    t0 = time.time()
    from scrapy_cluster_test_spark.session import get_spark

    spark = get_spark("perfbench", cores=cfg["cores"], extra_conf=cfg["conf"])
    spark.range(1).count()
    t1 = time.time()
    return spark, t1 - cfg["t_launch"], t1 - t0


class _Tee(io.TextIOBase):
    """stdout copy that keeps the epoch driver's EPOCH_TIMING lines."""

    def __init__(self, out) -> None:
        self.out, self.lines = out, []

    def write(self, s: str) -> int:
        for ln in s.splitlines():
            if ln.startswith("EPOCH_TIMING "):
                self.lines.append(ln)
        return self.out.write(s)

    def flush(self) -> None:
        self.out.flush()


def _commit_times(job: str, epochs: int) -> list[float]:
    return [
        os.stat(os.path.join(job, f"epoch={e:05d}", "_COMMIT")).st_mtime
        for e in range(epochs + 1)
    ]


def _dir_usage(path: str) -> tuple[int, int]:
    n = b = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            n += 1
            b += os.path.getsize(os.path.join(dp, f))
    return n, b


def _params(cfg: dict, ep, job: str):
    w, u = cfg["w"], cfg["udir"]
    return ep.CrawlParams(
        images_path=os.path.join(u, "images.parquet"),
        seeds_path=cfg["seeds"],
        domains_path=os.path.join(u, "domains.parquet"),
        robots_path=os.path.join(u, "robots.parquet"),
        job_dir=job,
        n_images=w["n_images"],
        seller_cap=w["seller_cap"],
        asin_cap=w["asin_cap"],
        max_epochs=w["max_epochs"],
        use_bloom=True,
        commit_mode="delta",
    )


def _crawl(spark, cfg: dict, ep, tee: _Tee | None) -> dict:
    job = os.path.join(cfg["run_dir"], "job")
    p = _params(cfg, ep, job)
    ctx = contextlib.redirect_stdout(tee) if tee else contextlib.nullcontext()
    t0 = time.time()
    with ctx:
        summary = ep.run_crawl(spark, p, resume=False)
    t1 = time.time()
    commits = _commit_times(job, summary["epochs"])
    return {
        "job": job,
        "start": t0,
        "end": t1,
        "wall_s": t1 - t0,
        "urls": summary["total_fetched"],
        "epochs": summary["epochs"],
        "commits": commits,
        "epoch_s": [b - a for a, b in zip(commits, commits[1:])],
        "commit_usage": [
            _dir_usage(os.path.join(job, f"epoch={e:05d}"))
            for e in range(1, summary["epochs"] + 1)
        ],
    }


# The verification pass is short (under a second at these sizes): a first
# pass fills the cache of the sample's payload rows untimed, then it is
# repeated over the cached rows and the median (mean of two) is kept.
VERIFY_REPEATS = 2


def _verify(spark, cfg: dict) -> dict:
    """Decode + PSNR/caption/shape verification of the run's page sample
    (``verify_ids``, drawn by run.py from the oracle's crawl log)."""
    from pyspark.sql import functions as F

    from scrapy_cluster_test_spark.operators import multimodal

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    multimodal.configure_arrow_for_binary(spark)
    pick = cfg["verify_ids"]
    images = spark.read.parquet(os.path.join(cfg["verify_udir"], "images.parquet"))
    # two hash partitions per core: no single large scan split sets the time
    pages = (
        images.filter(F.col("image_id").isin(pick))
        .repartition(2 * cfg["cores"], "image_id")
        .cache()
    )
    multimodal.verify_payloads(pages).collect()
    walls = []
    for _ in range(VERIFY_REPEATS):
        t0 = time.perf_counter()
        rows = multimodal.verify_payloads(pages).collect()
        walls.append(time.perf_counter() - t0)
    wall = statistics.median(walls)
    spark.conf.set(key, prev)
    bad = [
        r.image_id
        for r in rows
        if not (r.psnr_db >= 40.0 and r.caption_ok and r.shape_ok)
    ]
    out = {"ids": sorted(r.image_id for r in rows), "wall_s": wall, "bad": bad[:10],
           "n_bad": len(bad)}
    if cfg["trace"]:
        out["bytes"] = pages.agg(F.sum(F.length("bytes"))).first()[0] or 0
    pages.unpersist()
    return out


def _request(spark, ep, qa, req: dict, job: str, cfg: dict, tokens: dict):
    from pyspark.sql import functions as F

    import inputs

    k = req["kind"]
    if k == "frontier_page":
        fr = ep.read_final_frontier(spark, job)
        page, cnt = qa.compile_query(
            fr,
            qa.QuerySpec(
                filters=[("status", "eq", req["status"]), ("priority", "lte", 0)],
                ordering=["queue_kind", "-retry_times"],
                page=req["page"],
                per_page=inputs.PER_PAGE,
            ),
            tiebreak="url_fp",
        )
        rows = [list(r) for r in page.select(*inputs.FRONTIER_VIEW).collect()]
        return {"rows": rows, "count": cnt.first()[0]}
    if k == "log_page":
        page, cnt = qa.compile_query(
            ep.read_crawl_log(spark, job),
            qa.QuerySpec(
                filters=[("seq", "gte", req["lo"]), ("seq", "lte", req["hi"])],
                ordering=["seq"],
                page=req["page"],
                per_page=inputs.PER_PAGE,
            ),
        )
        rows = [list(r) for r in page.select(*inputs.LOG_COLS).collect()]
        return {"rows": rows, "count": cnt.first()[0]}
    if k == "log_agg":
        agg = (
            ep.read_crawl_log(spark, job)
            .filter(F.col("seq") <= req["hi"])
            .groupBy("status_code")
            .count()
            .collect()
        )
        return {"rows": sorted([int(r[0]), int(r[1])] for r in agg)}
    if k == "id_mint":
        page = _done_page(spark, ep, qa, job, req)
        minted = qa.with_opaque_id(
            page.select(F.col("url_fp").alias("token"), "url_fp"),
            "token", inputs.ID_SECRET, inputs.ID_NOW,
        ).collect()
        return {"ids": [r.url_fp for r in minted], "tokens": [r.token for r in minted]}
    if k == "id_resolve":
        held = tokens[req["mint"]]
        rid = qa.resolve_opaque_id(
            spark, held[req["pick"] % len(held)], inputs.ID_SECRET, inputs.ID_NOW
        )
        return {"id": rid}
    cust = spark.read.parquet(os.path.join(cfg["udir"], "customer.parquet"))
    page, cnt = qa.compile_query(
        cust,
        qa.QuerySpec(
            filters=[
                ("c_acctbal", "gte", req["min_bal"]),
                ("c_mktsegment", "isin", req["segments"]),
            ],
            ordering=["-c_acctbal"],
            page=req["page"],
            per_page=inputs.PER_PAGE,
            exclude=["c_nationkey"],
            distinct_key="c_custkey",
        ),
        tiebreak="c_custkey",
    )
    rows = [
        list(r)
        for r in page.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment").collect()
    ]
    return {"rows": rows, "count": cnt.first()[0]}


def _done_page(spark, ep, qa, job: str, req: dict):
    import inputs

    page, _ = qa.compile_query(
        ep.read_final_frontier(spark, job),
        qa.QuerySpec(
            filters=[("status", "eq", "done")],
            ordering=["url_fp"],
            page=req["page"],
            per_page=inputs.ID_PAGE,
        ),
    )
    return page


def _read_mix(spark, cfg: dict, ep, job: str, tracer) -> list[dict]:
    from scrapy_cluster_test_spark.operators import query_api as qa

    tokens: dict = {}  # id_mint request id -> the tokens it returned
    out = []
    for req in cfg["requests"]:
        span = tracer.span(f"request.{req['kind']}") if tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        with span as rec:
            try:
                resp = _request(spark, ep, qa, req, job, cfg, tokens)
                err = None
                if req["kind"] == "id_mint":
                    tokens[req["id"]] = resp["tokens"]
            except Exception as exc:  # a failed request counts as failed, the run goes on
                resp, err = None, repr(exc)[:300]
        lat = time.perf_counter() - t0
        out.append(
            {"id": req["id"], "kind": req["kind"], "lat_s": lat, "resp": resp,
             "error": err, "span": rec["id"] if rec else None}
        )
    return out


def _readback(spark, ep, job: str) -> dict:
    """Crawl log and seen set of the job dir, fetched through Arrow."""
    import inputs

    log = ep.read_crawl_log(spark, job).orderBy("seq").select(*inputs.LOG_COLS).toArrow()
    rows = list(zip(*(log.column(c).to_pylist() for c in inputs.LOG_COLS)))
    fps = ep.read_final_frontier(spark, job).select("url_fp").toArrow()
    fps = fps.column("url_fp").to_pylist()
    return {
        "log_digest": inputs.log_digest(rows),
        "seen_digest": inputs.seen_digest(fps),
        "log_rows": len(rows),
        "seen": len(fps),
    }


def _instrument(tracer) -> None:
    from scrapy_cluster_test_spark.functions import idcrypt
    from scrapy_cluster_test_spark.operators import frontier, multimodal, query_api, seen
    from scrapy_cluster_test_spark.plans import epoch
    from scrapy_cluster_test_spark.sources import fetchsim

    tracer.instrument(epoch, ["run_crawl", "run_epoch", "bootstrap", "read_crawl_log",
                              "read_final_frontier"], "epoch")
    tracer.instrument(frontier, ["robots_split", "pop_batch", "enqueue_children",
                                 "apply_fetch_outcome"], "frontier")
    tracer.instrument(seen, ["build_bloom_table_fixed", "bloom_or_new",
                             "filter_new_routed"], "seen")
    tracer.instrument(fetchsim, ["join_payload", "fetch_statuses", "discover_children"],
                      "fetchsim")
    tracer.instrument(multimodal, ["verify_payloads"], "multimodal")
    tracer.instrument(query_api, ["compile_query", "with_opaque_id", "resolve_opaque_id"],
                      "query_api")
    tracer.instrument(idcrypt, ["encrypt_id", "decrypt_id"], "idcrypt")


def main(cfg: dict) -> None:
    spark, setup_s, warm_s = _setup(cfg)
    from scrapy_cluster_test_spark.plans import epoch as ep

    marks = [("setup", time.time())]
    tracer = None
    if cfg["trace"]:
        import spans as bench_spans

        tracer = bench_spans.Tracer()
        _instrument(tracer)
    tee = _Tee(sys.stdout) if cfg["trace"] else None
    res: dict = {"setup_s": setup_s, "warm_s": warm_s}
    res["crawl"] = _crawl(spark, cfg, ep, tee)
    marks.append(("crawl", time.time()))
    job = res["crawl"]["job"]
    res["readback"] = _readback(spark, ep, job)
    marks.append(("readback", time.time()))
    res["requests"] = _read_mix(spark, cfg, ep, job, tracer)
    marks.append(("requests", time.time()))
    if cfg["trace"]:
        import catalog

        res["verify"] = _verify(spark, cfg)
        marks.append(("verify", time.time()))

        res["catalog"] = catalog.run_pass(spark, cfg["catalog_dir"])
        marks.append(("catalog", time.time()))
    spark.stop()
    marks.append(("stop", time.time()))
    res["phase_wall_s"] = {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}
    if tracer is not None:
        res["epoch_timing"] = tee.lines
        res["spans"] = tracer.spans
        res["plan_s"] = {k: tracer.total(f"{k}.") for k in ("frontier", "seen", "fetchsim")}
    with open(cfg["result"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        main(json.load(f))
