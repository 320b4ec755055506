"""Phase-level profiling of the kernel epoch at two parallelism levels.

Each phase's PREREQUISITES are materialized (persisted + forced) OUTSIDE
the timed region, so a phase timing covers exactly its own operators.
Alongside wall time we sample the cumulative CPU of the JVM + pyspark
workers from /proc, so `util = cpu / (wall * cores)` separates serial
floors (low util at high cores) from duplicated work (high cpu).

Diagnostic only — BENCH numbers come from bench_scaling.py.

Usage: python bench_profile_kernel.py [--n-images 6000000] [--cores 2 8]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
UNIVERSE = "/tmp/sct_bench_universe"

_WORKER = r"""
import glob, json, os, sys, time
sys.path.insert(0, {repo!r})
from scrapy_cluster_test_spark.session import get_spark
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from scrapy_cluster_test_spark.operators import frontier as fr_ops
from scrapy_cluster_test_spark.sources import fetchsim
from scrapy_cluster_test_spark.functions import urlkit
from scrapy_cluster_test_spark import crawlspec as cspec
import pandas as pd

cores = {cores}
n_images = {n_images}
universe = {universe!r}
spark = get_spark(f"sct-prof-{{cores}}", cores=cores)

HZ = os.sysconf("SC_CLK_TCK")

def cluster_cpu_sec():
    total = 0
    for stat in glob.glob("/proc/[0-9]*/stat"):
        pid = stat.split("/")[2]
        try:
            with open(f"/proc/{{pid}}/cmdline", "rb") as f:
                cmd = f.read()
            if b"java" not in cmd and b"pyspark.daemon" not in cmd:
                continue
            with open(stat) as f:
                parts = f.read().split()
            total += int(parts[13]) + int(parts[14])   # utime + stime
            total += int(parts[15]) + int(parts[16])   # reaped children
        except OSError:
            continue
    return total / HZ

images = spark.read.parquet(f"{{universe}}/images.parquet")
domains = spark.read.parquet(f"{{universe}}/domains.parquet")
ids = images.select(F.substring("image_id", 4, 10).cast("long").alias("j"))
both = ids.withColumn("queue_kind", F.explode(F.array(F.lit("seller"), F.lit("asin"))))

def build(it):
    import numpy as np
    from scrapy_cluster_test_spark import crawlspec as cs
    for pdf in it:
        j = pdf["j"].to_numpy("int64")
        d = cs.domain_id_np(j)
        urls = ("https://d" + pd.Series(d).astype(str).str.zfill(4)
                + ".example.com/" + pdf["queue_kind"].reset_index(drop=True)
                + "/" + pd.Series(j).astype(str).str.zfill(10))
        yield pd.DataFrame({{"url": urls, "queue_kind": pdf["queue_kind"].to_numpy(),
                             "crawl_time": j}})
raw = both.mapInPandas(build, "url string, queue_kind string, crawl_time long")
canon = urlkit.canonicalize(F.col("url"))
fp = urlkit.url_fingerprint(canon)
dom = urlkit.domain_of(canon)
frontier = raw.select(
    canon.alias("url"), fp.alias("url_fp"), dom.alias("domain"),
    urlkit.domain_hash(dom).alias("domain_hash"), "queue_kind",
    F.lit(0).alias("priority"), "crawl_time", F.lit(0).alias("retry_times"),
    F.lit("crawlera").alias("provider"), F.lit("pending").alias("status"),
    F.pmod(fp, F.lit(cspec.N_PATH_BUCKETS)).cast("int").alias("path_bucket"),
    F.lit(None).cast("long").alias("parent_fp"), F.lit(0).alias("epoch"),
).persist(StorageLevel.MEMORY_ONLY)
frontier.count()
robots = spark.read.parquet(f"{{universe}}/robots.parquet")

def noop(df):
    df.write.mode("overwrite").format("noop").save()

def unseen(children):
    # the URL-seen anti-join the epoch driver runs before enqueue
    return children.join(frontier.select("url_fp"), "url_fp", "left_anti")

# ---- warm pass (JIT, codegen, shuffle services) --------------------------
allowed, _ = fr_ops.robots_split(frontier, robots)
warm = fr_ops.pop_batch(allowed, domains, None, None, 0).persist()
wf = fetchsim.fetch_statuses(
    fetchsim.join_payload(warm, images, prune_buckets=False)).persist()
wc = fetchsim.discover_children(wf, n_images).persist()
noop(fr_ops.apply_fetch_outcome(wf, 0).select("url_fp", "status").unionByName(
    fr_ops.enqueue_children(unseen(wc), 0).select("url_fp", "status")))
spark.catalog.clearCache()
frontier.persist(StorageLevel.MEMORY_ONLY)
frontier.count()

res = {{}}

def timed(name, fn):
    c0, t0 = cluster_cpu_sec(), time.perf_counter()
    fn()
    w, c = time.perf_counter() - t0, cluster_cpu_sec() - c0
    res[name] = {{"wall": round(w, 2), "cpu": round(c, 1),
                  "util": round(c / (w * cores), 2)}}

# ---- phase 1: pop (ranks + budget + seq + wide re-join) ------------------
allowed, _ = fr_ops.robots_split(frontier, robots)
popped = fr_ops.pop_batch(allowed, domains, None, None, 0).persist()
timed("pop", lambda: noop(popped))

# ---- phase 2: payload join + statuses (popped cached) --------------------
fetched = fetchsim.fetch_statuses(
    fetchsim.join_payload(popped, images, prune_buckets=False)).persist()
timed("payload_fetch", lambda: noop(fetched))

# ---- phase 3: child discovery (fetched cached) ---------------------------
children = fetchsim.discover_children(fetched, n_images).persist()
timed("children", lambda: noop(children))

# ---- phase 4: enqueue rank + dedup/anti-join (children cached) -----------
new_rows = fr_ops.enqueue_children(unseen(children), 0)
timed("enqueue", lambda: noop(new_rows.select("url_fp", "status")))

# ---- phase 5: outcome transition (fetched cached) ------------------------
timed("outcome", lambda: noop(
    fr_ops.apply_fetch_outcome(fetched, 0).select("url_fp", "status")))

tot_wall = sum(v["wall"] for v in res.values())
print("PROF " + json.dumps({{"cores": cores, "total_wall": round(tot_wall, 2),
                             **res}}))
spark.stop()
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=6000000)
    ap.add_argument("--cores", type=int, nargs="+", default=[2, 8])
    args = ap.parse_args()
    for cores in args.cores:
        code = _WORKER.format(
            repo=REPO, cores=cores, n_images=args.n_images, universe=UNIVERSE
        )
        env = dict(os.environ)
        env.setdefault("SPARK_DRIVER_MEMORY", "32g")  # see bench_scaling.run_level
        # same CPU pinning as bench_scaling.run_level (see comment there)
        out = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code],
            capture_output=True, text=True, timeout=3600, env=env,
        )
        for line in out.stdout.splitlines():
            if line.startswith("PROF "):
                print(line)
                break
        else:
            print(f"FAILED cores={cores}:\n{out.stdout[-1500:]}\n{out.stderr[-2000:]}")


if __name__ == "__main__":
    main()
