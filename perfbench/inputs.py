"""Workload definitions and seeded input generation for the crawl-engine
benchmark.

Everything a run consumes is a pure function of (workload, seed):

* the crawl universe (images/domains/robots parquet) depends only on the
  workload's generation parameters and is cached under a manifest of all
  of them, so a changed parameter can never reuse a stale universe;
* the seed-URL list is drawn from the workload seed and written as
  ``seeds.parquet`` in the engine's SEEDS schema; the same list goes to
  the oracle simulator;
* the read-request mix is drawn from the workload seed.

Only the pure-Python parts of the package are imported here (crawlspec,
urlkit mirrors, the oracle simulator); no SparkSession is created in this
process.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import pickle
import random
import shutil
import subprocess

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import procs

# Crawl shapes. Enough seeds that the politeness budgets and the seed
# count, not the seed draw, bound the pops: the work per run is then
# nearly independent of the seed. Every crawl is a single epoch.
#
# crawl_thin: small real-payload universe, reference caps 5000/2000 and
#   budget x1: the epoch pops ~1.7k URLs, so the per-epoch fixed cost
#   (planning, checkpoint, commit IO, Bloom rewrite) is nearly all of it.
#   Its traced run verifies fetched pages (the only payload decode).
# crawl_fat: Lite-payload universe (stub bytes, same crawl semantics),
#   50k seeds, budgets x50 and caps lifted: the epoch pops ~46k URLs and
#   enqueues ~180k new ones, so the per-URL dataflow (rank, payload join,
#   fan-out, Bloom probe, exact anti-join, shuffle) is as large a share
#   of the epoch as the run budget allows (about a fifth, perfbench/README.md). Lite pages cannot be decoded,
#   so its traced run verifies a sample of crawl_thin's universe instead.
WORKLOADS: dict[str, dict] = {
    "crawl_thin": {
        "n_images": 4000,
        "lite": False,
        "budget_scale": 1.0,
        "n_seeds": 2000,
        "seller_cap": 5000,
        "asin_cap": 2000,
        "max_epochs": 1,
        "verify_pages": 800,
        "requests": 6,
    },
    "crawl_fat": {
        "n_images": 150000,
        "lite": True,
        "budget_scale": 50.0,
        "n_seeds": 50000,
        "seller_cap": 10_000_000,
        "asin_cap": 10_000_000,
        "max_epochs": 1,
        "verify_pages": 800,
        "requests": 6,
    },
}

# Tiny sizes for the smoke test: every stage runs, nothing is measured.
SMOKE: dict[str, dict] = {
    name: {
        **w,
        "n_images": 400,
        "n_seeds": 40,
        "max_epochs": 1,
        "verify_pages": 50,
        "requests": 6,
    }
    for name, w in WORKLOADS.items()
}

# Generation parameters of the crawl universe (the manifest). The
# generator's own seed is fixed (crawlspec.SEED); the universe therefore
# does not depend on the workload seed, only the seed list does.
_UNIVERSE_KEYS = ("n_images", "budget_scale", "lite")
# Parameters the crawl result depends on (the oracle cache key).
_CRAWL_KEYS = _UNIVERSE_KEYS + ("n_seeds", "seller_cap", "asin_cap", "max_epochs")
UNIVERSE_FORMAT = 2

CUSTOMER_ROWS = 15000  # the sf0.1 customer cardinality
CUSTOMER_SEED = 42
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

# Opaque-id secret and the mint/resolve clock (logical, never wall time).
ID_SECRET = b"perfbench-opaque-id-secret-32byt"
ID_NOW = 1_700_000_000


def universe_manifest(w: dict) -> dict:
    return {"format": UNIVERSE_FORMAT, **{k: w[k] for k in _UNIVERSE_KEYS}}


def _manifest_key(manifest: dict) -> str:
    blob = json.dumps(manifest, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


_GEN = r"""
from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.session import get_spark
spark = get_spark("perfbench-gen", cores={cores}, extra_conf={conf!r})
datagen.generate_all(spark, {out!r}, n_images={n_images}, n_seeds=1,
                     budget_scale={budget_scale}, lite={lite})
spark.stop()
print("GEN-OK")
"""


def ensure_universe(work: str, w: dict, env: dict, cores: int, conf: dict) -> str:
    """Universe dir for ``w``, generated in a subprocess unless a complete
    universe with the identical manifest is cached. A universe is complete
    only once its manifest is written, which happens last."""
    manifest = universe_manifest(w)
    udir = os.path.join(work, "cache", f"universe-{_manifest_key(manifest)}")
    mpath = os.path.join(udir, "MANIFEST.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            if json.load(f) == manifest:
                return udir
    shutil.rmtree(udir, ignore_errors=True)
    os.makedirs(udir)
    code = _GEN.format(
        cores=cores, conf=conf, out=udir,
        n_images=w["n_images"], budget_scale=w["budget_scale"], lite=w["lite"],
    )
    log = os.path.join(work, "gen.log")
    proc = procs.spawn(["-c", code], env, udir, log)
    try:
        # the URL table needs only n_images: build it while Spark generates
        _write_url_memo(os.path.join(udir, URL_MEMO), w["n_images"])
        proc.wait(timeout=850)
    except subprocess.TimeoutExpired:
        pass
    finally:
        procs.stop_group(proc)
    with open(log, errors="replace") as f:
        out = f.read()
    if proc.returncode != 0 or "GEN-OK" not in out:
        raise procs.BenchError(f"universe generation failed:\n{out[-3000:]}")
    _write_customer(os.path.join(udir, "customer.parquet"))
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    return udir


def _write_customer(path: str) -> None:
    """A customer table in the sf0.1 shape (c_custkey, c_name, c_nationkey,
    c_acctbal, c_mktsegment) for the seller-database page requests."""
    rng = np.random.default_rng(CUSTOMER_SEED)
    n = CUSTOMER_ROWS
    keys = np.arange(n, dtype=np.int64)
    tbl = pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
        }
    )
    pq.write_table(tbl, path)


URL_MEMO = "url_memo.pkl"


def _write_url_memo(path: str, n_images: int) -> None:
    """The oracle's URL functions evaluated once over the universe's whole
    URL space (every page of both kinds, every domain): canonical form and
    fingerprint of each page URL, hash of each domain. Computed with the
    same pure-Python functions the simulator calls."""
    from scrapy_cluster_test_spark import crawlspec as spec
    from scrapy_cluster_test_spark.functions.urlkit import (
        py_canonicalize, py_domain_hash, py_url_fingerprint)

    canon, fp = {}, {}
    for kind in ("seller", "asin"):
        for j in range(n_images):
            u = spec.page_url(kind, j)
            c = canon[u] = py_canonicalize(u)
            fp[c] = py_url_fingerprint(c)
    dom = {spec.domain_name(d): py_domain_hash(spec.domain_name(d))
           for d in range(spec.N_DOMAINS)}
    with open(path, "wb") as f:
        pickle.dump({"canon": canon, "fp": fp, "domain": dom}, f)


@contextlib.contextmanager
def _memoized_urlkit(udir: str):
    """Serve the simulator's URL-function calls from the universe's memo.
    Results are identical (the memo holds the functions' own outputs; a
    URL outside it falls through to the function); the simulator's run
    time drops from ~18 s to ~5 s at crawl_fat's size."""
    from scrapy_cluster_test_spark.oracle import simulator

    with open(os.path.join(udir, URL_MEMO), "rb") as f:
        memo = pickle.load(f)
    names = {"py_canonicalize": "canon", "py_url_fingerprint": "fp",
             "py_domain_hash": "domain"}
    orig = {n: getattr(simulator, n) for n in names}
    for n, k in names.items():
        table, fn = memo[k], orig[n]
        setattr(simulator, n,
                lambda x, table=table, fn=fn: table[x] if x in table else fn(x))
    try:
        yield
    finally:
        for n, fn in orig.items():
            setattr(simulator, n, fn)


def seed_list(w: dict, seed: int) -> list[tuple[str, str, int]]:
    """``n_seeds`` distinct pages drawn by the workload seed, each as a
    seller or asin URL; crawl_time is the FIFO position in the list."""
    from scrapy_cluster_test_spark import crawlspec as spec

    rng = np.random.default_rng(seed)
    idx = rng.choice(w["n_images"], size=w["n_seeds"], replace=False)
    kinds = rng.integers(0, 2, w["n_seeds"])
    return [
        (spec.page_url("asin" if k else "seller", int(j)), "asin" if k else "seller", pos)
        for pos, (j, k) in enumerate(zip(idx, kinds))
    ]


def write_seeds(path: str, seeds: list[tuple[str, str, int]]) -> None:
    schema = pa.schema(
        [
            pa.field("url", pa.string(), nullable=False),
            pa.field("queue_kind", pa.string(), nullable=False),
            pa.field("crawl_time", pa.int64(), nullable=False),
        ]
    )
    cols = list(zip(*seeds))
    pq.write_table(
        pa.table([list(cols[0]), list(cols[1]), list(cols[2])], schema=schema),
        path,
    )


# ---------------------------------------------------------------------------
# Crawl oracle
# ---------------------------------------------------------------------------

LOG_COLS = ("epoch", "seq", "url_fp", "domain", "queue_kind", "status_code", "image_id")
FRONTIER_VIEW = ("url_fp", "domain", "queue_kind", "priority", "retry_times", "provider", "status")


def log_digest(rows) -> str:
    """Digest of the crawl log as (epoch, seq, fp, domain, kind, status,
    image) tuples in seq order — the byte-exact crawl-order contract."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
        h.update(b"\n")
    return h.hexdigest()


def seen_digest(fps) -> str:
    h = hashlib.sha256()
    for fp in sorted(int(x) for x in fps):
        h.update(b"%d\n" % fp)
    return h.hexdigest()


def oracle(work: str, udir: str, w: dict, name: str, seed: int) -> dict:
    """Oracle digests plus the final frontier and crawl log (for the read
    requests), cached per (workload parameters, seed). The simulator is
    the single-threaded pure-Python reference, independent of Spark."""
    key = _manifest_key({"crawl": {k: w[k] for k in _CRAWL_KEYS}, "seed": seed})
    cdir = os.path.join(work, "cache", "oracle", f"{name}-s{seed}-{key}")
    done = os.path.join(cdir, "DIGESTS.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f) | {"dir": cdir}
    from scrapy_cluster_test_spark.oracle import simulator

    with _memoized_urlkit(udir):
        sim = simulator.simulate(
            os.path.join(udir, "images.parquet"),
            seed_list(w, seed),
            w["n_images"],
            seller_cap=w["seller_cap"],
            asin_cap=w["asin_cap"],
            max_epochs=w["max_epochs"],
            budget_scale=w["budget_scale"],
        )
    shutil.rmtree(cdir, ignore_errors=True)
    os.makedirs(cdir)
    log = sorted(sim.crawl_log, key=lambda t: t[1])
    pq.write_table(
        pa.table({c: [t[i] for t in log] for i, c in enumerate(LOG_COLS)}),
        os.path.join(cdir, "log.parquet"),
    )
    rows = list(sim.frontier.values())
    pq.write_table(
        pa.table({c: [getattr(r, c) for r in rows] for c in FRONTIER_VIEW}),
        os.path.join(cdir, "frontier.parquet"),
    )
    res = {
        "log_digest": log_digest(log),
        "seen_digest": seen_digest(sim.frontier.keys()),
        "log_rows": len(log),
        "seen": len(sim.frontier),
        "epochs": sim.epochs,
    }
    with open(done, "w") as f:
        json.dump(res, f)
    return res | {"dir": cdir}


def verify_sample(image_ids, seed: int, n: int) -> list[str]:
    """The ``n`` fetched pages verified in a run, drawn by the seed."""
    def rank(i: str) -> bytes:
        return hashlib.sha256(f"{seed}:{i}".encode()).digest()

    return sorted(sorted(set(image_ids), key=rank)[:n])


# ---------------------------------------------------------------------------
# Read-request mix
# ---------------------------------------------------------------------------

# The request sequence, repeated to the requested length. The order is
# fixed so every run meets the same cold/warm pattern (the first request
# of a kind plans and compiles cold); the seed picks the parameters.
_MIX = (
    "frontier_page",
    "customer_page",
    "log_page",
    "id_mint",
    "log_agg",
    "id_resolve",
)
_STATUSES = ("pending", "done", "failed", "robots_blocked")
PER_PAGE = 20
ID_PAGE = 5


def request_mix(n: int, seed: int, log_rows: int) -> list[dict]:
    rng = random.Random(seed * 7919 + 17)
    out = []
    for i in range(n):
        k = _MIX[i % len(_MIX)]
        r: dict = {"id": i, "kind": k}
        if k == "frontier_page":
            r["status"] = rng.choice(_STATUSES[:2])
            r["page"] = rng.randint(1, 3)
        elif k == "log_page":
            lo = rng.randint(1, max(1, log_rows - 50))
            r["lo"], r["hi"] = lo, lo + rng.randint(10, 400)
            r["page"] = rng.randint(1, 2)
        elif k == "log_agg":
            r["hi"] = rng.randint(1, max(1, log_rows))
        elif k == "id_mint":
            r["page"] = rng.randint(1, 5)
            mint = r
        elif k == "id_resolve":
            # the client presents a token from the last id_mint response
            r["mint"], r["page"] = mint["id"], mint["page"]
            r["pick"] = rng.randint(0, ID_PAGE - 1)
        elif k == "customer_page":
            r["min_bal"] = round(rng.uniform(0, 8000), 2)
            r["segments"] = sorted(rng.sample(SEGMENTS, 2))
            r["page"] = rng.randint(1, 4)
        out.append(r)
    return out



def expected_response(req: dict, ora_dir: str, udir: str) -> dict:
    """The same request evaluated in pandas over the oracle's frontier and
    crawl log, or over the customer parquet."""
    import pandas as pd

    k = req["kind"]
    if k in ("frontier_page", "id_mint", "id_resolve"):
        fr = pd.read_parquet(os.path.join(ora_dir, "frontier.parquet"))
        if k == "frontier_page":
            sel = fr[(fr.status == req["status"]) & (fr.priority <= 0)]
            sel = sel.sort_values(
                ["queue_kind", "retry_times", "url_fp"],
                ascending=[True, False, True], kind="mergesort",
            )
            off = (req["page"] - 1) * PER_PAGE
            page = sel.iloc[off: off + PER_PAGE]
            return {
                "rows": [list(map(_py, t)) for t in page[list(FRONTIER_VIEW)].itertuples(index=False)],
                "count": int(len(sel)),
            }
        sel = fr[fr.status == "done"].sort_values("url_fp", kind="mergesort")
        off = (req["page"] - 1) * ID_PAGE
        ids = [int(x) for x in sel.url_fp.iloc[off: off + ID_PAGE]]
        if k == "id_mint":
            return {"ids": ids}
        return {"id": str(ids[req["pick"] % len(ids)]) if ids else None}
    if k in ("log_page", "log_agg"):
        lg = pd.read_parquet(os.path.join(ora_dir, "log.parquet"))
        if k == "log_page":
            sel = lg[(lg.seq >= req["lo"]) & (lg.seq <= req["hi"])].sort_values("seq")
            off = (req["page"] - 1) * PER_PAGE
            page = sel.iloc[off: off + PER_PAGE]
            return {
                "rows": [list(map(_py, t)) for t in page[list(LOG_COLS)].itertuples(index=False)],
                "count": int(len(sel)),
            }
        sel = lg[lg.seq <= req["hi"]]
        agg = sel.groupby("status_code").size()
        return {"rows": sorted([int(a), int(b)] for a, b in agg.items())}
    cu = pd.read_parquet(os.path.join(udir, "customer.parquet"))
    sel = cu[(cu.c_acctbal >= req["min_bal"]) & cu.c_mktsegment.isin(req["segments"])]
    sel = sel.sort_values(["c_acctbal", "c_custkey"], ascending=[False, True], kind="mergesort")
    off = (req["page"] - 1) * PER_PAGE
    page = sel.iloc[off: off + PER_PAGE][["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]]
    return {
        "rows": [list(map(_py, t)) for t in page.itertuples(index=False)],
        "count": int(sel.c_custkey.nunique()),
    }


def _py(v):
    return v.item() if hasattr(v, "item") else v
