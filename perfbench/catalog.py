"""Catalog pass of the traced run: one catalog() query per module the
catalog exercises, each checked against its oracle_sql() in DuckDB with
the canonicalisation of tests/oracle_harness.py.

The ten catalog tables are generated here (numpy/pyarrow, fixed seed) in
the shapes of the TPC-H-ish test data, at roughly a third of sf0.01, and
cached under a manifest like the crawl universe.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# query -> the module its time is summed under (catalog.<module>_s)
QUERIES = {
    "tpch_q1_pricing_summary": "relational",
    "frontier_pop_budgeted": "frontier",
    "dedup_minhash_lsh": "dedupe",
    "ann_cosine_topk_lsh": "similarity",
    "text_quality_score": "textanalysis",
    "extract_product_struct": "extract",
    "mws_pricing_report_rows": "mws",
    "stream_throttle_budget": "streaming",
}
MODULES = sorted(set(QUERIES.values()))

SIZES = {"customer": 500, "supplier": 40, "part": 700, "orders": 5000,
         "lineitem": 20000, "events": 4000, "documents": 300, "embeddings": 300}
SEED = 42
FORMAT = 1

_VOCAB = ("a the key agg row scan slow fast table value part hash batch merge spark "
          "line sort window group data column join small big customer query order "
          "filter stream vector").split()
_LANGS = ("en", "zh", "es", "de", "fr")
_EVENTS = ("view", "click", "purchase", "signup", "error")


def _ts(days: np.ndarray, base: str) -> pa.Array:
    t0 = np.datetime64(base, "us")
    return pa.array(t0 + (days * 86_400_000_000).astype("timedelta64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = SIZES
    i32 = lambda a: np.asarray(a, dtype=np.int32)
    i64 = lambda a: np.asarray(a, dtype=np.int64)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": i32([k % 5 for k in range(25)]),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": i64(range(c)),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": list(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                       "MACHINERY"])[rng.integers(0, 5, c)]),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": i64(range(s)),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    adj = ("small", "red", "blue", "hot", "old", "large", "shiny", "green")
    noun = ("ring", "widget", "bolt", "gear", "plate", "rod", "nut", "valve")
    t["part"] = pa.table({
        "p_partkey": i64(range(p)),
        "p_name": [f"{adj[rng.integers(8)]} {noun[rng.integers(8)]}" for _ in range(p)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": list(np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD",
                                 "PROMO"])[rng.integers(0, 6, p)]),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": i64(range(o)),
        "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": list(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts(rng.integers(0, 2404, o), "1995-01-01"),
        "o_orderpriority": list(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, o)]),
    })
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, o, li)),
        "l_partkey": i64(rng.integers(0, p, li)),
        "l_suppkey": i64(rng.integers(0, s, li)),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": list(np.array(["R", "A", "N"])[rng.integers(0, 3, li)]),
        "l_linestatus": list(np.array(["O", "F"])[rng.integers(0, 2, li)]),
        "l_shipdate": _ts(rng.integers(1, 2500, li), "1995-01-01"),
    })
    e = n["events"]
    gaps = rng.integers(1_000_000, 600_000_000, e)
    t["events"] = pa.table({
        "event_id": i64(range(e)),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.cumsum(gaps).astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, 150, e)),
        "event_type": list(np.array(_EVENTS)[rng.integers(0, 5, e)]),
        "value": _money(rng, 0.01, 500, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = []
    for k in range(d):
        if k % 10 == 9:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB),
                                                                 int(rng.integers(8, 80)))))
    t["documents"] = pa.table({
        "doc_id": i64(range(d)),
        "text": texts,
        "lang": list(np.array(_LANGS)[rng.integers(0, 5, d)]),
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": i64([len(x) for x in texts]),
    })
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0, 0.1, (m, 64))
    t["embeddings"] = pa.table({
        "vec_id": i64(range(m)),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)],
                              type=pa.list_(pa.float32())),
        "label": i32(labels),
    })
    return t


def ensure_tables(work: str) -> str:
    manifest = {"format": FORMAT, "seed": SEED, "sizes": SIZES}
    key = hashlib.sha256(json.dumps(manifest, sort_keys=True).encode()).hexdigest()[:16]
    out = os.path.join(work, "cache", f"catalog-{key}")
    mpath = os.path.join(out, "MANIFEST.json")
    if os.path.exists(mpath):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, tbl in _tables(np.random.default_rng(SEED)).items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    return out


def run_pass(spark, sf_dir: str) -> list[dict]:
    """One pass over QUERIES: Spark time per query (to pandas, the result
    path tests/oracle_harness.compare uses) and the oracle comparison."""
    from scrapy_cluster_test_spark.plans.catalog import catalog
    from tests.oracle_harness import canonical_rows, duck_connection

    entries = catalog()
    con = duck_connection(sf_dir)
    out = []
    try:
        for name, module in QUERIES.items():
            e = entries[name]
            t0 = time.perf_counter()
            try:
                pdf = e.builder(spark, sf_dir).toPandas()
                err = None
            except Exception as exc:  # a failed query is counted, the pass goes on
                pdf, err = None, repr(exc)[:300]
            dt = time.perf_counter() - t0
            ok = False
            if pdf is not None and e.oracle:
                d = con.execute(e.oracle).df()
                ok = sorted(pdf.columns) == sorted(d.columns) and canonical_rows(
                    list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False, name=None)]
                ) == canonical_rows(
                    list(d.columns), [tuple(r) for r in d.itertuples(index=False, name=None)]
                )
            out.append({"query": name, "module": module, "s": dt, "rows": None if pdf is None
                        else len(pdf), "ok": ok, "error": err})
    finally:
        con.close()
    return out
