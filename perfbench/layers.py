"""Per-layer metrics of a traced run.

Sources: the spans the worker recorded around each module's public
functions, the Spark event log (jobs/stages/tasks attributed to epochs by
the epochs' commit times), the ``EPOCH_TIMING`` phase lines the epoch
driver prints under ``SCT_EPOCH_TIMING=1``, and the counters and files
each epoch commits to the job dir.

Per-epoch figures are medians over the run's epochs.
"""

from __future__ import annotations

import os
import statistics

import pyarrow.parquet as pq

import catalog
import spans

UNITS = {
    "process.peak_rss_mb": "MB",
    "session.warm_s": "s",
    "epoch.driver_gap_s": "s",
    "epoch.jobs": "count",
    "epoch.stages": "count",
    "epoch.tasks": "count",
    "epoch.phase_ck_s": "s",
    "epoch.phase_tail_s": "s",
    "epoch.phase_bloom_write_s": "s",
    "epoch.commit_files": "count",
    "epoch.commit_bytes": "bytes",
    "frontier.plan_s": "s",
    "seen.plan_s": "s",
    "fetchsim.plan_s": "s",
    "frontier.popped": "count",
    "frontier.pending": "count",
    "frontier.blocked": "count",
    "seen.new_urls": "count",
    "spark.task_s_per_kurl": "s/kURL",
    "spark.shuffle_bytes_per_url": "bytes/URL",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.stage_skew": "ratio",
    "multimodal.pages_per_s": "pages/s",
    "multimodal.verify_s": "s",
    "multimodal.bytes_decoded": "bytes",
    "epoch.read_frontier_s": "s",
    "epoch.read_log_s": "s",
    "query_api.compile_s": "s",
    "query_api.exec_s": "s",
    "query_api.rows_scanned_per_returned": "ratio",
    "api.files_read": "count",
    "idcrypt.mint_s": "s",
    "idcrypt.resolve_s": "s",
    **{f"catalog.{m}_s": "s" for m in catalog.MODULES},
}


def _p50(vals) -> float:
    vals = list(vals)
    return float(statistics.median(vals)) if vals else 0.0


def _phases(lines: list[str]) -> list[dict]:
    out = []
    for ln in lines:
        parts = ln.split()
        out.append({k: float(v) for k, v in (p.split("=", 1) for p in parts[2:])})
    return out


def _epoch_dir(job: str, e: int) -> str:
    return os.path.join(job, f"epoch={e:05d}")


def _committed_counters(job: str, epochs: int) -> dict:
    tot: dict[str, list[int]] = {}
    for e in range(1, epochs + 1):
        t = pq.read_table(os.path.join(_epoch_dir(job, e), "metrics")).to_pydict()
        for k, n in zip(t["metric_key"], t["n"]):
            tot.setdefault(k, []).append(int(n))
    return tot


def _read_path(res: dict, ev: dict) -> dict:
    """Read-path figures of the request mix. Rows scanned are the input
    records the requests' tasks read; files are those the requests' scans
    reported reading (both from the event log, by request time window)."""
    by_id = {s["id"]: s for s in res["spans"]}

    def under(s, root_id) -> bool:
        p = s["parent"]
        while p is not None:
            if p == root_id:
                return True
            p = by_id[p]["parent"]
        return False

    files = scanned = returned = 0
    compile_s, exec_s, mint, resolve = [], [], [], []
    for r in res["requests"]:
        resp = r["resp"] or {}
        span = by_id[r["span"]]
        ws = spans.window_stats(ev, span["start"], span["end"])
        files += ws["files_read"]
        scanned += ws["records_in"]
        # rows of a page (+1 for its count), minted ids, or one resolved id
        n_out = len(resp.get("rows", resp.get("ids", []))) + ("count" in resp)
        returned += max(1, n_out)
        c = sum(s["end"] - s["start"] for s in res["spans"]
                if s["name"] == "query_api.compile_query" and under(s, r["span"]))
        compile_s.append(c)
        exec_s.append(r["lat_s"] - c)
        if r["kind"] == "id_mint":
            mint.append(r["lat_s"])
        elif r["kind"] == "id_resolve":
            resolve.append(r["lat_s"])
    dur = lambda name: [s["end"] - s["start"] for s in res["spans"] if s["name"] == name]
    n = max(1, len(res["requests"]))
    return {
        "epoch.read_frontier_s": _p50(dur("epoch.read_final_frontier")),
        "epoch.read_log_s": _p50(dur("epoch.read_crawl_log")),
        "query_api.compile_s": _p50(compile_s),
        "query_api.exec_s": _p50(exec_s),
        "query_api.rows_scanned_per_returned": scanned / max(1, returned),
        "api.files_read": files / n,
        "idcrypt.mint_s": _p50(mint),
        "idcrypt.resolve_s": _p50(resolve),
    }


def per_layer(res: dict, evlog: str) -> tuple[dict, dict]:
    """(metrics, trace document) for a traced run."""
    ev = spans.read_event_log(evlog)
    c = res["crawl"]
    epochs = []
    for k in range(1, c["epochs"] + 1):
        ws = spans.window_stats(ev, c["commits"][k - 1], c["commits"][k])
        ws["commit_files"], ws["commit_bytes"] = c["commit_usage"][k - 1]
        ws["wall_s"] = c["epoch_s"][k - 1]
        epochs.append(ws)
    phases = _phases(res["epoch_timing"])
    urls = c["urls"]
    sp = spans.window_stats(ev, c["start"], c["end"])
    cnt = _committed_counters(c["job"], c["epochs"])
    m = {
        "process.peak_rss_mb": res["peak_rss_mb"],
        "session.warm_s": res["warm_s"],
        "epoch.driver_gap_s": _p50(e["gap_s"] for e in epochs),
        "epoch.jobs": _p50(e["jobs"] for e in epochs),
        "epoch.stages": _p50(e["stages"] for e in epochs),
        "epoch.tasks": _p50(e["tasks"] for e in epochs),
        "epoch.phase_ck_s": _p50(p["ck"] for p in phases if "ck" in p),
        "epoch.phase_tail_s": _p50(p["tail"] for p in phases if "tail" in p),
        "epoch.phase_bloom_write_s": _p50(p["bloom_write"] for p in phases if "bloom_write" in p),
        "epoch.commit_files": _p50(e["commit_files"] for e in epochs),
        "epoch.commit_bytes": _p50(e["commit_bytes"] for e in epochs),
        "frontier.plan_s": res["plan_s"]["frontier"],
        "seen.plan_s": res["plan_s"]["seen"],
        "fetchsim.plan_s": res["plan_s"]["fetchsim"],
        "frontier.popped": sum(cnt.get("pop/total", [])),
        "frontier.pending": (cnt.get("frontier/pending_after") or [0])[-1],
        "frontier.blocked": sum(cnt.get("robots/blocked", [])),
        "seen.new_urls": sum(cnt.get("push/new_urls", [])),
        "spark.task_s_per_kurl": sp["task_s"] / max(1e-9, urls / 1000.0),
        "spark.shuffle_bytes_per_url": sp["shuffle_w"] / max(1, urls),
        "spark.spill_bytes": sp["spill"],
        "spark.gc_s": sp["gc_s"],
        "spark.stage_skew": sp["skew"],
        "multimodal.pages_per_s": len(res["verify"]["ids"]) / res["verify"]["wall_s"],
        "multimodal.verify_s": res["verify"]["wall_s"],
        "multimodal.bytes_decoded": res["verify"]["bytes"],
        **_read_path(res, ev),
        **{f"catalog.{mod}_s": sum(q["s"] for q in res["catalog"] if q["module"] == mod)
           for mod in catalog.MODULES},
    }
    metrics = {k: {"value": float(m[k]), "unit": UNITS[k]} for k in UNITS}
    doc = {
        "per_layer": {k: v["value"] for k, v in metrics.items()},
        "epochs": epochs,
        "spark_by_span": spans.by_span(ev, res["spans"]),
        "epoch_phases": phases,
        "committed_counters": cnt,
        "spans": res["spans"],
        "requests": [{k: r[k] for k in ("id", "kind", "lat_s", "span")}
                     for r in res["requests"]],
        "catalog_queries": res["catalog"],
    }
    return metrics, doc
