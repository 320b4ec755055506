"""Crawl-engine benchmark: one command, run from the repository root.

    python3 perfbench/run.py --workload crawl_thin --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Each workload runs in a fresh worker process (its own JVM) at
local[nproc] with a driver heap sized to the machine. The run prints every
metric by name with its unit and sample count, then, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` records spans and the Spark
event log and reports the per-layer metrics, writing the spans to
``.perfbench/traces/``. Every output is checked against an independent
oracle; any mismatch makes the exit code non-zero.

A run always measures one crawl, whatever ``--seconds`` says: the
argument is accepted for the benchmark's calling convention only.

``--smoke`` shrinks every input to a tiny size; ``--corrupt-oracle``
replaces the oracle's crawl-log digest with a wrong one (used by smoke.py
to prove the gate catches a mismatch).

Generated universes and oracle results are cached under ``.perfbench/cache``;
everything else a run writes (job dirs, Spark local dirs, event log) lives
in ``.perfbench/run`` and is wiped before and after each run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 170.0  # every run exits well inside a 180 s limit

E2E_UNITS = {
    "setup_s": "s",
    "crawl_urls_per_s": "URLs/s",
    "epoch_p50_s": "s",
    "request_mean_ms": "ms",
}


def _root_or_exit() -> str:
    root = os.getcwd()
    pkg = os.path.join(root, "scrapy_cluster_test_spark", "plans", "epoch.py")
    if not os.path.isfile(pkg):
        print(
            f"perfbench: {root} holds no scrapy_cluster_test_spark package; "
            "run from the repository root",
            file=sys.stderr,
        )
        sys.exit(2)
    return root


def _heap() -> str:
    """Driver heap: a quarter of physical memory, between 1 and 8 GiB."""
    kib = 16 << 20
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemTotal:"):
                kib = int(ln.split()[1])
    return f"{max(1, min(8, kib // (4 << 20)))}g"


class _RssSampler(threading.Thread):
    def __init__(self, pgid: int) -> None:
        super().__init__(daemon=True)
        self.pgid, self.peak_kib = pgid, 0
        self._stop_ev = threading.Event()

    def run(self) -> None:
        while not self._stop_ev.wait(0.2):
            self.peak_kib = max(self.peak_kib, procs.group_rss_kib(self.pgid))

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()


def _tail(path: str, n: int = 3000) -> str:
    try:
        with open(path, errors="replace") as f:
            return f.read()[-n:]
    except OSError:
        return ""


def execute(name: str, seed: int, trace: bool, smoke: bool, corrupt: bool) -> dict:
    """One run of one workload: prepare inputs, run the worker, and return
    its raw result with the oracle's."""
    import inputs

    root = os.getcwd()
    sys.path.insert(0, root)  # the oracle and crawlspec run in this process
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    local = os.path.join(run_dir, "spark-local")
    evlog = os.path.join(run_dir, "eventlog")
    tmp = os.path.join(run_dir, "tmp")
    for d in (local, evlog, tmp):
        os.makedirs(d)
    cores = len(os.sched_getaffinity(0))
    host = {"nproc": cores, "loadavg": list(os.getloadavg())}
    conf = {"spark.driver.memory": _heap(), "spark.local.dir": local}
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["SPARK_LOCAL_DIRS"] = local
    env["PYSPARK_PYTHON"] = sys.executable
    # temporary files of Python and of the JVMs stay in the checkout too
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
                      "-XX:-UsePerfData"])
    )
    env.pop("SCT_EPOCH_TIMING", None)

    table = inputs.SMOKE if smoke else inputs.WORKLOADS
    w = table[name]
    udir = inputs.ensure_universe(work, w, env, cores, conf)
    seeds_path = os.path.join(run_dir, "seeds.parquet")
    inputs.write_seeds(seeds_path, inputs.seed_list(w, seed))
    ora = inputs.oracle(work, udir, w, name, seed)
    if corrupt:
        ora["log_digest"] = "0" * 64
    reqs = inputs.request_mix(w["requests"], seed, ora["log_rows"])

    wconf = dict(conf)
    catalog_dir = verify_udir = None
    verify_ids: list[str] = []
    if trace:
        import catalog

        catalog_dir = catalog.ensure_tables(work)
        # Lite pages are stubs that cannot be decoded: a Lite crawl's
        # traced run verifies a sample of crawl_thin's real-payload universe
        if w["lite"]:
            vw = table["crawl_thin"]
            verify_udir = inputs.ensure_universe(work, vw, env, cores, conf)
            pool = [f"img{i:010d}" for i in range(vw["n_images"])]
        else:
            verify_udir = udir
            pool = pq.read_table(os.path.join(ora["dir"], "log.parquet"),
                                 columns=["image_id"])["image_id"].to_pylist()
        verify_ids = inputs.verify_sample(pool, seed, w["verify_pages"])
        wconf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        env["SCT_EPOCH_TIMING"] = "1"
    cfg = {
        "name": name, "w": w, "seed": seed, "trace": trace,
        "cores": cores, "conf": wconf, "udir": udir, "seeds": seeds_path,
        "run_dir": run_dir, "requests": reqs, "catalog_dir": catalog_dir,
        "verify_udir": verify_udir, "verify_ids": verify_ids,
        "result": os.path.join(run_dir, "result.json"),
    }
    cfg_path = os.path.join(run_dir, "worker.json")
    wlog = os.path.join(run_dir, "worker.log")
    # input preparation before the launch (the first run in a checkout
    # also generates the universe) is not part of the limit
    cfg["t_launch"] = time.time()
    deadline = cfg["t_launch"] + RUN_LIMIT_S - 20.0
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    worker = procs.spawn([os.path.join(HERE, "worker.py"), cfg_path], env, run_dir, wlog)
    sampler = _RssSampler(worker.pid)
    sampler.start()
    try:
        worker.wait(timeout=max(1.0, deadline - time.time()))
        if worker.returncode != 0 or not os.path.exists(cfg["result"]):
            raise procs.BenchError(f"worker failed (exit {worker.returncode}):\n{_tail(wlog)}")
    except subprocess.TimeoutExpired as exc:
        raise procs.BenchError(f"run exceeded {RUN_LIMIT_S:.0f} s:\n{_tail(wlog)}") from exc
    finally:
        procs.stop_group(worker)
        sampler.stop()
    with open(cfg["result"]) as f:
        res = json.load(f)
    res["peak_rss_mb"] = sampler.peak_kib / 1024.0
    res["host"] = host
    out = {"res": res, "ora": ora, "w": w, "reqs": reqs, "udir": udir,
           "verify_ids": verify_ids}
    if trace:
        import layers

        out["layers"], out["trace_doc"] = layers.per_layer(res, evlog)
    shutil.rmtree(run_dir, ignore_errors=True)
    return out


def _same(a, b) -> bool:
    return json.loads(json.dumps(a)) == json.loads(json.dumps(b))


def check(run: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems): the crawl and its epochs against the
    oracle digests, verified pages, catalog queries against oracle_sql(),
    and each read response against pandas."""
    import inputs

    res, ora = run["res"], run["ora"]
    problems: list[str] = []
    crawl = res["crawl"]
    attempted = 1 + crawl["epochs"]
    failed = 0
    rb = res["readback"]
    crawl_ok = (
        rb["log_digest"] == ora["log_digest"]
        and rb["seen_digest"] == ora["seen_digest"]
        and crawl["epochs"] == ora["epochs"]
        and crawl["urls"] == ora["log_rows"]
    )
    if not crawl_ok:
        failed += attempted
        problems.append(
            f"crawl mismatch: log {rb['log_digest'][:12]} vs oracle {ora['log_digest'][:12]}, "
            f"seen {rb['seen_digest'][:12]} vs {ora['seen_digest'][:12]}, "
            f"rows {rb['log_rows']} vs {ora['log_rows']}, seen {rb['seen']} vs {ora['seen']}"
        )
    v = res.get("verify")
    if v is not None:
        want = run["verify_ids"]
        attempted += len(want)
        missing = len(set(want) ^ set(v["ids"]))
        failed += v["n_bad"] + missing
        if v["n_bad"] or missing:
            problems.append(f"verify: {v['n_bad']} bad pages {v['bad']}, "
                            f"{missing} pages differ from the expected sample")
    for q in res.get("catalog", []):
        attempted += 1
        if not q["ok"]:
            failed += 1
            problems.append(f"catalog query {q['query']}: {q['error'] or 'differs from oracle_sql'}")
    for r, req in zip(res["requests"], run["reqs"]):
        attempted += 1
        exp = inputs.expected_response(req, ora["dir"], run["udir"])
        got = r["resp"]
        if got is not None and req["kind"] == "id_mint":
            ok = got["ids"] == exp["ids"] and len(set(got["tokens"])) == len(exp["ids"]) \
                and all(got["tokens"])
        else:
            ok = got is not None and _same(got, exp)
        if not ok:
            failed += 1
            problems.append(f"request {req}: {r['error'] or 'wrong response'}")
    return attempted, failed, problems


def end_to_end(res: dict) -> dict:
    crawl = res["crawl"]
    lats = [r["lat_s"] for r in res["requests"]]
    vals = {
        "setup_s": (res["setup_s"], 1),
        "crawl_urls_per_s": (crawl["urls"] / crawl["wall_s"], 1),
        "epoch_p50_s": (statistics.median(crawl["epoch_s"]), len(crawl["epoch_s"])),
        "request_mean_ms": (1000.0 * statistics.fmean(lats), len(lats)),
    }
    return vals


def _history(work: str, name: str, w: dict, trace: bool, e2e: dict) -> dict:
    """Append this run's end-to-end figures; for a traced run return the
    overhead against the median of the untraced runs recorded so far with
    the same workload parameters."""
    path = os.path.join(work, "history.jsonl")
    past = []
    if os.path.exists(path):
        with open(path) as f:
            past = [json.loads(ln) for ln in f if ln.strip()]
    with open(path, "a") as f:
        f.write(json.dumps({"workload": name, "params": w, "trace": trace,
                            "e2e": {k: v[0] for k, v in e2e.items()}}) + "\n")
    base = [p["e2e"] for p in past
            if p["workload"] == name and p.get("params") == w and not p["trace"]
            and set(e2e) <= set(p["e2e"])]
    if not trace or not base:
        return {}
    return {
        k: e2e[k][0] / statistics.median(b[k] for b in base) - 1.0
        for k in e2e
    }


def run_one(args) -> int:
    root = _root_or_exit()
    t0 = time.time()
    try:
        run = execute(args.workload, args.seed, bool(args.trace), args.smoke,
                      args.corrupt_oracle)
    except procs.BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    res = run["res"]
    attempted, failed, problems = check(run)
    e2e = end_to_end(res)
    work = os.path.join(root, ".perfbench")
    overhead = _history(work, args.workload, run["w"], bool(args.trace), e2e)
    host = res["host"]
    print(f"workload {args.workload} seed {args.seed} nproc {host['nproc']} "
          f"loadavg {' '.join(f'{x:.2f}' for x in host['loadavg'])} "
          f"run {time.time() - t0:.1f} s")
    print("  phases: " + " ".join(f"{k} {v:.1f} s" for k, v in res["phase_wall_s"].items())
          )
    lats = [r["lat_s"] for r in res["requests"]]
    for k, (val, n) in e2e.items():
        print(f"  {k:<22} {val:>14.4f} {E2E_UNITS[k]:<8} (n={n})")
    by_kind: dict[str, list[float]] = {}
    for r in res["requests"]:
        by_kind.setdefault(r["kind"], []).append(r["lat_s"])
    print("  requests: " + " ".join(f"{k} {'/'.join(f'{x:.2f}' for x in v)}"
                                    for k, v in by_kind.items()))
    print(f"  {'request_p50_ms':<22} {1000 * statistics.median(lats):>14.4f} {'ms':<8} "
          f"(n={len(lats)})")
    print(f"  {'peak_rss_mb':<22} {res['peak_rss_mb']:>14.4f} {'MB':<8} (n=1)")
    print(f"  {'failed_op_ratio':<22} {failed / max(1, attempted):>14.4f} {'ratio':<8} "
          f"(n={attempted})")
    for p in problems:
        print(f"  FAIL {p}")
    if args.trace:
        metrics = run["layers"]
        doc = run["trace_doc"] | {
            "workload": args.workload, "seed": args.seed, "host": host,
            "end_to_end_traced": {k: v[0] for k, v in e2e.items()},
            "trace_overhead": overhead,
        }
        tdir = os.path.join(work, "traces")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, f"{args.workload}-seed{args.seed}.json")
        with open(tpath, "w") as f:
            json.dump(doc, f)
        for k, m in metrics.items():
            print(f"  {k:<34} {m['value']:>16.4f} {m['unit']}")
        for k, d in overhead.items():
            print(f"  trace overhead {k:<22} {100 * d:+.1f}%")
        print(f"  spans: {tpath}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, (v, _) in e2e.items()}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload, each in its own run.py process."""
    import inputs

    _root_or_exit()
    rc, summary = 0, {}
    for name in inputs.WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        out = subprocess.run(cmd, capture_output=True, text=True)
        sys.stdout.write(out.stdout[: out.stdout.rstrip().rfind("\n") + 1])
        sys.stderr.write(out.stderr)
        rc = rc or out.returncode
        lines = out.stdout.strip().splitlines()
        summary[name] = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    print(json.dumps(summary))
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="accepted and ignored: a run always measures one crawl")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt-oracle", action="store_true")
    args = ap.parse_args()
    import inputs

    if args.workload == "all":
        return run_all(args)
    if args.workload not in inputs.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(inputs.WORKLOADS)} or all")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
