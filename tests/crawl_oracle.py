"""Oracle side of the crawl tests: the pure-Python simulator
(oracle/simulator.py) run over a generated universe, with its outputs in
the shapes the engine's readers return."""

from __future__ import annotations

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.oracle.simulator import SimResult, simulate

# the frontier columns the simulator models (it keeps a domain id where
# the engine keeps domain_hash and path_bucket)
STATE_COLS = (
    "url_fp", "url", "domain", "queue_kind", "priority", "crawl_time",
    "retry_times", "provider", "status", "parent_fp", "epoch",
)


def simulate_universe(
    data_dir: str, n_images: int, n_seeds: int, budget_scale: float = 1.0, **kw
) -> SimResult:
    """``kw``: seller_cap, asin_cap, max_epochs — as in CrawlParams."""
    return simulate(
        f"{data_dir}/images.parquet",
        datagen.seed_rows(n_images, n_seeds),
        n_images,
        budget_scale=budget_scale,
        **kw,
    )


def crawl_log(sim: SimResult) -> list[tuple]:
    """read_crawl_log rows (epoch, seq, url_fp, domain, queue_kind,
    status_code, image_id), ordered by seq."""
    return sorted(sim.crawl_log, key=lambda t: t[1])


def final_state(sim: SimResult) -> list[tuple]:
    return sorted(
        tuple(getattr(r, c) for c in STATE_COLS) for r in sim.frontier.values()
    )


def engine_final_state(frontier_df) -> list[tuple]:
    return sorted(tuple(r) for r in frontier_df.select(*STATE_COLS).collect())
