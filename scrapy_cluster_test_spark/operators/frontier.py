"""Frontier operators: politeness-budgeted pop, robots gate, child enqueue.

Reference: Mongo todo collections popped FIFO on `spider_idle`
(amazon_merchant_autonomous.py:60-154), pending-flag lifecycle
(pipelines.py:429-455), retry middleware (middlewares.py:153-233).

Everything is a deterministic DataFrame transform: every window order ends
in ``url_fp`` so the result is independent of partitioning and task
scheduling (SURVEY §7 "hard parts": ties must be broken by url_fp or
distribution order leaks in).

Scale notes (10^10 frontier, 1000 executors):
* every rank runs on a NARROW projection (~40 B/row); the wide frontier
  rows re-attach through one broadcast join bounded by the popped batch;
* the per-domain budget rank is one hash window whose hot-domain task is
  bounded by salt × budget via the exact salted prefilter (auto-on when
  frontier ≫ budgets) — O(popped) past the first shuffle, never
  O(frontier);
* the global ``seq`` and child FIFO numbers come from ``bucketed_rank``:
  deterministic two-level ranking over fixed-width buckets of the dense
  FIFO counters (crawl_time / parent_seq) — no single-task window, no
  range-boundary sampling, no checkpoint barrier, epoch stays one lazy
  dataflow;
* the per-kind cap + seq run on the *post-budget* subset only (≤ Σ
  budgets rows per epoch, ~10^6 at full scale), not the 10^10 table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import crawlspec as spec

POP_ORDER = [
    "kind_rank",
    "priority",
    "crawl_time",
    "url_fp",
]


def kind_rank() -> F.Column:
    """seller before asin — the reference dispatches all sellers, then all
    asins (amazon_merchant_autonomous.py:103-151)."""
    return F.when(F.col("queue_kind") == "seller", 0).otherwise(1)


def salted_repartition(
    df: DataFrame, num_partitions: int, salt_buckets: int = 16
) -> DataFrame:
    """Hot-domain skew defense (SURVEY Q15, north rule): partition the
    fetch batch by ``(domain_hash, pmod(url_fp, S))`` so one mega-domain
    (domain 0 holds ~27% of the synthetic universe) spreads across up to
    ``salt_buckets`` partitions instead of pinning one task. Politeness
    accounting stays correct because budgets were already applied
    per-domain BEFORE this shuffle (pop_batch) — the salt only affects
    physical placement of the fetch work, never the schedule.

    Reference parallel: the multiprocess chunker re-splitting one domain's
    URLs across processes (core/.../crawl_amazon_product_listing.py:83-104).
    """
    return df.repartition(
        num_partitions,
        F.col("domain_hash"),
        F.pmod(F.col("url_fp"), F.lit(salt_buckets)),
    )


def bucketed_rank(
    df: DataFrame,
    bucket: F.Column,
    order_cols: list,
    out_col: str,
    group_cols: list | None = None,
    shared_exchange: bool = False,
    cache_registry: list | None = None,
    small: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic two-level rank over ``order_cols`` (per ``group_cols``),
    returning (ranked, per-(bucket, group) counts).

    ``small=True`` switches to ONE plain ``partitionBy(group)`` window —
    the physical strategy choice, not a semantic one: ranks are identical
    either way (the bucketed form is proven equal to the plain window by
    test_pop_batch_seq_matches_window_reference), but the two-level form
    pays ~0.5-1 s of fixed cost per call (a persist or exchange, a counts
    aggregation, two broadcast offset joins) that only amortizes on
    multi-million-row inputs, while the plain window's weakness — the
    Zipf head group landing in one task — is harmless when the whole input
    fits in one task anyway. Callers pass it when they KNOW the input is small from
    data-dependent state (the epoch driver's committed pending count, a
    catalog query's table size), never from runtime sampling, so plans
    stay deterministic across parallelism levels.

    ``bucket`` must be (a) monotone non-decreasing along the sort order —
    rows that compare lower never get a higher bucket — and (b) roughly
    balanced. Both hold for free in this engine because the leading sort
    keys are DENSE FIFO COUNTERS (crawl_time, parent seq): quantizing them
    with a fixed width gives ~width rows per bucket, no sampling pass
    required. That determinism is the point: ``repartitionByRange``
    samples boundaries per-Exchange (seeded by RDD id), so its two-level
    rank needed an eager localCheckpoint to pin one layout — a per-epoch
    materialization barrier that forced the upstream pipeline to execute
    at plan-construction time and again at the epoch action (measured:
    ~75 s of an 88 s kernel epoch was checkpoint construction). With a
    bucket that is a pure COLUMN, every subtree recomputes identically,
    so no checkpoint exists and the epoch stays one lazy dataflow.

    Two materialization strategies for the shared input (profiled at 6M
    rows, 2 vs 8 pinned cores — bench_profile_kernel.py):

    * ``shared_exchange=True`` — both the counts subtree and the final
      join re-read the WINDOW OUTPUT, whose input is one hash Exchange on
      (bucket, group); the exchanges canonicalize identically, so
      ReuseExchange materializes the upstream EXACTLY ONCE and each
      branch pays only its reduce-side sort of ≤bucket-width rows. Right
      when the caller consumes the rank through ONE subtree (the enqueue
      FIFO rank: 84s → 29s at 8 cores — the persisted shape let the two
      consumer stages race and recompute upstream partitions
      concurrently, 1.4× CPU inflation that killed N→4N efficiency).
    * default (persist) — the input is persisted (MEMORY_AND_DISK) and
      both branches read the cache. Right when the RANKED output feeds
      several independent broadcast subtrees (pop's seq/kind-offset
      broadcasts): exchange reuse does not span nested BroadcastExchange
      stage trees, so the exchange shape re-ran pop's upstream 3-4×
      (88s / 584 CPU-s vs 31s / 224 at 8 cores). The persisted handle is
      appended to ``cache_registry`` so loop callers (the epoch driver)
      can unpersist after the epoch's writes instead of leaking one
      CacheManager entry per call (r2 ADVICE item).

    Rank = local row_number within (bucket, group) + the count of the
    group's rows in all LOWER buckets (triangular broadcast join over the
    tiny counts relation)."""
    g = list(group_cols or [])
    if small:
        w_plain = W.partitionBy(*g).orderBy(*order_cols)
        ranked = df.withColumn(out_col, F.row_number().over(w_plain).cast("long"))
        counts = df.groupBy(*g).agg(F.count("*").alias("_c")).withColumn(
            "_bk", F.lit(0).cast("long")
        )
        return ranked, counts
    b = df.withColumn("_bk", bucket)
    w_local = W.partitionBy("_bk", *g).orderBy(*order_cols)
    if shared_exchange:
        loc = b.withColumn("_lrk", F.row_number().over(w_local))
        counts = loc.groupBy("_bk", *g).agg(
            F.max("_lrk").cast("long").alias("_c")
        )
    else:
        from pyspark.storagelevel import StorageLevel

        b = b.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_registry is not None:
            cache_registry.append(b)
        loc = b.withColumn("_lrk", F.row_number().over(w_local))
        counts = b.groupBy("_bk", *g).agg(F.count("*").alias("_c"))
    cond = F.col("b._bk") < F.col("a._bk")
    for c in g:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    earlier = (
        counts.alias("a")
        .join(F.broadcast(counts.alias("b")), cond, "left")
        .groupBy(
            F.col("a._bk").alias("_bk"),
            *[F.col(f"a.{c}").alias(c) for c in g],
        )
        .agg(F.coalesce(F.sum("b._c"), F.lit(0)).alias("_off"))
    )
    ranked = (
        loc.join(F.broadcast(earlier), ["_bk"] + g)
        .withColumn(out_col, (F.col("_lrk") + F.col("_off")).cast("long"))
        .drop("_bk", "_lrk", "_off")
    )
    return ranked, counts


# quantization widths for the dense-counter bucket columns: ~width rows
# land in each (bucket, group) window task, so the hot path never sorts
# more than this in one task regardless of frontier or epoch size
POP_CT_BUCKET = 1 << 16
ENQ_SEQ_BUCKET = 1 << 13


def pop_seq_bucket() -> F.Column:
    """Bucket for the popped-batch seq rank, monotone in the
    (priority, crawl_time) prefix of the pop order: priority values are
    tiny ints (retry adjust = -1), crawl_time is a dense FIFO counter.

    Bounds (monotonicity breaks outside them, so they are generous):
    |priority| < 2^20 and crawl_time < 2^56 — i.e. floor(ct / 2^16) < 2^40
    never overflows into the next priority's stripe. crawl_time is
    (epoch+1)·10^9 + rank, so the ceiling is epoch ≈ 7.2·10^7; the whole
    expression peaks at ~2^21 · 2^40 = 2^61 < 2^63 (no long overflow)."""
    return (F.col("priority").cast("long") + F.lit(1 << 20)) * F.lit(
        1 << 40
    ) + F.floor(F.col("crawl_time") / F.lit(POP_CT_BUCKET)).cast("long")


def robots_split(pending: DataFrame, robots: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split pending rows into (allowed, blocked) via a broadcast join on
    (domain, path_bucket). Reference has no robots support (SURVEY Q13);
    the north rule requires it."""
    deny = robots.filter(~F.col("allow")).select("domain", "path_bucket")
    blocked = pending.join(F.broadcast(deny), ["domain", "path_bucket"], "left_semi")
    allowed = pending.join(F.broadcast(deny), ["domain", "path_bucket"], "left_anti")
    return allowed, blocked


def pop_batch(
    allowed_pending: DataFrame,
    domains: DataFrame,
    seller_cap: int | None,
    asin_cap: int | None,
    seq_base: int,
    prefilter_salt: int | None = None,
    cache_registry: list | None = None,
    big_pop_hint: bool = False,
    small_pop_hint: bool = False,
) -> DataFrame:
    """Politeness-budgeted, deterministic frontier pop.

    1. per-domain rank over (kind, priority, crawl_time, url_fp), keep
       rank ≤ that domain's budget (Q1/Q4 politeness);
    2. per-kind global FIFO cap (the reference's 5000-seller / 2000-asin
       epoch limits, amazon_merchant_autonomous.py:81,99);
    3. global fetch sequence number ``seq`` over the popped batch
       (the crawl-order contract, Q2).

    All ranking runs on a NARROW projection (url_fp + order/group columns,
    ~40 B/row) — the wide frontier rows are re-attached by ONE broadcast
    equi-join on the unique ``url_fp`` at the end, so the frontier itself
    is never shuffled or sorted; the only full pass over wide rows is the
    scan-side probe of that join.

    ``prefilter_salt``: exact salted top-k pre-filter for the
    frontier ≫ Σbudgets regime (the 10^10 shape). Within each
    (domain, pmod(url_fp, salt)) cell a row whose CELL rank exceeds the
    domain budget cannot rank ≤ budget domain-wide (its cell alone
    out-ranks it), so dropping it is exact. This caps what the exact
    grouped rank sees at salt × budget rows per domain — O(popped), not
    O(frontier). Costs one extra narrow hash-shuffle, so the epoch driver
    enables it only when the pending frontier dwarfs the budgets.

    ``small_pop_hint``: the caller KNOWS (from data-dependent state — a
    committed pending count or a table size, never runtime sampling) that
    the input is far below the ~10^6-row regime where the two-level
    bucketed ranks pay off; both ranks run as plain windows instead.
    Ranks, and therefore pops and crawl order, are identical either way
    (test_pop_batch_seq_matches_window_reference) — this is the same
    class of stats-driven physical choice as broadcast vs shuffle join.
    """
    cand = allowed_pending.withColumn("kind_rank", kind_rank())

    dom_budget = F.broadcast(domains.select("domain", "budget_per_epoch"))
    budget = F.coalesce(F.col("budget_per_epoch"), F.lit(1))
    narrow = cand.select(
        "url_fp", "domain", "queue_kind", "kind_rank", "priority", "crawl_time"
    ).join(dom_budget, "domain", "left")

    if prefilter_salt:
        w_cell = W.partitionBy(
            "domain", F.pmod(F.col("url_fp"), F.lit(prefilter_salt))
        ).orderBy(*POP_ORDER)
        narrow = (
            narrow.withColumn("_lrk", F.row_number().over(w_cell))
            .filter(F.col("_lrk") <= budget)
            .drop("_lrk")
        )
        # per-domain budget rank: the salted prefilter above already
        # bounded every domain at salt × budget rows, so one plain
        # hash-shuffle window is O(popped) with no hot task.
        w_dom = W.partitionBy("domain").orderBy(*POP_ORDER)
        narrow = (
            narrow.withColumn("dom_rk", F.row_number().over(w_dom))
            .filter(F.col("dom_rk") <= budget)
            .drop("budget_per_epoch")
        )
    else:
        # fat-pop regime (no prefilter — budgets comparable to the
        # frontier, the kernel-bench shape): a plain partitionBy(domain)
        # window puts the Zipf head domain (~27% of the universe) in ONE
        # task — an Amdahl serial floor that caps N→4N scaling. Rank
        # per domain with the deterministic two-level bucketed rank
        # instead: buckets quantize the dense (kind, priority,
        # crawl_time) prefix, so the hot domain's rows spread over
        # ~|frontier|/POP_CT_BUCKET parallel window tasks and ranks are
        # IDENTICAL to the plain window (identity pinned by
        # test_pop_batch_seq_matches_window_reference).
        dom_bucket = (
            (F.shiftleft(F.col("kind_rank").cast("long"), 21)
             + F.col("priority").cast("long") + F.lit(1 << 20)) * F.lit(1 << 40)
            + F.floor(F.col("crawl_time") / F.lit(POP_CT_BUCKET)).cast("long")
        )
        narrow, _ = bucketed_rank(
            narrow,
            dom_bucket,
            POP_ORDER,
            "dom_rk",
            ["domain"],
            cache_registry=cache_registry,
            small=small_pop_hint,
        )
        narrow = narrow.filter(F.col("dom_rk") <= budget).drop("budget_per_epoch")

    # ONE grouped rank serves both the per-kind cap and the global seq:
    # within a kind the pop order is (priority, crawl_time, url_fp), and
    # the cap filter removes exactly the tail ranks, so survivors keep
    # DENSE per-kind ranks — the global sequence is then kind_rk plus the
    # popped count of all kinds dispatched earlier (sellers before asins),
    # a 2-row broadcast. The rank is deterministic two-level over dense
    # crawl_time buckets (bucketed_rank): no single-task window, no
    # sampling, no checkpoint barrier.
    narrow, kind_counts = bucketed_rank(
        narrow,
        pop_seq_bucket(),
        ["priority", "crawl_time", "url_fp"],
        "kind_rk",
        ["queue_kind"],
        cache_registry=cache_registry,
        small=small_pop_hint,
    )
    big = 1 << 40
    kind_cap = F.when(
        F.col("queue_kind") == "seller",
        seller_cap if seller_cap is not None else big,
    ).otherwise(asin_cap if asin_cap is not None else big)
    if seller_cap is not None or asin_cap is not None:
        narrow = narrow.filter(F.col("kind_rk") <= kind_cap)

    # per-kind POPPED counts = min(cap, total) — derived from the rank's
    # internal counts relation (one cheap pass over the checkpoint), NOT
    # from the ranked output, which would re-run its window+join subtree
    kcounts = (
        kind_counts.groupBy("queue_kind")
        .agg(F.sum("_c").alias("_tot"))
        .select("queue_kind", F.least(F.col("_tot"), kind_cap.cast("long")).alias("_n"))
    )

    def _krank(side: str) -> F.Column:
        return F.when(F.col(f"{side}.queue_kind") == "seller", 0).otherwise(1)

    koff = (
        kcounts.alias("a")
        .join(F.broadcast(kcounts.alias("b")), _krank("b") < _krank("a"), "left")
        .groupBy(F.col("a.queue_kind").alias("queue_kind"))
        .agg(F.coalesce(F.sum("b._n"), F.lit(0)).alias("_koff"))
    )
    seqs = (
        narrow.join(F.broadcast(koff), "queue_kind")
        .select(
            "url_fp",
            (F.col("kind_rk") + F.col("_koff") + F.lit(seq_base))
            .cast("long")
            .alias("seq"),
        )
    )
    # Re-attach the wide rows. Two regimes:
    # * capped pop (production: per-kind caps or the salted prefilter
    #   bound seqs at ~10^4-10^5 rows) → BROADCAST seqs: the 10^10-row
    #   wide side is scanned in place (hash-probe pushdown), never
    #   shuffled or sorted.
    # * fat pop (uncapped kernel epochs — seqs ~ frontier/2 — or a capped
    #   epoch whose caller KNOWS the pop will be large, signalled via
    #   ``big_pop_hint``; the epoch driver derives the hint from the
    #   previous commit's popped count, a data-dependent and therefore
    #   parallelism-independent signal) → SHUFFLE_HASH: a broadcast build
    #   of an N-row hash relation is single-threaded driver work LINEAR
    #   in the popped batch (~7 µs/row — 35 s at 5M pops, measured as the
    #   dominant non-scaling term of the N→4N kernel bench; still ~1.5 s
    #   of serial per-epoch cost at the 200k-pop fat-sched shape), while
    #   the shuffle join moves both sides in parallel and builds
    #   per-partition maps on every core. Join OUTPUT is identical either
    #   way, so crawl logs stay byte-exact across the strategy switch.
    if (seller_cap is None and asin_cap is None and not prefilter_salt) or big_pop_hint:
        return cand.drop("kind_rank").join(seqs.hint("SHUFFLE_HASH"), "url_fp")
    return cand.drop("kind_rank").join(F.broadcast(seqs), "url_fp")


def apply_fetch_outcome(popped_fetched: DataFrame, epoch: int) -> DataFrame:
    """Post-fetch state transition for popped rows (Q6/K4):

    * 200 → done
    * retryable {404,429,503,520} with retry_times < 2 → stays pending,
      retry_times+1, priority += RETRY_PRIORITY_ADJUST (retries sort first
      next epoch — Q7), provider flips from the 2nd retry on
      (middlewares.py:182-206)
    * retryable with retries exhausted → failed
    """
    retryable = F.col("status_code").isin(*spec.RETRY_STATUS)
    can_retry = retryable & (F.col("retry_times") < spec.RETRY_TIMES_MAX)
    flip = F.when(F.col("provider") == "crawlera", "proxycrawl").otherwise("crawlera")
    return (
        popped_fetched.withColumn(
            "status",
            F.when(F.col("status_code") == 200, "done")
            .when(can_retry, "pending")
            .otherwise("failed"),
        )
        .withColumn(
            "provider",
            F.when(can_retry & (F.col("retry_times") >= 1), flip).otherwise(
                F.col("provider")
            ),
        )
        .withColumn(
            "priority",
            F.when(
                can_retry, F.col("priority") + spec.RETRY_PRIORITY_ADJUST
            ).otherwise(F.col("priority")),
        )
        .withColumn(
            "retry_times",
            F.when(can_retry, F.col("retry_times") + 1).otherwise(
                F.col("retry_times")
            ),
        )
        .withColumn("epoch", F.lit(epoch))
    )


def enqueue_children(
    children: DataFrame,
    epoch: int,
    small_hint: bool = False,
) -> DataFrame:
    """Turn discovered child URLs into new frontier rows.

    ``children`` must already exclude every fp in the URL-seen set (J1/D7;
    `$setOnInsert` idempotence K2/D6) — that decision is
    seen.filter_new_routed's. Here:

    * first-wins dedup within the epoch by fp, winner = lowest
      (parent_seq, child_k) — the reference's insertion-ordered
      `dict.fromkeys` dedup (D2);
    * crawl_time = (epoch+1)·10⁹ + enqueue rank over (parent_seq, child_k)
      — the FIFO position a sequential crawler would assign.

    ``children`` needs columns: url, url_fp, domain, domain_hash,
    queue_kind, path_bucket, parent_fp, parent_seq, child_k.
    """
    w_first = W.partitionBy("url_fp").orderBy("parent_seq", "child_k")
    fresh = (
        children.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # (parent_seq, child_k) is unique per surviving child, so the
    # two-level rank reproduces the sequential FIFO numbering exactly.
    # parent_seq is dense (the popped batch's seq), so quantizing it gives
    # balanced deterministic buckets — bucketed_rank then needs no
    # checkpoint, and the expensive child-discovery pipeline upstream runs
    # ONCE: the rank's two branches share one reused hash Exchange
    # (shared_exchange=True — single consumer chain, the shape profiling
    # showed 3× faster at 8 cores than the persisted input, see
    # bucketed_rank docstring).
    base = (epoch + 1) * 1_000_000_000
    # ``small_hint``: stats-driven physical choice (same contract as
    # pop_batch's small_pop_hint) — the caller knows from data-dependent
    # state that this epoch's children are far below the regime where the
    # two-level rank's ~1 s of fixed cost pays off; ranks are identical
    # either way (bucketed_rank docstring).
    fresh, _ = bucketed_rank(
        fresh,
        F.floor(F.col("parent_seq") / F.lit(ENQ_SEQ_BUCKET)).cast("long"),
        ["parent_seq", "child_k"],
        "_enq_rk",
        shared_exchange=True,
        small=small_hint,
    )
    return fresh.select(
        "url",
        "url_fp",
        "domain",
        "domain_hash",
        "queue_kind",
        F.lit(0).alias("priority"),
        (F.col("_enq_rk") + F.lit(base - 1).cast("long")).alias("crawl_time"),
        F.lit(0).alias("retry_times"),
        F.lit("crawlera").alias("provider"),
        F.lit("pending").alias("status"),
        "path_bucket",
        "parent_fp",
        F.lit(epoch).alias("epoch"),
    )
