"""The crawl-frontier round loop (SURVEY §3.4 engine lifecycle).

The reference is a sequential single-generation loop over a seed list
(main.py:79-127).  The engine generalizes it into batch ROUNDS over a
frontier DataFrame, each round = ``round_seconds`` of virtual wall time:

  1. candidates = pending ∧ not_before ≤ now          (retry gating, P4)
  2. unseen    = bloom-prefilter + exact anti-join     (§2.6, J3)
  3. policy    = broadcast host_policy + robots gate   (J5, P7)
  4. quota     = per-host window rank → politeness cut (P1-P3, A4)
  5. salted host repartition                           (P10)
  6. fetch     = join vs pages table (sandbox) / HTTP  (S5)
  7. extract   = one-pass Arrow-batched UDF            (E1-E8)
  8. commit    = pages+seen+frontier+metrics snapshot  (K4)
                 (store write + read-back, or local checkpoints
                 without a store), then the bloom top-up

``max_depth=0`` reproduces the reference exactly: the URL set processed is
the seed list in seed order per host (P8 parity — SURVEY §3.4).  Depth>0
enables frontier expansion with OPIC-style score splitting, which the
reference never does (its extract_links output is stored, never enqueued).

Determinism contract (SURVEY §7.4): every keep-first / rank uses explicit
order keys (score desc, seed_index asc, url_key asc) — never partition
order.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StringType

from frontier_engine import seen as seenmod
from frontier_engine.canonicalize import host_col, path_template_col, surt_key_udf, valid_url_col
from frontier_engine.extract import content_hash_col, with_extractions
from frontier_engine.fetch import fetch_via_pages_table
from frontier_engine.metrics import round_metrics
from frontier_engine.politeness import (
    join_host_policy,
    rank_and_quota,
    robots_blocked_col,
    salted_repartition,
)
from frontier_engine.session import run_concurrently
from frontier_engine.storage import SnapshotStore


@dataclass
class CrawlConfig:
    max_depth: int = 0  # 0 = reference parity (no enqueue of discovered links)
    round_seconds: float = 60.0
    max_rounds: int = 1000
    use_bloom: bool = False
    bloom_shards: int = 64
    max_per_host_per_round: int | None = None
    honor_robots: bool = False  # reference never does (P7); engine can
    salt_buckets: int = 8
    n_partitions: int = 32
    checkpoint_dir: str | None = None
    bloom_bits_per_shard: int = 1 << 20  # 128 KiB/shard ≈ 100k keys at 1% fp
    # mid-crawl sitemap discovery (sitemaps.py): auto-enqueue each seed
    # host's /robots.txt (score ROBOTS_FETCH_SCORE so it wins an early
    # politeness slot), parse fetched robots/sitemap bodies every round,
    # and enqueue what they advertise — child sitemaps at
    # SITEMAP_FETCH_SCORE, content URLs at their declared priority — the
    # production chain robots → sitemapindex → urlset → pages running
    # through the normal frontier (politeness budget, seen gate and all).
    # Orthogonal to max_depth: sitemap entries are seed advertisements,
    # not link discovery.  Default off ⇒ byte-identical parity (P8).
    discover_sitemaps: bool = False
    # mid-crawl robots POLICY learning (the sibling of discover_sitemaps):
    # auto-enqueue each seed host's /robots.txt, parse fetched bodies with
    # politeness.parse_robots_policy every round, and merge the learned
    # (robots_rules, crawl_delay) rows into the working host policy —
    # fresher rows replace a passed-in host_policy row for that host.
    # Learned crawl_delay reshapes that host's quota from the NEXT round;
    # learned Disallow rules act only when honor_robots=True (P7).  The
    # learned table is NOT snapshotted: a resumed crawl won't re-fetch
    # robots.txt (seen gate), so pass the prior policy via host_policy= on
    # resume.  Default off ⇒ byte-identical parity (P8).
    learn_robots_policy: bool = False
    # content-aware trap SELF-detection (the third learn-from-the-crawl
    # sibling): each round, this round's fetched (host, template,
    # content_hash) rows merge into a running per-(host, template)
    # aggregate — fetched count + an HLL sketch of distinct content
    # hashes (mergeable, KB per template: state is bounded by templates,
    # never by pages — the cardinality_sketch lesson).  A template with
    # >= auto_trap_min_fetched fetches whose estimated distinct hashes ×
    # auto_trap_dup_factor <= fetched count is near-identical content
    # churned through an infinite URL space (calendar/session traps) and
    # feeds the same broadcast gate as trap_templates= from the NEXT
    # round.  URL-count-only detection (url_template_stats) can't tell a
    # trap from a big legitimate archive; content sameness can.  Like the
    # learned robots policy, the running aggregate is NOT snapshotted: a
    # resumed crawl re-learns from its own fetches, or pass a prior
    # audit via trap_templates= (url_template_stats output) on resume.
    # None = off (byte-identical parity).
    auto_trap_min_fetched: int | None = None
    auto_trap_dup_factor: int = 4


MAX_ATTEMPTS = 3  # tenacity stop_after_attempt(3), scraper.py:137
RETRY_BACKOFF = 8.0  # virtual seconds before the first retry, doubling per attempt

# frontier scores for the discovery chain: robots outranks everything
# (cheapest page on the host, unlocks the rest), sitemap files outrank
# ordinary seeds (score 1.0), urlset entries rank by declared priority
# (spec range 0..1, default 0.5) — so discovery composes with, never
# preempts, explicitly-seeded work beyond the two dim fetches per host
ROBOTS_FETCH_SCORE = 2.0
SITEMAP_FETCH_SCORE = 1.5
SITEMAP_DEFAULT_PRIORITY = 0.5
ROBOTS_URL_RE = r"^https?://[^/]+/robots\.txt(\?.*)?$"


FRONTIER_COLS = [
    "url", "url_key", "host", "depth", "score", "status",
    "attempt", "not_before", "seed_index", "discovered_ts",
]


def seeds_to_frontier(spark: SparkSession, seed_urls) -> DataFrame:
    """Seeds → frontier rows, keep-first dedup by canonical key (A5).

    Mirrors cli.py:77-84 + main.py:197-206: ordering comes from the seed
    file position; duplicate canonical URLs keep the first occurrence.

    ``seed_urls``: list[str] (small, reference-parity path) OR a DataFrame
    with columns (seed_index long, url string) — the scale path: a 10^10
    frontier ingests from storage, never through driver pickling.
    """
    if isinstance(seed_urls, DataFrame):
        df = seed_urls.select("seed_index", "url")
    else:
        rows = [(i, u) for i, u in enumerate(seed_urls)]
        df = spark.createDataFrame(rows, "seed_index long, url string")
    df = df.filter(valid_url_col(F.col("url")))  # F2 gate
    df = df.withColumn("url_key", surt_key_udf("url")).filter(F.col("url_key").isNotNull())
    w = Window.partitionBy("url_key").orderBy("seed_index")
    df = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    return _frontier_rows(df, depth=0, score=1.0, ts=0.0, seed_index=F.col("seed_index"))


def _frontier_rows(df: DataFrame, depth, score, ts: float, seed_index=None) -> DataFrame:
    """New pending frontier rows, FRONTIER_COLS order, from (url, url_key)
    rows: host from the url, attempt 0, not_before = discovered_ts = ``ts``
    (virtual seconds).  ``depth``/``score`` are values or Columns;
    ``seed_index`` is NULL unless given (discovered, robots, sitemap rows)."""
    return df.select(
        "url",
        "url_key",
        host_col(F.col("url")).alias("host"),
        F.lit(depth).cast(IntegerType()).alias("depth"),
        F.lit(score).cast(DoubleType()).alias("score"),
        F.lit("pending").alias("status"),
        F.lit(0).cast(IntegerType()).alias("attempt"),
        F.lit(ts).cast(DoubleType()).alias("not_before"),
        (F.lit(None).cast(LongType()) if seed_index is None else seed_index).alias("seed_index"),
        F.lit(ts).cast(DoubleType()).alias("discovered_ts"),
    )


def with_priority(frontier: DataFrame, scores: DataFrame, default: float = 1.0) -> DataFrame:
    """Override the frontier's ordering ``score`` from a priority table —
    the standard crawl-ordering lever (Cho/Garcia-Molina/Page 1998:
    PageRank-ordered crawling reaches important pages sooner than BFS).
    Feed it ``textops.pagerank_fixed`` over the link graph the crawl's own
    extract_links stage emits (host-level in practice: rank hosts, join on
    host) and every politeness slot goes to the highest-centrality
    candidates first — ``rank_and_quota`` already orders within host by
    (score desc, seed_index, url_key), so priority composes with, never
    overrides, the politeness budget.

    ``scores``: (url_key, score) or (host, score) — keyed per-URL or
    per-host, auto-detected.  Broadcast-joined: after the per-host
    collapse a web-scale rank table is millions of rows (MBs), not
    corpus-sized; candidates never shuffle.  Missing keys keep
    ``default`` = the seed score, so a partial rank table degrades to
    seed order, and with no scores at all the crawl is byte-identical to
    the reference-parity order (P8 tests pin that).
    """
    key = "url_key" if "url_key" in scores.columns else "host"
    pr = scores.select(key, F.col("score").alias("__prio"))
    return (
        frontier.join(F.broadcast(pr), key, "left")
        .withColumn("score", F.coalesce(F.col("__prio"), F.lit(float(default))))
        .drop("__prio")
        .select(*FRONTIER_COLS)
    )


@dataclass
class CrawlResult:
    pages: DataFrame
    seen: DataFrame
    frontier: DataFrame
    metrics: DataFrame
    rounds: int
    timings: list | None = None  # [(round, phase, seconds)] when profiling


def run_crawl(
    spark: SparkSession,
    pages_corpus: DataFrame,
    seed_urls: list[str],
    config: CrawlConfig | None = None,
    host_policy: DataFrame | None = None,
    resume_store: SnapshotStore | None = None,
    fetcher=None,
    seed_scores: DataFrame | None = None,
    trap_templates: DataFrame | None = None,
) -> CrawlResult:
    """``fetcher(candidates, pages_corpus) -> DataFrame`` selects the fetch
    engine (pipeline.get_fetcher's uniform interface); default is the
    pages-table join (sandbox/test engine).

    ``seed_scores``: optional priority table for with_priority (url_key- or
    host-keyed) applied to the seed frontier — fresh starts only; a resumed
    frontier already carries its scores in the snapshot.

    ``trap_templates``: optional (host, template[, is_trap]) frame —
    ``textops.url_template_stats`` output from a prior crawl round or
    corpus audit.  Candidates whose path template matches a flagged pair
    leave the frontier permanently (exactly like robots-blocked rows:
    keeping them pending would stall the drain check forever, and merely
    deprioritizing an INFINITE URL space still burns that host's quota
    slots every round — compose ``-n_urls`` through ``seed_scores`` when
    soft deprioritization of a finite space is wanted instead).  The
    flagged-pair table is per-host-sized (KBs/host) at any corpus scale
    and is broadcast; candidates never shuffle for the gate.  With
    ``None`` (default) the plan is untouched — byte-identical parity."""
    cfg = config or CrawlConfig()
    fetch = fetcher or fetch_via_pages_table
    if trap_templates is not None:
        # normalized once: the gate and the auto-trap union both read the
        # flagged (host, template) pairs
        if "is_trap" in trap_templates.columns:
            trap_templates = trap_templates.filter(F.col("is_trap").cast("boolean"))
        trap_templates = trap_templates.select("host", "template")
    store = resume_store or (SnapshotStore(spark, cfg.checkpoint_dir) if cfg.checkpoint_dir else None)

    empty_seen = spark.createDataFrame([], "url_key string, url string, content_hash string")
    empty_metrics = spark.createDataFrame(
        [], "round int, partition_id int, host string, fetched long, failed long, bytes long"
    )
    start_round = 0
    seed_ingest_sec = None
    # per-round DELTAS — pages and seen are append-only (like production
    # Iceberg appends); the full seen view is the union of disjoint deltas,
    # compacted every COMPACT_EVERY rounds to bound plan width
    pages_parts: list[DataFrame] = []
    seen_rounds: list[tuple[int, DataFrame]] = []
    metrics_parts: list[DataFrame] = []
    # the aux marker names the hash scheme too: bitmaps hashed another way
    # (an older store) are rebuilt, never probed
    bloom_meta = {"n_shards": cfg.bloom_shards, "m_bits": cfg.bloom_bits_per_shard, "hash": seenmod.HASH_SCHEME}

    def bloom_add(shards: DataFrame, new: DataFrame) -> DataFrame:
        return seenmod.add_keys(shards, new, m_bits=cfg.bloom_bits_per_shard, n_shards=cfg.bloom_shards)

    if store is not None and (last := store.latest_round()) is not None:
        frontier = store.read(last, "frontier")
        pages_parts = [store.read(r, "pages") for r in range(last + 1) if store.has(r, "pages")]
        seen_rounds = [(r, store.read(r, "seen")) for r in range(last + 1) if store.has(r, "seen")]
        # metrics format is versioned in the manifest (ADVICE r2): v1
        # snapshots (no 'metrics_format' key) stored CUMULATIVE metrics, so
        # unioning every round would double-count — keep only the LAST
        # cumulative table, then union the per-round deltas after it (a
        # directory can legitimately mix: v1 rounds, resumed, then v2).
        metrics_rounds: list[int] = []
        for r in range(last + 1):
            if not store.has(r, "metrics"):
                continue
            if store.manifest(r).get("metrics_format") == "delta":
                metrics_rounds.append(r)
            else:
                metrics_rounds = [r]  # cumulative: covers every earlier round
        # projected to the current columns: older stores also carry the
        # always-constant deduped/snapshot_id columns
        metrics_parts = [store.read(r, "metrics").select(*empty_metrics.columns) for r in metrics_rounds]
        start_round = last + 1
    else:
        # eager checkpoint: the seed frontier is referenced by several
        # actions per round — without this every action re-runs the seed
        # ingest (createDataFrame + canonicalize UDF + dedup window)
        t0 = time.perf_counter()
        frontier = seeds_to_frontier(spark, seed_urls)
        if seed_scores is not None:
            frontier = with_priority(frontier, seed_scores)
        if cfg.discover_sitemaps or cfg.learn_robots_policy:
            # AFTER with_priority: robots rows keep ROBOTS_FETCH_SCORE
            # rather than being rescored like seeds.  Fresh starts only —
            # a resumed frontier already carries (or has drained) them.
            frontier = frontier.unionByName(_robots_seed_rows(frontier))
        frontier = frontier.localCheckpoint(eager=True)
        seed_ingest_sec = round(time.perf_counter() - t0, 3)
    seen_parts = [df for _, df in seen_rounds]

    # the seen gate's bloom filter (step 2): set up once here, topped up
    # after every committed round (O(delta) per round, the 10^10-regime
    # requirement).  The newest persisted filter whose marker matches is
    # read (O(filter bytes)) and the seen rounds after it are OR-ed in;
    # with none, the filter is built from the seen view (O(M) scan).  An
    # aux with no gap skips the cogroup, which would shuffle every bitmap.
    # start_round > 0 only on a resume from a store.
    bloom_shards: DataFrame | None = None
    if cfg.use_bloom:
        aux, aux_round = None, -1
        for r in range(start_round - 1, -1, -1):
            if (aux := store.read_aux(r, "bloom", expect_meta=bloom_meta)) is not None:
                aux_round = r
                break
        gap = [df for r, df in seen_rounds if r > aux_round]
        if aux is None:
            bloom_shards = seenmod.build_bloom_shards(
                _union_all(gap or [empty_seen]), n_shards=cfg.bloom_shards, m_bits=cfg.bloom_bits_per_shard
            )
        else:
            bloom_shards = bloom_add(aux, _union_all(gap)) if gap else aux
        bloom_shards = bloom_shards.localCheckpoint(eager=True)

    def seen_view() -> DataFrame:
        return _union_all(seen_parts) if seen_parts else empty_seen

    def metrics_view() -> DataFrame:
        return _union_all(metrics_parts) if metrics_parts else empty_metrics

    now = start_round * cfg.round_seconds
    rounds_run = 0
    timings: list = []
    if seed_ingest_sec is not None:
        timings.append((start_round, "seed_ingest", seed_ingest_sec))

    def timed(phase: str, rnd: int, fn):
        t0 = time.perf_counter()
        out = fn()
        timings.append((rnd, phase, round(time.perf_counter() - t0, 3)))
        return out

    # working host policy: starts at the caller's table, grows mid-crawl
    # when learn_robots_policy folds in fetched robots.txt (fresher wins)
    policy = host_policy
    # working trap table + running content-sameness aggregate (see
    # CrawlConfig.auto_trap_min_fetched); traps starts at the caller's
    # audit table and grows as self-detection flags templates
    traps = trap_templates
    trap_stats: DataFrame | None = None

    for round_no in range(start_round, cfg.max_rounds):
        seen_df = seen_view()
        pending = frontier.filter((F.col("status").isin("pending", "retry")) & (F.col("not_before") <= F.lit(now)))
        # ONE agg job answers both round questions — "is anything eligible
        # now?" and "when is the next retry slot?" — so an idle round costs
        # a single job instead of a limit-probe followed by a min-probe
        # (VERDICT r3 #4: the per-round job count is the constant the
        # scaling gate is sensitive to).  The frontier is a localCheckpointed
        # in-memory RDD, so the full-scan agg costs tasks, not IO.
        probe = timed(
            "pending_check",
            round_no,
            lambda: frontier.filter(F.col("status").isin("pending", "retry"))
            .agg(
                F.count(F.when(F.col("not_before") <= F.lit(now), True)).alias("n_eligible"),
                F.min("not_before").alias("min_nb"),
            )
            .first(),
        )
        if probe["n_eligible"] == 0:
            # nothing eligible NOW — but scheduled retries with a future
            # not_before (retry_backoff·2^attempt can exceed round_seconds)
            # must not be abandoned: fast-forward virtual time to the next
            # retry slot instead of breaking with an undrained frontier
            if probe["min_nb"] is None:
                break
            now = max(
                now + cfg.round_seconds,
                math.ceil(probe["min_nb"] / cfg.round_seconds) * cfg.round_seconds,
            )
            continue
        rounds_run += 1

        # 2. URL-seen gate — exact anti-join, or the bloom pre-filter with
        # the confirm join restricted to bloom-positive shards: its cost
        # follows the positive count, not the seen-set size (SCALE.md
        # §bloom-crossover).  Shard ids are recomputed map-side (cheap
        # xxhash64 over rows already scanned); the contract holds by
        # construction, so the store-sample validation job is skipped
        if cfg.use_bloom:
            unseen = seenmod.filter_unseen(
                pending, seenmod.with_shard_id(seen_df, "url_key", cfg.bloom_shards), shards=bloom_shards,
                n_shards=cfg.bloom_shards, prune_shard_col="shard_id", validate_shards=False,
            )
        else:
            unseen = seenmod.filter_unseen(pending, seen_df)

        # 3-4. politeness: policy join, robots, per-host rank+quota.
        # The robots verdict is a FLAG COLUMN on one persisted frame, not a
        # subtract of two frames: the old subtract re-derived the whole
        # candidate lineage — bloom-probe cogroup included — twice more
        # inside the frontier checkpoint job, which profiling showed was
        # that job's dominant cost (~3s/round at bench scale).  One persist
        # materializes the probe + policy join once; rank/quota, blocked
        # keys and not_selected all read the cache.
        cand = join_host_policy(unseen, policy)
        excl_flags = []
        if cfg.honor_robots:
            cand = cand.withColumn("__robots_blocked", robots_blocked_col())
            excl_flags.append(F.col("__robots_blocked"))
        if traps is not None:
            # trap gate: flagged (host, template) dim rows broadcast onto
            # the candidates; the template expr is SHARED with the rollup
            # side (canonicalize.path_template_col) so gate and stats can
            # never drift.  dropDuplicates defends the left-join row count
            # against a caller passing duplicate flagged pairs.
            tt = (
                traps.select("host", F.col("template").alias("__tmpl"))
                .dropDuplicates(["host", "__tmpl"])
                .withColumn("__trap_hit", F.lit(True))
            )
            cand = (
                cand.withColumn("__tmpl", path_template_col(F.parse_url(F.col("url"), F.lit("PATH"))))
                .join(F.broadcast(tt), ["host", "__tmpl"], "left")
                .drop("__tmpl")
            )
            excl_flags.append(F.coalesce(F.col("__trap_hit"), F.lit(False)))
        cand = cand.persist()
        if excl_flags:
            # excluded rows (robots-blocked, trap-templated) leave the
            # frontier permanently (else they would stay pending forever
            # and the loop could never drain)
            flag = excl_flags[0]
            for e in excl_flags[1:]:
                flag = flag | e
            cand_ok = cand.filter(~flag).drop("__robots_blocked", "__trap_hit")
        else:
            cand_ok = cand
        batch = rank_and_quota(cand_ok, cfg.round_seconds, cfg.max_per_host_per_round)

        # 5. salt the hot hosts across tasks; persist — batch feeds both the
        # fetch and the not_selected anti-join (else the whole candidate
        # pipeline incl. bloom probe and rank window runs twice)
        batch = salted_repartition(batch, cfg.n_partitions, cfg.salt_buckets).persist()

        # 6-7. fetch + extract
        # persist: fetched feeds the ok/extract path, the retry path, the
        # exhausted path and metrics — without it each branch recomputes the
        # whole candidate pipeline (bloom probe + joins + window)
        fetched = fetch(batch, pages_corpus).persist()
        ok = fetched.filter(F.col("fetch_status") == "fetched")
        extracted = with_extractions(
            ok.select(
                "url", "url_key", "host", "depth", "score", "seed_index",
                "host_rank", "slot_ts", "html",
            )
        ).withColumn("content_hash", content_hash_col(F.col("html"))).withColumn(
            "round", F.lit(round_no)
        ).withColumn("fetch_ts", F.lit(now) + F.col("slot_ts"))

        # ONE materialization of the heavy (html + structs) data per round:
        # the eager checkpoint serves pages-out, seen-update, link expansion
        # and metrics directly — no second persist/checkpoint of the same
        # bytes (was the dominant non-scaling cost per round)
        extracted = timed("extract_ckpt", round_no, lambda: extracted.localCheckpoint(eager=True))

        # 8a. seen update: fetched rows + exhausted failures are 'seen'.
        # new_seen keys are disjoint from prior deltas by construction (they
        # survived filter_unseen), so appending keeps the view duplicate-free
        failed = fetched.filter(F.col("fetch_status") == "failed")
        exhausted = failed.filter(F.col("attempt") + 1 >= MAX_ATTEMPTS)
        new_seen = (
            extracted.select("url_key", "url", "content_hash")
            .unionByName(exhausted.select("url_key", "url", F.lit(None).cast(StringType()).alias("content_hash")))
            .dropDuplicates(["url_key"])
        )
        seen_df = seen_df.unionByName(new_seen)

        # 8b. frontier update: mark fetched, schedule retries, enqueue links
        retry_rows = (
            failed.filter(F.col("attempt") + 1 < MAX_ATTEMPTS)
            .select(
                "url", "url_key", "host", "depth", "score",
                F.lit("retry").alias("status"),
                (F.col("attempt") + 1).alias("attempt"),
                (F.lit(now) + F.lit(RETRY_BACKOFF) * F.pow(F.lit(2.0), F.col("attempt"))).alias("not_before"),
                "seed_index",
                F.col("discovered_ts"),
            )
        )
        leftover = frontier.filter((F.col("status").isin("pending", "retry")) & (F.col("not_before") > F.lit(now)))
        # rows not selected this round (over quota) stay pending.  The
        # cached cand_ok already holds exactly the pending rows that are
        # unseen and not excluded, and frontier keys are unique, so one
        # anti-join against the batch keys finishes the set — the seen
        # store is not scanned or shuffled a second time
        not_selected = cand_ok.join(batch.select("url_key"), "url_key", "left_anti").select(*FRONTIER_COLS)
        next_frontier = leftover.select(*FRONTIER_COLS).unionByName(not_selected).unionByName(retry_rows.select(*FRONTIER_COLS))

        if cfg.max_depth > 0:
            next_frontier = _enqueue(next_frontier, _expand_links(extracted, cfg, now), seen_df)

        n_dim = 0
        if cfg.discover_sitemaps or cfg.learn_robots_policy:
            # ONE shared prefilter pass over this round's fetched pages
            # feeds both learners, and BOTH are skipped on rounds that
            # fetched no robots/sitemap page (separate always-on passes
            # measured +85% on the bench crawl's 4-megaround shape —
            # per-round job launches, not data, were the cost; most
            # rounds of a real crawl fetch zero dim pages).  The count
            # probe reads the checkpointed per-host dim frame — free.
            dim_pages = _dim_page_rows(extracted).localCheckpoint(eager=True)
            n_dim = dim_pages.count()

        if cfg.discover_sitemaps and n_dim > 0:
            next_frontier = _enqueue(next_frontier, _discovered_sitemap_rows(dim_pages, now), seen_df)

        if cfg.learn_robots_policy and n_dim > 0:
            # per-host dim rows (a robots.txt body per host, once — the
            # seen gate prevents refetch); reads the tiny checkpointed
            # dim frame, so the count probe costs no corpus scan
            learned = _learned_robots_policy(dim_pages)
            if learned.count() > 0:
                if policy is None:
                    policy = learned
                else:
                    # fresher wins: a learned row replaces the caller's
                    # (or an earlier round's) row for that host
                    # allowMissingColumns: a caller's policy table missing
                    # a column contributes nulls, which join_host_policy's
                    # fillna resolves to the defaults
                    policy = learned.unionByName(
                        policy.join(learned.select("host"), "host", "left_anti"),
                        allowMissingColumns=True,
                    ).localCheckpoint(eager=True)

        # 8c. pages out — per-round DELTA, never a cumulative rewrite
        page_rows = extracted.select(
            "url", "url_key", "host", "depth", "round", "host_rank", "slot_ts", "fetch_ts",
            "seed_index", "html", F.col("extracted_text").alias("text"),
            "links", "images", "tables", "page_metadata", "json_ld", "content_hash",
        )

        if cfg.auto_trap_min_fetched is not None:
            delta = page_rows.select(
                "host",
                path_template_col(F.parse_url(F.col("url"), F.lit("PATH"))).alias("template"),
                "content_hash",
            )
            dsk = delta.groupBy("host", "template").agg(
                F.hll_sketch_agg("content_hash").alias("sk"),
                F.count(F.lit(1)).alias("n_fetched"),
            )
            if trap_stats is None:
                trap_stats = dsk
            else:
                trap_stats = trap_stats.unionByName(dsk).groupBy("host", "template").agg(
                    F.hll_union_agg("sk").alias("sk"),
                    F.sum("n_fetched").alias("n_fetched"),
                )
            # one KB sketch + one long per (host, template): the running
            # aggregate is template-bounded, never page-bounded, and the
            # checkpoint keeps each round's merge O(delta)
            trap_stats = trap_stats.localCheckpoint(eager=True)
            detected = (
                trap_stats.select(
                    "host",
                    "template",
                    F.hll_sketch_estimate("sk").cast("long").alias("n_hashes"),
                    "n_fetched",
                )
                .filter(
                    (F.col("n_fetched") >= F.lit(cfg.auto_trap_min_fetched))
                    & (F.col("n_hashes") * F.lit(cfg.auto_trap_dup_factor) <= F.col("n_fetched"))
                )
                .select("host", "template")
            )
            traps = detected if trap_templates is None else trap_templates.unionByName(detected)

        # 8d. metrics — per-round DELTA like pages/seen (appending to and
        # re-checkpointing a cumulative table each round was O(rounds²))
        m = round_metrics(fetched, round_no)

        # 8e. commit — one step with or without a store.  A store writes the
        # four tables concurrently, publishes the manifest after the last
        # write, and each table is read back (truncates lineage, bounds plan
        # growth).  Without one, the three small tables are checkpointed
        # concurrently and pages stays a projection of the checkpointed
        # `extracted` (the heavy bytes are not materialized twice).
        tables = {"frontier": next_frontier, "seen": new_seen, "pages": page_rows, "metrics": m}
        if store is not None:
            # metrics_format versions the per-round-DELTA metrics layout (v1
            # wrote cumulative tables; the resume block branches on it)
            meta = {"virtual_now": now, "metrics_format": "delta"}
            timed("commit", round_no, lambda: store.commit_round(round_no, tables, extra=meta))
            tables = {name: store.read(round_no, name) for name in tables}
        else:
            ckpts = {name: partial(tables[name].localCheckpoint, eager=True) for name in ("frontier", "seen", "metrics")}
            tables.update(timed("commit", round_no, lambda: run_concurrently(spark, ckpts)))
        next_frontier = tables["frontier"]
        seen_parts.append(tables["seen"])
        pages_parts.append(tables["pages"])
        metrics_parts.append(tables["metrics"])
        if cfg.use_bloom:
            # keep the standing bitmaps current — a stale filter would
            # return false negatives for keys seen THIS round
            bloom_shards = timed(
                "bloom_merge", round_no, lambda: bloom_add(bloom_shards, tables["seen"]).localCheckpoint(eager=True)
            )
            if store is not None:
                # persist the bitmaps every committed round, so a resume
                # reads the filter instead of rebuilding it from the whole
                # seen store (SCALE.md §"Bloom persistence across resume").
                # aux write AFTER the manifest publish: the merged filter
                # covers exactly seen rounds <= round_no (the invariant
                # resume relies on); a crash before the aux marker lands
                # just costs the next resume a rebuild
                timed("bloom_persist", round_no, lambda: store.write_aux(round_no, "bloom", bloom_shards, meta=bloom_meta))

        if len(seen_parts) >= 16:  # compact: bound union width across rounds
            seen_parts = [seen_view().localCheckpoint(eager=True)]
        if len(metrics_parts) >= 16:
            metrics_parts = [metrics_view().localCheckpoint(eager=True)]

        fetched.unpersist()
        batch.unpersist()
        cand.unpersist()
        frontier = next_frontier
        now += cfg.round_seconds

    pages_out = _union_all(pages_parts) if pages_parts else spark.createDataFrame([], _EMPTY_PAGES_DDL)
    return CrawlResult(
        pages=pages_out, seen=seen_view(), frontier=frontier, metrics=metrics_view(),
        rounds=rounds_run, timings=timings,
    )


_EMPTY_PAGES_DDL = (
    "url string, url_key string, host string, depth int, round int, host_rank int, "
    "slot_ts double, fetch_ts double, seed_index long, html binary, text string, "
    "links array<struct<url:string,text:string>>, images array<struct<url:string,alt:string>>, "
    "tables array<array<array<string>>>, page_metadata map<string,string>, "
    "json_ld array<string>, content_hash string"
)


def _union_all(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _enqueue(frontier: DataFrame, found: DataFrame, seen: DataFrame) -> DataFrame:
    """``frontier`` plus the ``found`` rows whose key is neither seen nor
    already queued.  No distinct() on the exclusion side: an anti-join's
    semantics are unchanged by duplicate build-side keys, and the distinct
    was a whole extra shuffle stage per round."""
    known = seen.select("url_key").unionByName(frontier.select("url_key"))
    return frontier.unionByName(found.join(known, "url_key", "left_anti").select(*FRONTIER_COLS))


def _expand_links(extracted: DataFrame, cfg: CrawlConfig, now: float) -> DataFrame:
    """Discovered links → new frontier rows with OPIC-style score split.

    Each fetched page's score is split evenly across its outlinks
    (OPIC 'cash' model, Abiteboul et al. 2003); duplicates across parents
    SUM their contributions — both are single exprs over the exploded
    generate, then one aggregation by url_key.
    """
    links = (
        extracted.select(
            F.col("score").alias("parent_score"),
            F.col("depth").alias("parent_depth"),
            F.size("links").alias("n_links"),
            F.explode("links").alias("l"),
        )
        .select(
            F.col("l.url").alias("url"),
            (F.col("parent_score") / F.greatest(F.col("n_links"), F.lit(1))).alias("contrib"),
            (F.col("parent_depth") + 1).alias("depth"),
        )
        .filter(valid_url_col(F.col("url")) & (F.col("depth") <= cfg.max_depth))
    )
    # collapse duplicate RAW urls BEFORE the canonicalize UDF: nav links
    # repeat across every page of a host, so this cuts Python-worker calls
    # by the duplication factor (~10x on link-heavy corpora); partial
    # (map-side) aggregation means the shuffle moves ~distinct urls, and
    # sum-of-partial-sums preserves the OPIC contribution exactly
    links = links.groupBy("url").agg(F.sum("contrib").alias("contrib"), F.min("depth").alias("depth"))
    links = links.withColumn("url_key", surt_key_udf("url")).filter(F.col("url_key").isNotNull())
    links = links.groupBy("url_key").agg(
        F.min_by("url", "url").alias("url"),  # deterministic representative
        F.sum("contrib").alias("score"),
        F.min("depth").alias("depth"),
    )
    return _frontier_rows(links, depth=F.col("depth"), score=F.col("score"), ts=now)


def _robots_seed_rows(frontier: DataFrame) -> DataFrame:
    """One /robots.txt frontier row per distinct seed host (scheme taken
    deterministically as the min over that host's seeds), minus any the
    seed list already contains.  seed_index NULL like link-discovered
    rows; ROBOTS_FETCH_SCORE makes the politeness ranker fetch it before
    the host's content seeds."""
    robots = (
        frontier.select("host", F.parse_url(F.col("url"), F.lit("PROTOCOL")).alias("scheme"))
        .groupBy("host")
        .agg(F.min("scheme").alias("scheme"))
        .select(F.concat("scheme", F.lit("://"), F.col("host"), F.lit("/robots.txt")).alias("url"))
    )
    robots = robots.withColumn("url_key", surt_key_udf("url")).filter(F.col("url_key").isNotNull())
    robots = robots.join(frontier.select("url_key"), "url_key", "left_anti")
    return _frontier_rows(robots, depth=0, score=ROBOTS_FETCH_SCORE, ts=0.0)


def _dim_page_rows(extracted: DataFrame) -> DataFrame:
    """ONE native prefilter pass over this round's fetched pages keeping
    only robots.txt / sitemap-shaped rows (URL shape or an XML-ish byte
    prefix) — the shared input of both mid-crawl learners, checkpointed
    by the caller so neither re-scans the round's pages.  Gzipped
    sitemaps are caught by the URL pattern (their bytes sniff as
    binary); parse_sitemap gunzips.  At scale this touches per-host dim
    pages, never the corpus."""
    prefix = F.substring(F.col("html").cast("string"), 1, 256)
    return extracted.filter(
        F.col("url").rlike(ROBOTS_URL_RE)
        | F.lower(F.col("url")).rlike(r"sitemap[^/]*\.xml(\.gz)?(\?.*)?$")
        | prefix.contains("<?xml")
        | prefix.contains("<urlset")
        | prefix.contains("<sitemapindex")
    ).select("url", "host", "html")


def _discovered_sitemap_rows(dim_pages: DataFrame, now: float) -> DataFrame:
    """This round's fetched robots/sitemap bodies (the shared
    ``_dim_page_rows`` frame) → new frontier rows.  Duplicate
    advertisements max-merge their scores map-side before the
    canonicalize UDF — the link-expansion lesson (dedup raw THEN key)."""
    from frontier_engine import sitemaps as sitemaps_mod

    disc = sitemaps_mod.discovered_from_pages(dim_pages.select("url", "html"))
    score = F.when(F.col("kind") == "sitemap", F.lit(SITEMAP_FETCH_SCORE)).otherwise(
        F.coalesce(F.col("priority"), F.lit(SITEMAP_DEFAULT_PRIORITY))
    )
    links = (
        disc.select(F.col("loc").alias("url"), score.alias("score"))
        .filter(valid_url_col(F.col("url")))
        .groupBy("url")
        .agg(F.max("score").alias("score"))
    )
    links = links.withColumn("url_key", surt_key_udf("url")).filter(F.col("url_key").isNotNull())
    links = links.groupBy("url_key").agg(F.min_by("url", "url").alias("url"), F.max("score").alias("score"))
    return _frontier_rows(links, depth=0, score=F.col("score"), ts=now)


def _learned_robots_policy(dim_pages: DataFrame) -> DataFrame:
    """This round's fetched /robots.txt bodies (from the shared
    ``_dim_page_rows`` frame) → host_policy rows via the standard group
    parse (politeness.parse_robots_policy).  Per-host dim rows: at most
    one robots.txt per host ever reaches this (the seen gate blocks
    refetch), so the Arrow-batched parse touches KBs, never the corpus."""
    from frontier_engine.politeness import parse_robots_policy

    robots = dim_pages.filter(F.col("url").rlike(ROBOTS_URL_RE)).select(
        "host", F.col("html").cast("string").alias("robots_txt")
    )
    return parse_robots_policy(robots)


def fetch_order(pages: DataFrame) -> DataFrame:
    """Global deterministic fetch order: virtual fetch time, then host/rank."""
    return pages.orderBy("round", "fetch_ts", "host", "host_rank").select(
        "round", "host", "host_rank", "fetch_ts", "url"
    )
