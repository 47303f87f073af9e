"""Round-2 regression tests for the judge/advisor findings:

* canonicalize: reserved percent-escapes must NOT collapse (RFC 3986 §6.2.2)
* bloom: scalar and batch bit-position paths agree (uint64 wraparound)
* htmlx: duplicate attributes keep the FIRST occurrence (lxml semantics)
* humanize: no thousands separator at the 1023.95..1024 boundary
* ANN LSH: Hamming-1 multi-probe recall@k vs the bruteforce baseline
* frontier: scheduled retries beyond round_seconds are not abandoned
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from frontier_engine import seen as seenmod
from frontier_engine import synth, textops
from frontier_engine.canonicalize import canonical_url, surt_key
from frontier_engine.functions import humanize_size_col
from frontier_engine.htmlx import parse_html
from frontier_engine.schema import PAGES


# ---------------------------------------------------------------------------
# canonicalize — reserved escapes survive (ADVICE: _norm_pct over-decoding)
# ---------------------------------------------------------------------------


def test_reserved_escapes_do_not_collapse():
    a = canonical_url("http://ex.com/a%2Fb")
    b = canonical_url("http://ex.com/a/b")
    assert a == "http://ex.com/a%2Fb"
    assert a != b
    qa = canonical_url("http://ex.com/?a=b%26c=d")
    qb = canonical_url("http://ex.com/?a=b&c=d")
    assert qa != qb
    assert surt_key("http://ex.com/a%2Fb") != surt_key("http://ex.com/a/b")


def test_unreserved_escapes_decode_and_hex_uppercases():
    assert canonical_url("http://ex.com/%7Euser") == "http://ex.com/~user"
    assert canonical_url("http://ex.com/%41%62c") == "http://ex.com/Abc"
    # non-unreserved escape: kept, hex uppercased
    assert canonical_url("http://ex.com/a%3ab") == "http://ex.com/a%3Ab"


# ---------------------------------------------------------------------------
# bloom — vectorized positions agree with scalar double hashing
# ---------------------------------------------------------------------------


def _scalar_positions(h1: int, h2: int, m_bits: int) -> list[int]:
    """h1 + i*h2 over unsigned 64-bit words, wrapped mod 2^64, then mod m."""
    h1, h2 = h1 & 0xFFFFFFFFFFFFFFFF, (h2 & 0xFFFFFFFFFFFFFFFF) | 1
    return [((h1 + i * h2) & 0xFFFFFFFFFFFFFFFF) % m_bits for i in range(seenmod.K_HASHES)]


def test_bit_positions_scalar_equals_batch():
    m_bits = (1 << 20) - 8  # byte-aligned, NOT a power of two
    rng = np.random.default_rng(7)
    h1 = rng.integers(-(1 << 63), (1 << 63) - 1, size=500, dtype=np.int64)
    h2 = rng.integers(-(1 << 63), (1 << 63) - 1, size=500, dtype=np.int64)
    batch = seenmod._positions(h1, h2, m_bits)
    for j in range(len(h1)):
        assert batch[j].tolist() == _scalar_positions(int(h1[j]), int(h2[j]), m_bits), j


# ---------------------------------------------------------------------------
# htmlx — duplicate attributes keep FIRST (lxml parity)
# ---------------------------------------------------------------------------


def test_duplicate_attribute_keeps_first():
    doc = parse_html('<meta name="a" name="b" content="x"><p id="1" id="2">t</p>')
    metas = doc.find_all("meta")
    assert metas[0].attrs["name"] == "a"
    p = doc.find_all("p")[0]
    assert p.attrs["id"] == "1"


# ---------------------------------------------------------------------------
# humanize — comma-free formatting at the rounding boundary
# ---------------------------------------------------------------------------


def test_humanize_no_thousands_separator(spark):
    # 1023.99 KB rounds to '1024.0 KB' — must not print '1,024.0 KB'
    df = spark.createDataFrame([(int(1023.99 * 1024),)], "b long")
    val = df.select(humanize_size_col(F.col("b")).alias("h")).first()["h"]
    assert val == "1024.0 KB"
    assert "," not in val


# ---------------------------------------------------------------------------
# ANN LSH — multi-probe recall contract vs bruteforce
# ---------------------------------------------------------------------------


def test_ann_lsh_recall_at_k(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    k = 10
    bf = textops.cosine_topk_bruteforce(emb, qids, k=k)
    lsh = textops.cosine_topk_lsh(emb, qids, k=k)
    truth = {(r["query_id"], r["cand_id"]) for r in bf.collect()}
    got = {(r["query_id"], r["cand_id"]) for r in lsh.collect()}
    recall = len(truth & got) / len(truth)
    # multi-probe over bucket ∪ Hamming-1 buckets: recall well above the
    # single-bucket floor at fixture scale
    assert recall >= 0.6, f"recall@{k} = {recall:.3f}"


def test_ann_lsh_subset_of_exact_cosines(spark):
    """Every LSH hit must carry the exact cosine (scored, not approximated)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = textops.cosine_topk_bruteforce(emb, [0], k=1000)
    lsh = textops.cosine_topk_lsh(emb, [0], k=5)
    exact = {(r["query_id"], r["cand_id"]): r["cosine"] for r in bf.collect()}
    for r in lsh.collect():
        key = (r["query_id"], r["cand_id"])
        assert key in exact and abs(exact[key] - r["cosine"]) < 1e-9


def test_ann_ivf_recall_and_pruning(spark):
    """IVF contract: beats the probe fraction's random-baseline recall AND
    actually prunes (scores fewer candidates than the full corpus)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    k = 10
    centroids = textops.kmeans_centroids(emb, k=16, iters=3)
    bf = textops.cosine_topk_bruteforce(emb, qids, k=k)
    ivf = textops.cosine_topk_ivf(emb, qids, centroids, k=k, n_probe=8)
    truth = {(r["query_id"], r["cand_id"]) for r in bf.collect()}
    got = {(r["query_id"], r["cand_id"]) for r in ivf.collect()}
    recall = len(truth & got) / len(truth)
    # near-random fixture: probing 8/16 clusters scans ~50% of the corpus;
    # recall must beat that baseline meaningfully
    assert recall >= 0.55, f"recall@{k} = {recall:.3f}"
    # pruning really happens: a probed scan covers less than the corpus
    assigned = textops.assign_clusters(emb, centroids)
    sizes = {r["cluster_id"]: r["n"] for r in assigned.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()}
    assert len(sizes) > 1, "kmeans collapsed to one cluster"
    assert max(sizes.values()) < emb.count(), "no pruning"


def test_kmeans_deterministic(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = textops.kmeans_centroids(emb, k=8, iters=2)
    c2 = textops.kmeans_centroids(emb, k=8, iters=2)
    assert c1 == c2


# ---------------------------------------------------------------------------
# P7 — robots.txt parsing (north_star: robots + crawl-delay budgets)
# ---------------------------------------------------------------------------


def test_parse_robots_policy(spark):
    from frontier_engine.politeness import (
        DEFAULT_CRAWL_DELAY,
        join_host_policy,
        parse_robots_policy,
        robots_allowed,
    )

    robots_txt = (
        "# comment\n"
        "User-agent: googlebot\n"
        "Disallow: /google-only\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /private\n"
        "Disallow: /tmp\n"
        "Disallow:\n"  # empty Disallow = allow-all, must be ignored
        "Crawl-delay: 7.5\n"
    )
    exact_txt = "User-agent: frontier\nDisallow: /x\nUser-agent: *\nDisallow: /y\n"
    df = spark.createDataFrame(
        [("a.com", robots_txt), ("b.com", exact_txt), ("c.com", None)],
        "host string, robots_txt string",
    )
    pol = {r["host"]: r for r in parse_robots_policy(df).collect()}
    assert pol["a.com"]["robots_rules"] == "/private\n/tmp"
    assert pol["a.com"]["crawl_delay"] == 7.5
    assert pol["b.com"]["robots_rules"] == "/y"  # '*' group when agent='*'
    assert pol["c.com"]["robots_rules"] == "" and pol["c.com"]["crawl_delay"] == DEFAULT_CRAWL_DELAY
    exact = {r["host"]: r for r in parse_robots_policy(df, agent="frontier").collect()}
    assert exact["b.com"]["robots_rules"] == "/x"  # exact group beats '*'

    # end-to-end: the parsed policy gates URLs through robots_allowed
    urls = spark.createDataFrame(
        [("https://a.com/private/x.html",), ("https://a.com/ok.html",)], "url string"
    ).withColumn("host", F.lit("a.com"))
    gated = robots_allowed(join_host_policy(urls, parse_robots_policy(df)))
    assert [r["url"] for r in gated.collect()] == ["https://a.com/ok.html"]


def test_robots_deny_prefix_with_comma(spark):
    """ADVICE r2: commas are legal inside URL paths — a Disallow prefix
    containing one must stay ONE rule (newline delimiter), not split into
    two bogus prefixes that over-block."""
    from frontier_engine.politeness import join_host_policy, parse_robots_policy, robots_allowed

    df = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /a,b/\nDisallow: /c\n")],
        "host string, robots_txt string",
    )
    pol = {r["host"]: r for r in parse_robots_policy(df).collect()}
    assert pol["a.com"]["robots_rules"] == "/a,b/\n/c"
    urls = spark.createDataFrame(
        [
            ("https://a.com/a,b/x.html",),  # blocked by the comma rule
            ("https://a.com/b/x.html",),    # NOT blocked ('/b' is not a rule)
            ("https://a.com/c/y.html",),    # blocked
            ("https://a.com/ok.html",),
        ],
        "url string",
    ).withColumn("host", F.lit("a.com"))
    gated = robots_allowed(join_host_policy(urls, parse_robots_policy(df)))
    assert sorted(r["url"] for r in gated.collect()) == [
        "https://a.com/b/x.html",
        "https://a.com/ok.html",
    ]


# ---------------------------------------------------------------------------
# F7 — domain routing column (scraper.py:755, :889)
# ---------------------------------------------------------------------------


def test_domain_route_col(spark):
    from frontier_engine.functions import domain_route_col

    cases = [
        ("https://www.youtube.com/watch?v=abc", "youtube"),
        ("https://youtu.be/xyz", "youtube"),
        ("https://soundcloud.com/artist/track", "soundcloud"),
        ("https://example.com/page", "generic"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    out = df.select("want", domain_route_col(F.col("url")).alias("got")).collect()
    for r in out:
        assert r["got"] == r["want"]


# ---------------------------------------------------------------------------
# frontier — retries scheduled past round_seconds still run (ADVICE)
# ---------------------------------------------------------------------------


def test_retry_beyond_round_seconds_not_abandoned(spark):
    from frontier_engine.frontier import MAX_ATTEMPTS, CrawlConfig, run_crawl

    corpus = spark.createDataFrame(synth.gen_pages(30), schema=PAGES)
    corpus_urls = [r["url"] for r in corpus.select("url").distinct().collect()]
    missing = [f"https://missing{i}.example.com/x{i}.html" for i in range(5)]
    seeds = corpus_urls + missing  # missing URLs fail → scheduled retries
    # RETRY_BACKOFF (8s, doubling) >> round_seconds (2s): without virtual-
    # time fast-forward, the loop would break with retries still pending
    cfg = CrawlConfig(round_seconds=2.0, max_rounds=50)
    res = run_crawl(spark, corpus, seeds, cfg)
    seen_urls = {r["url"] for r in res.seen.select("url").collect()}
    for u in missing:  # exhausted after MAX_ATTEMPTS — never abandoned
        assert u in seen_urls, u
    assert res.frontier.filter(F.col("status").isin("pending", "retry")).count() == 0
    failed_total = res.metrics.groupBy().sum("failed").collect()[0][0]
    assert failed_total == len(missing) * MAX_ATTEMPTS


def test_pick_user_agent_deterministic():
    """P9 (scraper.py:113-118): deterministic UA rotation by url hash."""
    from frontier_engine.fetch import pick_user_agent

    uas = ["ua-a", "ua-b", "ua-c"]
    u = "https://example.com/page1"
    assert pick_user_agent(u, uas) == pick_user_agent(u, uas)  # stable
    picks = {pick_user_agent(f"https://example.com/p{i}", uas) for i in range(50)}
    assert picks == set(uas)  # rotation actually spreads across agents


def test_incremental_bloom_multiround_matches_exact(spark):
    """Multi-round crawl with bloom ON exercises the incremental OR-merge
    path (round 2+ probes merged deltas, not a fresh full build): the final
    seen set must equal the bloom-OFF crawl's exactly — a stale or wrongly
    merged filter would show up as re-crawled or missing keys."""
    from frontier_engine.frontier import CrawlConfig, run_crawl
    from frontier_engine.schema import PAGES

    corpus = spark.createDataFrame(synth.gen_pages(200), schema=PAGES)
    seeds = synth.parse_seed_lines(synth.gen_seed_lines(200, 120))
    # small quota → many rounds → several merge generations
    mk = lambda bloom: CrawlConfig(  # noqa: E731
        round_seconds=30.0, max_rounds=100, use_bloom=bloom,
        bloom_shards=8, bloom_bits_per_shard=1 << 14,
        max_per_host_per_round=3,
    )
    # a bloom crawl always prunes, so this run exercises the full 10^10
    # path through run_crawl: bloom pre-filter + shard-pruned confirm join
    with_bloom = run_crawl(spark, corpus, seeds, mk(True))
    without = run_crawl(spark, corpus, seeds, mk(False))
    assert with_bloom.rounds > 2  # the incremental path actually ran
    sb = {r["url_key"] for r in with_bloom.seen.collect()}
    se = {r["url_key"] for r in without.seen.collect()}
    assert sb == se
