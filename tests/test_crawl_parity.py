"""Layer-2 crawl-semantics tests (SURVEY §5.2.2).

Sequential oracle = a faithful re-implementation of the reference loop
semantics (main.py:79-127 at max_depth=0: process the seed list in order,
one URL at a time, per-URL error isolation, keep-first dedup) — compared
against the engine's distributed round loop:

  * identical final URL-seen set (set equality)
  * identical per-host fetch ORDER (list equality)
  * byte-identical extracted text per url

and the one-parse extraction pass against the refsem operators, column by
column.
"""

import json
from collections import defaultdict

import pytest

from frontier_engine import refsem, synth
from frontier_engine.canonicalize import surt_key
from frontier_engine.frontier import CrawlConfig, run_crawl

N_PAGES = 300
N_SEEDS = 80

# (url, html) pages that hit the operators' quirks: null and empty html,
# javascript:/rooted/relative/absolute hrefs, malformed JSON-LD, a table
# with <th> and empty <td> cells, duplicate meta names, images without alt
FRAGMENTS = [
    ("https://a.example/null", None),
    ("https://a.example/empty", b""),
    ("https://b.example/links", b'<a href="javascript:void(0)">js</a><a href="/rooted">r</a>'
     b'<a href="rel/page">rel</a><a href="https://c.example/x"> abs </a><a>no href</a>'),
    ("https://b.example/jsonld", b'<script type="application/ld+json">{"b": 1, "a": [2, {"z": 0, "y": 1}]}'
     b'</script><script type="application/ld+json">{not json</script>'
     b'<script type="application/ld+json">[1, 2]</script>'),
    ("https://c.example/table", b"<table><tr><th>H1</th><th> H2 </th></tr><tr><td></td><td>x</td></tr>"
     b"<tr></tr><tr><td> y </td></tr></table><table></table>"),
    ("https://c.example/meta", b'<title> T </title><meta name="d" content="1"><meta name="d" content="2">'
     b'<meta property="og:x" content="p"><meta name="e" content=""><meta content="no name">'),
    ("https://d.example/img", b'<img src="/a.png" alt="A"><img src="b.png"><img alt="no src">'
     b'<img src="http://e.example/c.jpg" alt="">'),
]


@pytest.fixture(scope="module")
def seeds():
    return synth.parse_seed_lines(synth.gen_seed_lines(N_PAGES, N_SEEDS))


@pytest.fixture(scope="module")
def oracle(seeds):
    """Sequential reference-loop oracle: seed order, keep-first by canonical
    key, fetch = corpus lookup, text = refsem.extract_text."""
    # keep the EARLIEST capture per url — the engine's fetch join serves
    # min(warc_ts), and warc_ts is monotone in row index
    corpus_rows: dict[str, dict] = {}
    for r in synth.gen_pages(N_PAGES):
        corpus_rows.setdefault(r["url"], r)
    seen_keys: set[str] = set()
    per_host_order: dict[str, list[str]] = defaultdict(list)
    texts: dict[str, str] = {}
    for url in seeds:
        key = surt_key(url)
        if key is None or key in seen_keys:
            continue
        seen_keys.add(key)
        row = corpus_rows.get(url)
        host = refsem.domain_of(url)
        per_host_order[host].append(url)
        if row is not None:
            texts[url] = refsem.extract_text(row["html"])
    return {"seen": seen_keys, "order": dict(per_host_order), "texts": texts}


@pytest.fixture(scope="module")
def crawl(spark, corpus, seeds):
    return run_crawl(
        spark, corpus, seeds, CrawlConfig(round_seconds=30.0, max_rounds=100)
    )


def test_seen_set_matches_reference(crawl, oracle):
    engine_seen = {r.url_key for r in crawl.seen.select("url_key").collect()}
    assert engine_seen == oracle["seen"]


def test_frontier_drained(crawl):
    assert crawl.frontier.count() == 0


def test_per_host_fetch_order_matches_reference(crawl, oracle):
    rows = (
        crawl.pages.select("host", "round", "host_rank", "url")
        .orderBy("round", "host", "host_rank")
        .collect()
    )
    engine_order: dict[str, list[str]] = defaultdict(list)
    for r in rows:
        engine_order[r.host].append(r.url)
    # oracle order includes URLs that 404 (they're attempted too); engine
    # pages contain only successful fetches — compare the successful subset
    oracle_success = {
        h: [u for u in urls if u in oracle["texts"]]
        for h, urls in oracle["order"].items()
    }
    oracle_success = {h: u for h, u in oracle_success.items() if u}
    assert dict(engine_order) == oracle_success


def test_byte_identical_text(crawl, oracle):
    rows = crawl.pages.select("url", "text").collect()
    assert len(rows) == len(oracle["texts"])
    for r in rows:
        assert r.text == oracle["texts"][r.url], r.url


def test_failed_urls_exhaust_and_enter_seen(crawl, oracle, seeds):
    # URLs absent from the corpus must still end in the seen set (exhausted
    # after max_attempts), mirroring the reference's "attempted once" set
    missing = [u for u in seeds if u.startswith("https://missing")]
    assert missing
    seen_urls = {r.url for r in crawl.seen.select("url").collect()}
    for u in missing:
        assert u in seen_urls
    # and they were retried exactly max_attempts times in metrics
    failed_total = crawl.metrics.groupBy().sum("failed").collect()[0][0]
    assert failed_total == len(set(missing)) * 3


def test_politeness_quota_respected(spark, corpus, seeds):
    """round_seconds=9 with 3s default delay ⇒ ≤3 fetches per host-round."""
    res = run_crawl(
        spark, corpus, seeds, CrawlConfig(round_seconds=9.0, max_rounds=200)
    )
    per_round = (
        res.pages.groupBy("round", "host").count().collect()
    )
    assert per_round
    assert all(r["count"] <= 3 for r in per_round)
    # slot spacing within a host-round = crawl_delay
    rows = res.pages.select("round", "host", "host_rank", "slot_ts").collect()
    for r in rows:
        assert r.slot_ts == pytest.approx((r.host_rank - 1) * 3.0)


def test_determinism_across_runs(spark, corpus, seeds, crawl):
    res2 = run_crawl(
        spark, corpus, seeds, CrawlConfig(round_seconds=30.0, max_rounds=100)
    )
    a = [(r.host, r.round, r.host_rank, r.url) for r in crawl.pages.select("host", "round", "host_rank", "url").collect()]
    b = [(r.host, r.round, r.host_rank, r.url) for r in res2.pages.select("host", "round", "host_rank", "url").collect()]
    assert sorted(a) == sorted(b)


def test_with_extractions_pruned_columns_in_schema_order(spark, corpus):
    """keep_cols / extract_cols given out of schema order: the output comes
    back in schema order (input columns, then EXTRACT_COLS) with the same
    values as the full extraction."""
    from frontier_engine.extract import with_extractions

    pages = corpus.select("url", "html").limit(40)
    pruned = with_extractions(pages, keep_cols=("html", "url"), extract_cols=("links", "extracted_text"))
    assert pruned.columns == ["url", "html", "extracted_text", "links"]
    full = with_extractions(pages).select(*pruned.columns)
    assert sorted(pruned.collect()) == sorted(full.collect())


def test_with_extractions_equals_refsem_per_column(spark, corpus):
    """Each EXTRACT_COLS column of the one-parse pass equals its refsem
    operator on the same (html, page url); json_ld as sorted-key dumps; a
    null html gives nulls."""
    from frontier_engine.extract import EXTRACT_COLS, with_extractions
    from frontier_engine.schema import PAGES

    frags = spark.createDataFrame([(u, None, h, None, None) for u, h in FRAGMENTS], schema=PAGES)
    rows = with_extractions(corpus.unionByName(frags)).collect()
    want = {
        "extracted_text": lambda h, u: refsem.extract_text(h),
        "links": refsem.extract_links,
        "images": refsem.extract_images,
        "tables": lambda h, u: refsem.extract_tables(h),
        "page_metadata": lambda h, u: refsem.extract_metadata(h),
        "json_ld": lambda h, u: [json.dumps(o, sort_keys=True) for o in refsem.extract_json_ld(h)],
    }
    assert sorted(want) == sorted(EXTRACT_COLS.fieldNames())
    assert len(rows) == N_PAGES + len(FRAGMENTS)
    for r in rows:
        got = r.asDict(recursive=True)
        for col, op in want.items():
            assert got[col] == (None if r.html is None else op(r.html, r.url)), (r.url, col)
