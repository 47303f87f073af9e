"""Deterministic synthetic crawl tables (FIXTURES.md §B).

Pure function of an integer seed — no wall clock, no network, no host state —
so the same call always yields byte-identical rows; the golden ``text``
column is computed at generation time with the reference semantics
(``refsem.extract_text``, parser.py:41-52), which is what makes the engine's
byte-identical parity tests meaningful.

The HTML generator covers every extraction-operator input shape from the
reference (citations in FIXTURES.md §B1): absolute/relative/javascript:
links, img with/without alt, nested video/audio sources, YouTube iframes,
ragged tables, duplicate meta keys, valid+malformed JSON-LD, CSS-selector
targets matching 0/1/>1 elements, whitespace runs, entity refs.
"""

from __future__ import annotations

import datetime as dt
import math
import random

from frontier_engine import refsem

BASE_EPOCH = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)

LANGS = ("en", "fr", "de", "es", "ar")

WORDS = (
    "crawl frontier spark shuffle partition politeness robots host queue "
    "bloom cuckoo filter seen dedup fetch parse extract link anchor page "
    "warc common web text token batch arrow vector column snapshot resume"
).split()

YT_IDS = ("dQw4w9WgXcQ", "abc123XYZ_-", "shortclip01")


def _host(i: int, n_hosts: int, hot_frac: float) -> str:
    """Host assignment with one deliberately hot host (~hot_frac of rows).
    Pure function of the row index (Knuth-hash bucketing) so that link
    generators can predict another row's host."""
    if (i * 2654435761) % 1000 < int(hot_frac * 1000):
        return "hot.example.com"
    return f"site{i % n_hosts}.example.org"


def _sentence(rng: random.Random, lo=4, hi=12) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def build_html(i: int, url: str, host: str, rng: random.Random, n_rows: int = 0) -> str:
    """One page's HTML; feature mix keyed off row index so every operator
    shape appears at a known density."""
    title = f"Page {i} — {_sentence(rng, 2, 4)}"
    parts = [
        "<!DOCTYPE html><html><head>",
        f"<title>  {title}  </title>",
        f'<meta name="description" content="{_sentence(rng)}">',
        f'<meta property="og:title" content="{title}">',
    ]
    if i % 4 == 0:  # duplicate meta key → overwrite quirk (E7)
        parts.append('<meta name="description" content="overwritten description">')
    if i % 6 == 0:  # empty content → skipped (E7)
        parts.append('<meta name="empty-one" content="">')
    if i % 5 == 0:  # valid JSON-LD (E8)
        parts.append(
            '<script type="application/ld+json">{"@type": "Article", "id": %d}</script>' % i
        )
    if i % 10 == 0:  # malformed JSON-LD → dropped (E8)
        parts.append('<script type="application/ld+json">{oops: not json}</script>')
    parts.append("<style>body { color: #333; }</style>")
    parts.append("</head><body>")

    # selector targets: 0, 1 (scalar collapse), >1 matches (E3)
    if i % 3 != 0:
        parts.append(f'<h1 class="title">Headline {i}</h1>')
    if i % 3 == 2:
        parts.append(f'<h1 class="title">Second headline {i}</h1>')
    parts.append(f'<div class="content">\n  {_sentence(rng)}   {_sentence(rng)}\n</div>')
    if i % 2 == 0:
        parts.append(f'<span class="date">2024-0{1 + i % 9}-15</span>')
        parts.append(f'<span class="author">Author {i % 7}</span>')

    # paragraphs with whitespace runs + entities (E1/E2/E9)
    parts.append(f"<p>  {_sentence(rng)} &amp; more &mdash; {_sentence(rng)}  </p>")
    parts.append(f"<p>{_sentence(rng)}<b>bold{i}</b>tail</p>")
    parts.append("<script>var x = 'no text from scripts';</script>")
    parts.append("<!-- comment text must not leak -->")

    # links: absolute, root-relative, bare-relative, javascript:, dupes (E4)
    parts.append(f'<a href="https://{host}/abs/{i}">  abs link {i} </a>')
    parts.append(f'<a href="/rel/{i % 17}">root rel {i % 17}</a>')
    parts.append(f'<a href="deep/page{i % 13}.html">bare rel {i % 13}</a>')
    parts.append('<a href="javascript:void(0)">skip me</a>')
    if i % 2 == 0:
        parts.append(f'<a href="https://site{(i + 1) % 9}.example.org/abs/{i % 23}">xhost</a>')
    if i % 11 == 0:
        parts.append(f'<a href="/files/doc{i}.pdf">a pdf</a>')  # media link (E11)
    if n_rows:  # intra-corpus absolute links → frontier expansion is fetchable
        for j in ((i * 7 + 3) % n_rows, (i * 13 + 11) % n_rows):
            h2 = _host(j, 20, 0.3)
            parts.append(f'<a href="https://{h2}/pages/p{j}.html">corpus link {j}</a>')

    # images (E5) + data URL (S12)
    parts.append(f'<img src="/img/{i % 29}.png" alt="alt text {i % 29}">')
    if i % 3 == 0:
        parts.append(f'<img src="https://cdn.example.net/shared/{i % 7}.jpg">')
    if i % 13 == 0:
        parts.append('<img src="data:image/gif;base64,R0lGODlhAQABAAAAACw=" alt="inline">')

    # video/audio/iframe (E11/E12)
    if i % 7 == 0:
        parts.append(f'<video controls><source src="/media/clip{i % 5}.mp4"></video>')
    if i % 7 == 1:
        parts.append(f'<video src="/media/inline{i % 5}.webm"></video>')
    if i % 9 == 0:
        parts.append(f'<audio><source src="/media/track{i % 4}.mp3"></audio>')
    if i % 8 == 0:
        vid = YT_IDS[i % len(YT_IDS)]
        parts.append(f'<iframe src="https://www.youtube.com/embed/{vid}"></iframe>')
    if i % 8 == 4:
        parts.append('<iframe src="https://maps.example.com/embed?q=1"></iframe>')

    # table with th headers and ragged rows (E6)
    if i % 4 == 0:
        parts.append(
            "<table><tr><th>k</th><th>v</th></tr>"
            f"<tr><td>rows</td><td>{i}</td></tr>"
            f"<tr><td>ragged</td></tr></table>"
        )
    parts.append("</body></html>")
    return "\n".join(parts)


def page_url(i: int, host: str) -> str:
    if i % 8 == 3:  # YouTube-shaped URLs (E13)
        vid = YT_IDS[i % len(YT_IDS)]
        shapes = (
            f"https://www.youtube.com/watch?v={vid}&t={i}",
            f"https://youtu.be/{vid}?si=x{i}",
            f"https://www.youtube.com/embed/{vid}?rel=0",
            f"https://www.youtube.com/shorts/{vid}",
        )
        return shapes[i % 4]
    if i % 24 == 5:  # SoundCloud-shaped (E14)
        return f"https://soundcloud.com/artist{i % 5}/track-{i % 11}"
    # duplicates across the table: ~5% of rows repeat an earlier path
    path_i = i - (i % 19) if i % 20 == 19 else i
    return f"https://{host}/pages/p{path_i}.html"


def gen_pages(n_rows: int, n_hosts: int = 20, seed: int = 42, hot_frac: float = 0.3,
              with_text: bool = True):
    """Rows of the input_hint `pages` table + golden oracle columns.

    Returns list of dicts with keys: url, warc_ts, html (bytes), text, lang
    — `text` is the REFERENCE-semantics extraction of `html`
    (parser.py:41-52), i.e. the byte-identical target.  ``with_text=False``
    skips the (driver-side, sequential) oracle extraction for benchmark
    corpora where only the engine runs it.
    """
    rng = random.Random(seed)
    rows = []
    for i in range(n_rows):
        host = _host(i, n_hosts, hot_frac)
        url = page_url(i, host)
        html = build_html(i, url, host, rng, n_rows=n_rows)
        rows.append(
            {
                "url": url,
                "warc_ts": BASE_EPOCH + dt.timedelta(seconds=37 * i),
                "html": html.encode("utf-8"),
                "text": refsem.extract_text(html) if with_text else None,
                "lang": LANGS[i % len(LANGS)],
            }
        )
    return rows


def iter_pages_chunks(n_rows: int, chunk: int = 100_000, n_hosts: int = 20, seed: int = 42,
                      hot_frac: float = 0.3):
    """Chunked generator for LARGE corpora (bench/scaling only): rows are a
    pure function of (seed, i) — per-row RNG, so chunking never changes
    content — and no golden text (engine-only extraction).  Parity fixtures
    keep using gen_pages (sequential RNG, golden text)."""
    for lo in range(0, n_rows, chunk):
        rows = []
        for i in range(lo, min(lo + chunk, n_rows)):
            rng = random.Random(seed * 1_000_003 + i)
            host = _host(i, n_hosts, hot_frac)
            url = page_url(i, host)
            html = build_html(i, url, host, rng, n_rows=n_rows)
            rows.append(
                {
                    "url": url,
                    "warc_ts": BASE_EPOCH + dt.timedelta(seconds=37 * i),
                    "html": html.encode("utf-8"),
                    "text": None,
                    "lang": LANGS[i % len(LANGS)],
                }
            )
        yield rows


def gen_seed_lines(n_pages: int, n_seeds: int, seed: int = 43) -> list[str]:
    """Seed-FILE lines (cli.py:77-84 semantics): URLs of existing pages in a
    shuffled order, plus blank lines, '#' comments, duplicates, and a few
    unknown (404) URLs."""
    rng = random.Random(seed)
    pages = gen_pages(n_pages)
    idx = list(range(n_pages))
    rng.shuffle(idx)
    lines: list[str] = ["# synthetic seed list", ""]
    for j, i in enumerate(idx[:n_seeds]):
        lines.append(pages[i]["url"])
        if j % 7 == 3:
            lines.append(pages[i]["url"])  # duplicate → dedup keep-first (A5)
        if j % 11 == 5:
            lines.append("")  # blank → skipped
        if j % 13 == 6:
            lines.append("# interleaved comment")
    for k in range(max(1, n_seeds // 20)):
        lines.append(f"https://missing{k}.example.net/gone/{k}")  # 404s (P5)
    return lines


def parse_seed_lines(lines: list[str]) -> list[str]:
    """cli.py:77-84 — strip, skip blanks and '#' comments, keep order."""
    out = []
    for line in lines:
        line = line.strip()
        if line and not line.startswith("#"):
            out.append(line)
    return out


def gen_clustered_embeddings(
    n_clusters: int = 25, per_cluster: int = 21, dim: int = 64, seed: int = 45,
    noise: float = 0.05,
):
    """Planted-neighbor embeddings (VERDICT r2 #4): a fixture where recall@k
    has a SHARP expected answer.

    Cluster c gets a deterministic random unit base vector; member j is
    base + ``noise``·jitter, renormalized.  With 25 gaussian bases in
    dim=64, inter-cluster |cosine| stays ≲0.4 w.h.p. while within-cluster
    cosine ≈ 1/(1+noise²) ≈ 0.998 — so the exact cosine top-(per_cluster−1)
    of ANY member is exactly its cluster mates, and ground truth for
    recall@k is cluster membership, not a second ANN run.
    vec_id = c·per_cluster + j.  Pure function of ``seed``.
    """
    rng = random.Random(seed)
    rows = []
    for c in range(n_clusters):
        base = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        nb = math.sqrt(sum(x * x for x in base)) or 1.0
        base = [x / nb for x in base]
        for j in range(per_cluster):
            v = [b + noise * rng.gauss(0.0, 1.0) for b in base]
            nv = math.sqrt(sum(x * x for x in v)) or 1.0
            rows.append(
                {"vec_id": c * per_cluster + j, "embedding": [float(x / nv) for x in v]}
            )
    return rows
