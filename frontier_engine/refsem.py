"""Reference-semantics extraction functions (the parity surface).

Each function replicates one operator of the reference repo
``Abdelilah04116/Web_scraping-script`` *exactly*, including its quirks —
these are the per-row invariants the engine's vectorized UDFs must satisfy
byte-for-byte (BASELINE.json ``input_hint``).  Citations point into
``/root/reference/src/``.  The reference used BeautifulSoup(…, 'lxml');
this sandbox carries neither, so the DOM layer is ``frontier_engine.htmlx``
which reproduces bs4's ``get_text``/``find_all`` semantics (see its
docstring for the exact contract).

Everything here is pure Python over one (html, url) pair.  The HTML
extractors also take an already-parsed ``htmlx.Node``, so
``extract.with_extractions`` parses each page once and runs these same
functions on the one DOM.  No Spark imports.
"""

from __future__ import annotations

import hashlib
import json
import posixpath
import re
from urllib.parse import parse_qs, urlparse

from frontier_engine.htmlx import Node, parse_html


def _doc(html) -> Node:
    """``html`` itself if it is already parsed, else its parsed document."""
    return html if isinstance(html, Node) else parse_html(html)


# ---------------------------------------------------------------------------
# E1 / E2 — text extraction (parser.py:41-52 / parser.py:26-27)
# ---------------------------------------------------------------------------


def extract_text(html) -> str:
    """parser.py:41-52 — ``soup.get_text(separator=' ', strip=True)``.

    THE byte-identical target column (`input_hint`): every whitespace
    decision must match; used by cli.py:194 to populate the page ``text``.
    """
    return _doc(html).get_text(separator=" ", strip=True)


def extract_text_raw(html) -> str:
    """parser.py:26-27 — no-selector ``parse_html``: ``soup.get_text()``
    with NO separator and NO strip (deliberately distinct from E1)."""
    return parse_html(html).get_text()


# ---------------------------------------------------------------------------
# E3 — selector extraction with scalar-collapse quirk (parser.py:29-39)
# ---------------------------------------------------------------------------


def parse_selectors(html, selectors: dict[str, str]) -> dict:
    """parser.py:29-39 — per-key CSS select; list of stripped texts;
    **collapsed to scalar when exactly one match**; None when zero."""
    if not html:
        return {}
    doc = parse_html(html)
    result: dict[str, object] = {}
    for key, selector in selectors.items():
        elements = doc.select(selector)
        if elements:
            texts = [el.get_text().strip() for el in elements]
            result[key] = texts[0] if len(texts) == 1 else texts
        else:
            result[key] = None
    return result


# ---------------------------------------------------------------------------
# E4 / E5 — link & image extraction with the NAIVE relative-URL quirk
# (parser.py:54-87 and parser.py:126-157)
# ---------------------------------------------------------------------------


def _naive_resolve(base_url: str | None, ref: str) -> str:
    """parser.py:76-80 — NOT RFC 3986: ``base+ref`` if ref startswith '/',
    else ``base+'/'+ref``; absolute http(s) refs pass through untouched."""
    if base_url and not (ref.startswith("http://") or ref.startswith("https://")):
        if ref.startswith("/"):
            return f"{base_url}{ref}"
        return f"{base_url}/{ref}"
    return ref


def extract_links(html, base_url: str | None = None) -> list[dict]:
    """parser.py:54-87 — every ``<a href>``, skipping ``javascript:`` hrefs
    (parser.py:72-73), naive relative resolution, stripped anchor text."""
    doc = _doc(html)
    links = []
    for a in doc.find_all("a", has_attr="href"):
        href = a.attrs["href"]
        if href.startswith("javascript:"):
            continue
        links.append({"url": _naive_resolve(base_url, href), "text": a.get_text().strip()})
    return links


def extract_images(html, base_url: str | None = None) -> list[dict]:
    """parser.py:126-157 — every ``<img src>``; ``alt`` defaults to ''."""
    doc = _doc(html)
    images = []
    for img in doc.find_all("img", has_attr="src"):
        src = _naive_resolve(base_url, img.attrs["src"])
        images.append({"url": src, "alt": img.get("alt", "")})
    return images


# ---------------------------------------------------------------------------
# E6 — table extraction (parser.py:89-124)
# ---------------------------------------------------------------------------


def extract_tables(html) -> list[list[list[str]]]:
    """parser.py:89-124 — per ``<table>``: one header row of ALL ``<th>``
    texts (anywhere in the table), then one row per ``<tr>`` of its ``<td>``
    texts; empty cell-lists are dropped."""
    doc = _doc(html)
    tables = []
    for table in doc.find_all("table"):
        rows: list[list[str]] = []
        headers = [th.get_text().strip() for th in table.find_all("th")]
        if headers:
            rows.append(headers)
        for tr in table.find_all("tr"):
            cells = [td.get_text().strip() for td in tr.find_all("td")]
            if cells:
                rows.append(cells)
        tables.append(rows)
    return tables


# ---------------------------------------------------------------------------
# E7 — metadata extraction with duplicate-key-overwrite quirk
# (parser.py:159-185)
# ---------------------------------------------------------------------------


def extract_metadata(html) -> dict[str, str]:
    """parser.py:159-185 — ``<title>`` text + each ``<meta>``'s
    ``name``-else-``property`` → ``content`` (skip empty name or content);
    later duplicates OVERWRITE earlier ones."""
    doc = _doc(html)
    metadata: dict[str, str] = {}
    title = doc.find("title")
    if title:
        metadata["title"] = title.get_text().strip()
    for meta in doc.find_all("meta"):
        name = meta.get("name", meta.get("property", ""))
        content = meta.get("content", "")
        if name and content:
            metadata[name] = content
    return metadata


# ---------------------------------------------------------------------------
# E8 — JSON-LD extraction (parser.py:187-207)
# ---------------------------------------------------------------------------


def extract_json_ld(html) -> list:
    """parser.py:187-207 — parse each ``script[type=application/ld+json]``;
    malformed JSON blocks are silently dropped (logged in the reference)."""
    doc = _doc(html)
    out = []
    for script in doc.find_all("script", attrs={"type": "application/ld+json"}):
        try:
            out.append(json.loads(script.string or ""))
        except json.JSONDecodeError:
            continue
    return out


# ---------------------------------------------------------------------------
# E9 / E10 — text cleaning and regex extraction (parser.py:209-239)
# ---------------------------------------------------------------------------


def clean_text(text: str | None) -> str:
    """parser.py:209-226 — collapse ``\\s+`` to single spaces, strip;
    falsy input → empty string."""
    if not text:
        return ""
    return re.sub(r"\s+", " ", text).strip()


def extract_by_regex(text: str, pattern: str) -> list[str]:
    """parser.py:228-239 — bare ``re.findall``."""
    return re.findall(pattern, text)


# ---------------------------------------------------------------------------
# E11 / E12 — media-tag regex discovery (media_downloader.py:325-369)
# ---------------------------------------------------------------------------

_RE_IMG = re.compile(r'<img[^>]+src=["\'](.*?)["\']')
_RE_VIDEO_SRC_NESTED = re.compile(r'<video[^>]*>.*?<source[^>]+src=["\'](.*?)["\']', re.DOTALL)
_RE_VIDEO_SRC = re.compile(r'<video[^>]+src=["\'](.*?)["\']')
_RE_AUDIO_SRC_NESTED = re.compile(r'<audio[^>]*>.*?<source[^>]+src=["\'](.*?)["\']', re.DOTALL)
_RE_AUDIO_SRC = re.compile(r'<audio[^>]+src=["\'](.*?)["\']')
_RE_IFRAME = re.compile(r'<iframe[^>]+src=["\'](.*?)["\']')
_RE_MEDIA_LINK = re.compile(
    r'<a[^>]+href=["\'](.*?\.(?:jpg|jpeg|png|gif|mp4|webm|mp3|pdf))["\']', re.IGNORECASE
)


def find_media_urls(html) -> dict[str, list[str]]:
    """media_downloader.py:325-340 — raw-regex media discovery over the HTML
    string (the reference deliberately bypasses the DOM here)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    html = html or ""
    return {
        "images": _RE_IMG.findall(html),
        "videos": _RE_VIDEO_SRC_NESTED.findall(html) + _RE_VIDEO_SRC.findall(html),
        "audio": _RE_AUDIO_SRC_NESTED.findall(html) + _RE_AUDIO_SRC.findall(html),
        "iframes": _RE_IFRAME.findall(html),
        "media_links": _RE_MEDIA_LINK.findall(html),
    }


def is_youtube_iframe(src: str) -> bool:
    """media_downloader.py:360-362 — embed/watch/youtu.be substring test."""
    return (
        "youtube.com/embed/" in src or "youtube.com/watch" in src or "youtu.be/" in src
    )


# ---------------------------------------------------------------------------
# E13 — YouTube video-id extraction (youtube_downloader.py:32-56)
# ---------------------------------------------------------------------------


def youtube_video_id(url: str) -> str | None:
    """youtube_downloader.py:32-56 — substring-dispatch over 4 URL shapes
    (deliberately naive split-based parsing, replicated verbatim)."""
    if not url:
        return None
    if "youtu.be" in url:
        return url.split("/")[-1].split("?")[0]
    if "youtube.com/watch" in url:
        return parse_qs(urlparse(url).query).get("v", [None])[0]
    if "youtube.com/embed/" in url:
        return url.split("/embed/")[-1].split("?")[0]
    if "youtube.com/shorts/" in url:
        return url.split("/shorts/")[-1].split("?")[0]
    return None


# ---------------------------------------------------------------------------
# E14 — SoundCloud track-id heuristics (soundcloud_downloader.py:34-71)
# ---------------------------------------------------------------------------


_SC_NON_TRACK = ("tracks", "albums", "playlists", "reposts", "followers", "following")


def soundcloud_track_id(url: str) -> str | None:
    """soundcloud_downloader.py:34-71 — path-shape heuristics, replicated
    with the reference's branch ORDER (note: ``artist/sets/x`` hits the
    first branch and yields ``artist/sets`` — the dedicated sets branch is
    only reachable when the first one declines; that quirk is contractual)."""
    if not url:
        return None
    path = urlparse(url).path.strip("/")
    if "/" in path:
        parts = path.split("/")
        if len(parts) >= 2 and parts[0] != "discover" and parts[1] not in _SC_NON_TRACK:
            return f"{parts[0]}/{parts[1]}"
    if "/sets/" in path:
        parts = path.split("/")
        if len(parts) >= 3 and parts[1] == "sets":
            return f"{parts[0]}/sets/{parts[2]}"
    if path and "/" not in path:
        return f"profile/{path}"
    if path.startswith("discover") or path.startswith("search"):
        return f"page/{path}"
    return None


# ---------------------------------------------------------------------------
# E15 — domain extraction (cli.py:188)
# ---------------------------------------------------------------------------


def domain_of(url: str) -> str:
    """cli.py:188 — ``urlparse(url).netloc``."""
    return urlparse(url).netloc


# ---------------------------------------------------------------------------
# E16 — extension inference (media_downloader.py:48-83)
# ---------------------------------------------------------------------------

_CT_DEFAULTS = (("image/", ".jpg"), ("video/", ".mp4"), ("audio/", ".mp3"))

_MIME_EXT = {
    "image/jpeg": ".jpg",
    "image/png": ".png",
    "image/gif": ".gif",
    "image/webp": ".webp",
    "video/mp4": ".mp4",
    "video/webm": ".webm",
    "audio/mpeg": ".mp3",
    "audio/ogg": ".ogg",
    "application/pdf": ".pdf",
}


def infer_extension(url: str, content_type: str | None, valid_exts: frozenset[str]) -> str | None:
    """media_downloader.py:48-83 — URL-path ext → mimetype lookup →
    youtube-/vi/ pattern → content-type-prefix defaults → None."""
    ext = posixpath.splitext(urlparse(url).path)[1].lower()
    if ext and ext in valid_exts:
        return ext
    if content_type:
        ext = _MIME_EXT.get(content_type.split(";")[0].strip().lower())
        if ext and ext in valid_exts:
            return ext
    if "youtube" in url and "/vi/" in url:
        return ".jpg"
    if content_type:
        for prefix, default in _CT_DEFAULTS:
            if content_type.startswith(prefix):
                return default
    return None


# ---------------------------------------------------------------------------
# E17 — content-addressed identity (media_downloader.py:181-184)
# ---------------------------------------------------------------------------


def content_hash(content: bytes) -> str:
    """media_downloader.py:181-184 — ``md5(content).hexdigest()[:10]``;
    the basis of the reference's content-level dedup (URL-seen analogue)."""
    return hashlib.md5(content).hexdigest()[:10]


# ---------------------------------------------------------------------------
# E18 — size humanization (storage.py:185-191)
# ---------------------------------------------------------------------------


def humanize_size(num_bytes: float) -> str:
    """storage.py:185-191 — '<x.x> B/KB/MB/GB/TB' with /1024 steps."""
    size = float(num_bytes)
    for unit in ("B", "KB", "MB", "GB"):
        if size < 1024.0:
            return f"{size:.1f} {unit}"
        size /= 1024.0
    return f"{size:.1f} TB"


# ---------------------------------------------------------------------------
# F2 — URL-shape validation (web_interface.py:153,296)
# ---------------------------------------------------------------------------

URL_SHAPE_RE = r"^https?://[^\s/$.?#].[^\s]*$"
_URL_SHAPE = re.compile(URL_SHAPE_RE)


def is_valid_url(url: str) -> bool:
    return bool(_URL_SHAPE.match(url or ""))
