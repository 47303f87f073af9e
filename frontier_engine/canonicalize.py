"""URL canonicalization: RFC 3986 normalization + SURT frontier keys.

The reference dedups on the RAW url string (main.py:197-206 +
pipeline.yaml:56-58); the engine keeps that for parity but keys its own
URL-seen set and frontier on a canonical form (north_rule: "partitioned
bloom/cuckoo filters keyed by canonicalized URL hash (RFC 3986 normalization
+ SURT form)").  Canonicalization steps (public practice per RFC 3986 §6 and
the Heritrix/Common-Crawl SURT convention):

* lowercase scheme + host; strip trailing dot on host
* drop default ports (http:80 / https:443)
* percent-decode unreserved characters, uppercase remaining %XX
* collapse dot-segments in the path; empty path → '/'
* sort query parameters; drop the fragment
* SURT: reverse host labels 'a.b.com' → 'com,b,a)' prefix so same-domain
  URLs sort/partition together (locality for per-host politeness grouping)

Pure-Python core (used inside the Arrow-batched UDF) + Spark-native column
helpers for the cheap pieces (host, URL shape, path template).
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": "80", "https": "443"}
_UNRESERVED = re.compile(r"%(2D|2E|5F|7E|3[0-9]|[46][1-9A-F]|[57][0-9A])", re.IGNORECASE)
_OTHER_PCT = re.compile(r"%([0-9A-Fa-f]{2})")


def _norm_pct(s: str) -> str:
    """Percent-decode UNRESERVED escapes only, uppercase remaining escapes
    (RFC 3986 §6.2.2.1-2).  Reserved escapes like %2F must survive: '/a%2Fb'
    and '/a/b' are DIFFERENT resources and must not collapse to one url_key
    (a full unquote/quote round-trip would merge them and the frontier would
    never crawl one of the two)."""
    s = _UNRESERVED.sub(lambda m: chr(int(m.group(1), 16)), s)
    return _OTHER_PCT.sub(lambda m: "%" + m.group(1).upper(), s)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments, implemented verbatim.

    Unlike a split/filter/join, this PRESERVES empty segments and trailing
    slashes: '/a//b' and '/a/' are distinct resources from '/a/b' and '/a',
    and §6 normalization does not license merging them.  Output never
    contains a pure '.' or '..' segment, so the function is idempotent.
    """
    out: list[str] = []
    while path:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        elif path.startswith("/./"):
            path = "/" + path[3:]
        elif path == "/.":
            path = "/"
        elif path.startswith("/../"):
            path = "/" + path[4:]
            if out:
                out.pop()
        elif path == "/..":
            path = "/"
            if out:
                out.pop()
        elif path in (".", ".."):
            path = ""
        else:
            i = path.find("/", 1)
            if i == -1:
                out.append(path)
                path = ""
            else:
                out.append(path[:i])
                path = path[i:]
    return "".join(out)


def canonical_url(url: str | None) -> str | None:
    """RFC 3986-normalized absolute URL, fragment dropped.

    Uses ``urlsplit`` (NOT ``urlparse``): urlparse splits ';params' off the
    last path segment and a rebuild that forgets ``p.params`` silently drops
    them, merging '/page;v=1' with '/page' and breaking idempotence
    ('http://a.aa/;/' -> 'http://a.aa/;' -> 'http://a.aa/').  urlsplit keeps
    the path byte-for-byte.  Idempotence is the contract the seen set and
    frontier key on (tests/test_properties.py).
    """
    if not url:
        return None
    try:
        p = urlsplit(url.strip())
    except ValueError:
        return None
    scheme = p.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (p.hostname or "").lower().rstrip(".")
    if not host:
        return None
    port = ""
    try:
        if p.port and str(p.port) != _DEFAULT_PORTS.get(scheme):
            port = f":{p.port}"
    except ValueError:
        return None
    path = _remove_dot_segments(_norm_pct(p.path)) or "/"
    query = ""
    if p.query:
        # normalize BEFORE sorting: '%61' must sort as 'a', or the second
        # canonicalization pass would reorder the already-normalized parts
        parts = sorted(_norm_pct(q) for q in p.query.split("&") if q)
        if parts:
            query = "?" + "&".join(parts)
    return f"{scheme}://{host}{port}{path}{query}"


def surt_key(url: str | None) -> str | None:
    """SURT form of the canonical URL: 'com,example,www)/path?query'.

    The frontier/seen key: per-domain locality under range partitioning,
    stable hash input for the Bloom shards.
    """
    cu = canonical_url(url)
    if cu is None:
        return None
    p = urlsplit(cu)  # urlsplit: keep ';params' inside p.path (see canonical_url)
    host = p.hostname or ""
    rev = ",".join(reversed(host.split(".")))
    port = f":{p.port}" if p.port else ""
    q = f"?{p.query}" if p.query else ""
    return f"{rev}{port}){p.path}{q}"


@pandas_udf(StringType())
def surt_key_udf(urls: pd.Series) -> pd.Series:
    return urls.map(surt_key, na_action="ignore")


# ---------------------------------------------------------------------------
# Spark-native column helpers (no Python worker)
# ---------------------------------------------------------------------------


def host_col(url: Column) -> Column:
    """E15 (cli.py:188): netloc — Spark-native ``parse_url``."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def valid_url_col(url: Column) -> Column:
    """F2 (web_interface.py:153): URL-shape gate as native rlike."""
    return url.rlike(r"^https?://[^\s/$.?#].[^\s]*$")


def path_template_col(path: Column) -> Column:
    """URL-path TEMPLATE for crawler-trap detection — the shared expression
    behind ``textops.url_template_stats`` (rollup side) and
    ``run_crawl(trap_templates=...)`` (gate side); both MUST collapse paths
    identically or flagged templates never match candidates.  Long hex runs
    collapse to 'X' FIRST (a mixed id like 'deadbeef1234' must become one
    X, not alternating letter/N fragments), then digit runs to 'N'."""
    return F.regexp_replace(
        F.regexp_replace(path, F.lit(r"[0-9a-f]{8,}"), F.lit("X")),
        F.lit(r"[0-9]+"),
        F.lit("N"),
    )
