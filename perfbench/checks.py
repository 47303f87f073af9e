"""Output checks, run outside the timed region.

Each check returns a list of human-readable problems; an empty list passes.
The crawl checks take the engine's result DataFrames, so a test can plant a
bad row and watch the check catch it.
"""

from __future__ import annotations

import decimal
import hashlib
import math


def _norm(v):
    """Engine-independent value form: floats to 6 significant digits (the
    repo's oracle-comparison tolerance), sequences to tuples."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else f"{f:.6g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def rows_digest(columns, rows) -> str:
    """Order-insensitive sha256 of a result set: columns sorted by name,
    values normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in body:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def check_digest(name: str, df, want: str) -> list[str]:
    got = rows_digest(df.columns, [tuple(r) for r in df.collect()])
    return [] if got == want else [f"{name}: result digest {got[:12]} != oracle {want[:12]}"]


def check_politeness(pages, round_seconds: float, crawl_delay: float) -> list[str]:
    """No host fetches more than floor(round_seconds / crawl_delay) pages in
    one round (minimum 1, as in ``politeness.rank_and_quota``)."""
    from pyspark.sql import functions as F

    quota = max(1, math.floor(round_seconds / crawl_delay))
    over = (
        pages.groupBy("host", "round").count().filter(F.col("count") > quota).limit(3).collect()
    )
    return [f"politeness: {r['host']} fetched {r['count']} > {quota} in round {r['round']}" for r in over]


def check_seen(seen, pages) -> list[str]:
    """Seen keys are unique, and every fetched url_key is in seen."""
    dups = seen.groupBy("url_key").count().filter("count > 1").limit(3).collect()
    missing = pages.select("url_key").join(seen, "url_key", "left_anti").limit(3).collect()
    return [f"seen: key {r['url_key']} appears {r['count']} times" for r in dups] + [
        f"seen: fetched key {r['url_key']} missing from seen" for r in missing
    ]


def check_no_refetch(pages, history) -> list[str]:
    """A resumed crawl never fetches a key its seen history already holds."""
    hits = pages.select("url_key").join(history.select("url_key"), "url_key", "left_semi").limit(3).collect()
    return [f"resume: history key {r['url_key']} fetched again" for r in hits]


def check_text(pages, sample: int) -> list[str]:
    """Extracted ``text`` is byte-identical to ``refsem.extract_text(html)``
    on the first ``sample`` pages by url_key."""
    from frontier_engine import refsem

    rows = pages.select("url_key", "html", "text").orderBy("url_key").limit(sample).collect()
    if not rows:
        return ["text: no fetched pages to sample"]
    return [
        f"text: {r['url_key']} differs from refsem.extract_text"
        for r in rows
        if r["text"] != refsem.extract_text(r["html"])
    ]
