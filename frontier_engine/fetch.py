"""Fetch stage: vectorized batch fetch + extraction (S5, SURVEY §2.1).

Two engines:

* ``fetch_via_pages_table`` — the TESTED path (input_hint: in this sandbox
  "fetch" = lookup join against the synthetic ``pages`` table — the web as
  a table).  A plain left join: fully distributed, no Python worker at all;
  missing URLs become status='failed' (the reference's per-URL error
  isolation, main.py:125-127, becomes rows not exceptions — P5).

* ``fetch_http_batch`` — the real-web path: ``applyInPandas`` per host
  group, one requests.Session per group (connection reuse,
  scraper.py:112), honoring per-host fetch order (host_rank) inside the
  batch.  ``requests`` is absent in this sandbox, so the path is gated
  behind an import-try and clearly raises if unavailable; its Spark-side
  plumbing (schema, grouping, batch shape) is identical to the tested path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

FETCH_COLS = [
    StructField("html", BinaryType(), True),
    StructField("http_status", IntegerType(), True),
    StructField("fetch_status", StringType(), False),  # fetched|failed
    StructField("error", StringType(), True),
]


def fetch_via_pages_table(candidates: DataFrame, pages: DataFrame) -> DataFrame:
    """Simulated fetch: left join on url against the pages corpus.

    Join strategy (the 100 TB plan): the per-round candidate set is bounded
    by the politeness quota and is orders of magnitude smaller than the
    corpus, so the candidate URL list is BROADCAST and the corpus is
    semi-joined with a plain scan — the corpus is never shuffled (shuffling
    100 TB of html per round would dominate everything).  Only the matching
    captures (≈ candidate count) reach the earliest-capture dedup window and
    the final left join.
    """
    from pyspark.sql import Window

    cand_urls = F.broadcast(candidates.select("url").distinct())
    matches = pages.select("url", "html", "warc_ts").join(cand_urls, "url")
    # the corpus may hold several captures of one url (re-crawls); serve the
    # earliest capture deterministically so the join never fans out — the
    # window runs on the MATCHES only, never the full corpus
    w = Window.partitionBy("url").orderBy("warc_ts")
    body = (
        matches.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("url", "html", F.col("warc_ts").alias("fetched_warc_ts"))
    )
    joined = candidates.join(body, "url", "left")
    return (
        joined.withColumn("http_status", F.when(F.col("html").isNotNull(), 200).otherwise(404))
        .withColumn(
            "fetch_status",
            F.when(F.col("html").isNotNull(), F.lit("fetched")).otherwise(F.lit("failed")),
        )
        .withColumn(
            "error",
            F.when(F.col("html").isNull(), F.lit("not_found")).otherwise(F.lit(None).cast("string")),
        )
    )


def pick_user_agent(url: str, user_agents: list[str]) -> str:
    """P9 — deterministic UA rotation: crc32(url) % len(UAs) replaces the
    reference's random.choice (scraper.py:113-118) so reruns are
    reproducible while still spreading agents across URLs."""
    import zlib

    return user_agents[zlib.crc32(url.encode()) % len(user_agents)]


def fetch_http_batch(candidates: DataFrame, timeout: float = 10.0, user_agents: list[str] | None = None) -> DataFrame:
    """Real HTTP fetch as host-grouped Arrow batches.  In this sandbox
    ``requests`` exists but there is no network, so every row becomes a P5
    failure-row (exercised end-to-end by the pipeline fetcher-threading
    test); the import-try guard covers environments without ``requests``.
    Same output schema as fetch_via_pages_table.

    Per-host group semantics (mirrors the reference politely):
      * rows are fetched in host_rank order (the politeness sequence P8)
      * one Session per host group — connection reuse (scraper.py:112)
      * deterministic UA choice: xxhash of url % len(UAs) (P9 parity-mode
        replacement for random.choice, scraper.py:113-118)
    """
    try:
        import requests  # noqa: F401
    except ImportError as e:  # pragma: no cover - sandbox has no requests
        raise NotImplementedError(
            "fetch_http_batch requires the 'requests' package and live network; "
            "use fetch_via_pages_table in offline/test environments"
        ) from e

    uas = user_agents or ["frontier-engine/0.1"]
    out_schema = StructType(list(candidates.schema.fields) + FETCH_COLS)

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:  # pragma: no cover
        import requests

        session = requests.Session()
        pdf = pdf.sort_values("host_rank")
        htmls, statuses, fstat, errs = [], [], [], []
        for url in pdf["url"]:
            try:
                ua = pick_user_agent(url, uas)
                resp = session.get(url, timeout=timeout, headers={"User-Agent": ua})
                body = resp.content or None
                htmls.append(body)
                statuses.append(resp.status_code)
                fstat.append("fetched" if body and resp.ok else "failed")
                errs.append(None if resp.ok else f"http_{resp.status_code}")
            except Exception as exc:  # P5: failures are rows
                htmls.append(None)
                statuses.append(None)
                fstat.append("failed")
                errs.append(str(exc)[:200])
        return pdf.assign(html=htmls, http_status=statuses, fetch_status=fstat, error=errs)

    return candidates.groupBy("host").applyInPandas(run, schema=out_schema)
