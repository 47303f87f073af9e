"""Seeded benchmark inputs, built once per (input, size, seed) and cached.

Everything lives under ``<checkout>/.perfbench_cache/`` (git-ignored), so a
run never writes into tracked files.  The files here are written with
pyarrow before Spark starts, so a cache hit never changes how warm the
session is.  The snapshot-store template for ``recrawl_resume`` needs a
session; :func:`store_template` builds it in every run, as that run's
warm-up.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import shutil
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq

from checks import rows_digest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

SIZES = {
    "full": {
        "recrawl_resume": {"pages": 3000, "seeds": 1500, "history": 300_000},
        "corpus_dedup": {"docs": 2000, "warmup_docs": 100},
    },
    # smoke-test scale: every code path, seconds per run
    "toy": {
        "recrawl_resume": {"pages": 120, "seeds": 80, "history": 2_000},
        "corpus_dedup": {"docs": 120, "warmup_docs": 40},
    },
}

# the six registered dedup-family queries corpus_dedup runs, in run order
DEDUP_QUERIES = (
    "minhash_signatures",
    "lsh_pairs",
    "dedup_clusters",
    "ngram_jaccard",
    "quality_classifier",
    "tfidf_topterms",
)


def cached(name: str, dims: dict, seed: int, build) -> str:
    """Directory holding this input set, keyed by its sizes and seed;
    ``build(tmp_dir)`` fills it on a miss.  Publish is a rename, so a killed
    build never leaves a half set."""
    key = hashlib.sha1(json.dumps(dims, sort_keys=True).encode()).hexdigest()[:10]
    path = os.path.join(CACHE, "inputs", f"{name}-{key}-s{seed}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


# -- recrawl_resume inputs ------------------------------------------------------


def _pages_table(rows) -> pa.Table:
    return pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        },
        schema=pa.schema(
            [
                pa.field("url", pa.string(), nullable=False),
                pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
                pa.field("html", pa.binary()),
                pa.field("text", pa.string()),
                pa.field("lang", pa.string()),
            ]
        ),
    )


def crawl_inputs(size: str, seed: int) -> str:
    """``corpus.parquet`` (``synth.gen_pages``) and ``seeds.txt``
    (``synth.gen_seed_lines``), both a pure function of ``seed``."""
    from frontier_engine import synth

    n = SIZES[size]["recrawl_resume"]

    def build(d: str) -> None:
        rows = synth.gen_pages(n["pages"], seed=seed, with_text=False)
        # small row groups so the scan splits across every core
        pq.write_table(_pages_table(rows), os.path.join(d, "corpus.parquet"), row_group_size=256)
        # gen_seed_lines only needs page URLs, which do not depend on the
        # golden text; skipping that sequential extraction saves ~5 s per 10k
        no_text = functools.partial(synth.gen_pages, with_text=False)
        with mock.patch.object(synth, "gen_pages", no_text):
            lines = synth.gen_seed_lines(n["pages"], n["seeds"], seed=seed + 1)
        with open(os.path.join(d, "seeds.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    return cached("recrawl_resume", n, seed, build)


def read_seed_urls(input_dir: str) -> list[str]:
    from frontier_engine import synth

    with open(os.path.join(input_dir, "seeds.txt")) as fh:
        return synth.parse_seed_lines(fh.read().split("\n"))


def history(size: str) -> str:
    """``history.parquet``: seen rows for archive pages on the corpus hosts
    (30% on the hot host), keyed by the engine's own ``surt_key``.  It does
    not depend on the seed, so it is built once per checkout."""
    from frontier_engine.canonicalize import surt_key

    n = SIZES[size]["recrawl_resume"]["history"]

    def build(d: str) -> None:
        urls = [
            f"https://{'hot.example.com' if i % 10 < 3 else f'site{i % 20}.example.org'}/archive/a{i}.html"
            for i in range(n)
        ]
        table = pa.table(
            {
                "url_key": [surt_key(u) for u in urls],
                "url": urls,
                "content_hash": [hashlib.md5(u.encode()).hexdigest()[:10] for u in urls],
            }
        )
        pq.write_table(table, os.path.join(d, "history.parquet"))

    return cached("history", {"history": n}, 0, build)


def store_template(spark, input_dir: str, history_dir: str, path: str) -> None:
    """Round 0 of a crawl, committed through ``SnapshotStore`` at ``path``:
    the seed frontier, and as seen the archive history plus every other seed
    (so the resumed crawl's seen gate drops half the seed list)."""
    from pyspark.sql import functions as F

    from frontier_engine.frontier import seeds_to_frontier
    from frontier_engine.storage import SnapshotStore

    frontier = seeds_to_frontier(spark, read_seed_urls(input_dir)).localCheckpoint(eager=True)
    seen_seeds = frontier.filter(F.col("seed_index") % 2 == 0).select(
        "url_key", "url", F.substring(F.md5("url"), 1, 10).alias("content_hash")
    )
    archive = spark.read.parquet(os.path.join(history_dir, "history.parquet"))
    SnapshotStore(spark, path).commit_round(
        0,
        {"frontier": frontier, "seen": archive.unionByName(seen_seeds)},
        extra={"virtual_now": 0.0, "metrics_format": "delta"},
    )


# -- corpus_dedup inputs --------------------------------------------------------

# the sf-series documents table's shape (its 30 words, 5% near-duplicates:
# a copy of another doc plus " dup"), with changes that give every seed the
# same near-duplicate graph, so connected components runs the same number of
# rounds and only the texts change with the seed: each near-duplicate copies
# a distinct original, and the vocabulary adds 170 filler terms and docs have
# 40-100 words, so unrelated docs share almost no word trigrams and LSH
# finds no chance pairs among the ~2M document pairs
_WORDS = (
    "a the data spark row column table key value join group agg filter sort scan "
    "hash merge window stream batch query order line part customer vector fast slow big small"
).split() + [f"term{i:03d}" for i in range(170)]
_LANGS = (("en", 40), ("zh", 15), ("es", 15), ("fr", 15), ("de", 15))


def _documents(n: int, seed: int) -> pa.Table:
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randint(40, 100))) for _ in range(n)]
    picks = rng.sample(range(n), 2 * (n // 20))
    for copy, orig in zip(picks[::2], picks[1::2]):
        texts[copy] = texts[orig] + " dup"
    langs = rng.choices([lang for lang, _ in _LANGS], weights=[w for _, w in _LANGS], k=n)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def dedup_inputs(size: str, seed: int) -> str:
    """``documents.parquet``; ``warmup/documents.parquet``, a small table
    for the set-up pass; and ``oracle.json``, the digest of each dedup
    query's ``oracle_sql()`` twin evaluated on DuckDB over the main table."""
    import duckdb

    import __spark_entry__ as entry

    n = SIZES[size]["corpus_dedup"]

    def build(d: str) -> None:
        path = os.path.join(d, "documents.parquet")
        pq.write_table(_documents(n["docs"], seed), path)
        os.makedirs(os.path.join(d, "warmup"))
        pq.write_table(_documents(n["warmup_docs"], seed + 1), os.path.join(d, "warmup", "documents.parquet"))
        con = duckdb.connect(config={"temp_directory": os.path.join(CACHE, "tmp", "duckdb")})
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            sql = entry.oracle_sql()
            digests = {}
            for q in DEDUP_QUERIES:
                res = con.sql(sql[q])
                digests[q] = rows_digest(res.columns, res.fetchall())
        finally:
            con.close()
        with open(os.path.join(d, "oracle.json"), "w") as fh:
            json.dump(digests, fh, indent=1, sort_keys=True)

    return cached("corpus_dedup", n, seed, build)
