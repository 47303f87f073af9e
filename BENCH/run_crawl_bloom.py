"""Bloom/prune crossover measured THROUGH run_crawl (VERDICT r3 #3).

The isolated gate benchmark (SCALE.md §bloom-crossover) showed the bloom +
shard-pruned confirm join overtaking the plain exact anti-join past
~25-30M seen keys.  This harness measures the same regimes through the
REAL round loop: a crawl is resumed from a fabricated snapshot whose seen
store holds M synthetic keys (disjoint from the candidates), then the
identical candidate drain runs with the gate in exact mode vs bloom+prune
mode.  Everything outside the gate (seed ingest, politeness, fetch join,
extraction, checkpoints) is identical work, so the wall-time difference
isolates the gate — as experienced by run_crawl, incremental bloom
maintenance and all.

The candidate drain is quota-split across several rounds
(max_per_host_per_round) so the one-time bloom build amortizes over
multiple probe rounds, which is the production regime (build once at
resume, probe every round).

Usage: python BENCH/run_crawl_bloom.py [seen_sizes_csv] [n_candidates]
Appends one JSON line per (M, mode) to stdout and a summary table to
SCALE.md is pasted manually from the output.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from frontier_engine import synth  # noqa: E402
from frontier_engine.frontier import CrawlConfig, run_crawl, seeds_to_frontier  # noqa: E402
from frontier_engine.schema import PAGES  # noqa: E402
from frontier_engine.session import get_spark  # noqa: E402
from frontier_engine.storage import SnapshotStore  # noqa: E402

N_SHARDS = int(os.environ.get("CBX_SHARDS", "256"))
BITS_PER_SHARD = int(os.environ.get("CBX_BITS", str(1 << 20)))


def build_fixture(spark, n_seen: int, n_cand: int) -> tuple[str, str]:
    """(checkpoint_template_dir, corpus_dir) — cached per (n_seen, n_cand).

    The template holds a round-0 snapshot: frontier = the canonicalized
    candidate seeds (pending, eligible now), seen = M synthetic keys on
    hosts disjoint from the corpus.  Each timed run copies the template so
    resume state never leaks between modes.
    """
    tag = f"{n_seen}_{n_cand}"
    corpus_dir = os.path.join(tempfile.gettempdir(), f"cbx_corpus_{n_cand}")
    tmpl_dir = os.path.join(tempfile.gettempdir(), f"cbx_ckpt_{tag}")
    done = os.path.join(tmpl_dir, "_DONE")
    if os.path.exists(done) and os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        return tmpl_dir, corpus_dir
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        mode = "overwrite"
        for chunk in synth.iter_pages_chunks(n_cand):
            spark.createDataFrame(chunk, schema=PAGES).repartition(8).write.mode(mode).parquet(corpus_dir)
            mode = "append"
    corpus = spark.read.parquet(corpus_dir)
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    seeds = (
        corpus.select("url").distinct()
        .withColumn("seed_index", F.row_number().over(Window.orderBy("url")).cast("long") - 1)
        .select("seed_index", "url")
        .repartition(16)
    )
    frontier = seeds_to_frontier(spark, seeds)
    # synthetic seen keys on a host family the corpus never uses — the
    # SURT-shaped key matters only for distinctness and realistic width
    seen = spark.range(n_seen).select(
        F.concat(F.lit("com,seenstore)/k"), F.col("id")).alias("url_key"),
        F.concat(F.lit("https://seenstore.com/k"), F.col("id")).alias("url"),
        F.lit(None).cast("string").alias("content_hash"),
    ).repartition(32)
    store = SnapshotStore(spark, tmpl_dir)
    store.commit_round(0, {"frontier": frontier, "seen": seen}, extra={"metrics_format": "delta"})
    with open(done, "w") as fh:
        fh.write("ok")
    return tmpl_dir, corpus_dir


def timed_run(spark, tmpl_dir: str, corpus_dir: str, use_bloom: bool) -> dict:
    import shutil

    # fresh resume dir per run so rounds written by one mode never leak
    # into the next; the immutable round-0 tables (the multi-GB seen
    # parquet) are symlinked, only the manifest is copied
    run_dir = tempfile.mkdtemp(prefix="cbx_run_")
    src_round = os.path.join(tmpl_dir, "rounds", "round_00000")
    dst_round = os.path.join(run_dir, "rounds", "round_00000")
    os.makedirs(dst_round)
    for name in os.listdir(src_round):
        src = os.path.join(src_round, name)
        if os.path.isdir(src):
            os.symlink(src, os.path.join(dst_round, name))
        else:
            shutil.copy(src, os.path.join(dst_round, name))
    corpus = spark.read.parquet(corpus_dir)
    cfg = CrawlConfig(
        round_seconds=1e9,
        max_rounds=6,
        max_depth=0,
        use_bloom=use_bloom,
        bloom_shards=N_SHARDS,
        bloom_bits_per_shard=BITS_PER_SHARD,
        n_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "16")),
        # drain the candidates over several rounds so the one-time bloom
        # build amortizes over several probe rounds (the production regime)
        max_per_host_per_round=int(os.environ.get("CBX_QUOTA", "60")),
        checkpoint_dir=run_dir,
    )
    t0 = time.perf_counter()
    res = run_crawl(spark, corpus, [], cfg)
    dt = time.perf_counter() - t0
    n_seen = res.seen.count()
    out = {
        "mode": "bloom+prune" if use_bloom else "exact",
        "sec": round(dt, 2),
        "rounds": res.rounds,
        "urls_seen_final": n_seen,
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    return out


def main():
    sizes = [int(x) for x in (sys.argv[1] if len(sys.argv) > 1 else "1000000,8000000,32000000").split(",")]
    n_cand = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    spark = get_spark(f"local[{cpus}]", app_name="crawl-bloom-crossover",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for n_seen in sizes:
        tmpl, corpus = build_fixture(spark, n_seen, n_cand)
        # warm-up once per fixture (JIT, footers) with the cheap exact mode
        timed_run(spark, tmpl, corpus, use_bloom=False)
        for use_bloom in (False, True):
            r = timed_run(spark, tmpl, corpus, use_bloom)
            r.update({"seen_keys": n_seen, "candidates": n_cand})
            results.append(r)
            print(json.dumps(r), flush=True)
    # pairwise ratios
    by = {(r["seen_keys"], r["mode"]): r["sec"] for r in results}
    for n_seen in sizes:
        ex, bl = by.get((n_seen, "exact")), by.get((n_seen, "bloom+prune"))
        if ex and bl:
            print(json.dumps({"seen_keys": n_seen, "exact_sec": ex, "bloom_prune_sec": bl,
                              "speedup_bloom_over_exact": round(ex / bl, 2)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
