"""Bloom crossover: at what seen-set size does the bloom gate beat exact?

VERDICT r2 #5: round-2 evidence stopped at 625k keys, where bloom loses by
design.  This bench isolates the per-round URL-seen GATE (the only state
that grows without bound) and sweeps the seen-set size with everything else
fixed, so the crossover point is measurable:

* seen store: synthetic url_keys written as parquet PARTITIONED BY
  shard_id = pmod(xxhash64(key), n_shards), so pruning skips whole files.
  This layout is the bench's own: the engine's SnapshotStore writes seen
  deltas as (url_key, url, content_hash), with no shard column and no
  partitioning, and run_crawl recomputes shard_id map-side, so inside the
  crawl pruning removes rows before the confirm shuffle, not files.
* candidates: one politeness-quota-bounded round's worth (fixed size),
  10% already-seen (link re-discovery) + 90% new — the crawl regime.
* exact path  = left-anti join candidates × full seen store (what every
  round pays without bloom).
* bloom path  = sharded-bloom probe (cogroup) → negatives skip; positives
  confirm against ONLY the shards that contain a positive
  (``filter_unseen(prune_shard_col=...)``) — partition pruning on the
  store, so confirm cost follows the positive sliver, not the seen size.
* the one-time shard BUILD is reported separately: run_crawl tops its
  shards up with each round's new keys (O(delta) ``seen.add_keys``, see
  frontier.py), so build cost amortizes over the crawl, while exact pays
  its full join EVERY round.

Method (spark-sandbox-performance): one JVM, interleaved trials, warm-up
first, best-of-k per (path, size); never concurrent with another bench.

Usage: python BENCH/run_bloom_crossover.py [sizes_csv] [n_candidates] [trials] [n_shards]
Appends the crossover table to SCALE.md and prints one JSON line.

Two regimes worth measuring (both in SCALE.md):
* big rounds (200k candidates, 512 shards): positives hit every shard, so
  the bloom win is purely the thinner confirm-join left side;
* small selective rounds (5k candidates, 4096 shards): positives hit a
  FRACTION of the shards, so shard pruning also skips most of the seen
  store's files — the regime where confirm cost follows the positive
  sliver.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from frontier_engine import seen as seenmod  # noqa: E402
from frontier_engine.session import get_spark  # noqa: E402

N_SHARDS = 512  # finer sharding than the crawl default: pruning granularity


def synth_keys(spark, n: int, offset: int = 0):
    """n SURT-shaped url_keys, fully JVM-side (spark.range → concat)."""
    return spark.range(offset, offset + n).select(
        F.concat(
            F.lit("com,site"), (F.col("id") % 997).cast("string"),
            F.lit(")/p/"), F.col("id").cast("string"), F.lit(".html"),
        ).alias("url_key")
    )


def build_store(spark, size: int, n_shards: int) -> str:
    store = f"/tmp/bloom_xover_seen_{size}" + ("" if n_shards == 512 else f"_{n_shards}")
    if not os.path.exists(os.path.join(store, "_SUCCESS")):
        df = seenmod.with_shard_id(synth_keys(spark, size), "url_key", n_shards)
        # repartition by the partition column: one file per shard dir, not
        # one file per (task, shard) pair
        df.repartition(64, "shard_id").write.mode("overwrite").partitionBy("shard_id").parquet(store)
    return store


def main():
    sizes = [int(s) for s in (sys.argv[1].split(",") if len(sys.argv) > 1 else
                              ["1000000", "4000000", "16000000", "48000000"])]
    n_cand = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    n_shards = int(sys.argv[4]) if len(sys.argv) > 4 else N_SHARDS
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))

    spark = get_spark(f"local[{cores}]", app_name="bloom-crossover",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    results = []
    for size in sizes:
        store = build_store(spark, size, n_shards)
        seen = spark.read.parquet(store)
        # candidates: 10% re-discovered (keys 0..n/10 from the store), 90% new
        n_dup = n_cand // 10
        cand_path = f"/tmp/bloom_xover_cand_{size}_{n_cand}"
        if not os.path.exists(os.path.join(cand_path, "_SUCCESS")):
            cand = synth_keys(spark, n_dup).unionAll(
                synth_keys(spark, n_cand - n_dup, offset=size)
            )
            cand.repartition(cores * 2).write.mode("overwrite").parquet(cand_path)
        cand = spark.read.parquet(cand_path)

        # one-time shard build (amortized in production via O(delta) merges)
        t0 = time.perf_counter()
        shards = seenmod.build_bloom_shards(
            seen, n_shards=n_shards, expected_per_shard=max(1024, int(size / n_shards * 1.5))
        ).localCheckpoint(eager=True)
        build_sec = round(time.perf_counter() - t0, 2)

        def run_exact() -> float:
            t = time.perf_counter()
            n = seenmod.filter_unseen(cand, seen).count()
            assert n == n_cand - n_dup, n
            return time.perf_counter() - t

        def run_bloom() -> float:
            t = time.perf_counter()
            n = seenmod.filter_unseen(
                cand, seen, shards=shards, n_shards=n_shards,
                prune_shard_col="shard_id",
            ).count()
            assert n == n_cand - n_dup, n
            return time.perf_counter() - t

        run_exact(); run_bloom()  # warm-up (JIT, python workers, footers)
        ex = min(run_exact() for _ in range(trials))
        bl = min(run_bloom() for _ in range(trials))
        row = {"seen_keys": size, "exact_sec": round(ex, 2), "bloom_sec": round(bl, 2),
               "bloom_build_sec": build_sec, "speedup": round(ex / bl, 2)}
        results.append(row)
        print("ROW " + json.dumps(row), file=sys.stderr)
        shards.unpersist()

    out = {"n_candidates": n_cand, "cores": cores, "n_shards": n_shards, "rows": results}
    print(json.dumps(out))

    lines = "\n".join(
        f"| {r['seen_keys']:,} | {r['exact_sec']} | {r['bloom_sec']} | "
        f"{r['bloom_build_sec']} | {r['speedup']}× |"
        for r in results
    )
    section = f"""

## Bloom crossover vs seen-set size (measured, round 3)

Per-round URL-seen gate in isolation: {n_cand:,} candidates (10% already
seen), seen store parquet-partitioned by shard_id ({n_shards} shards),
local[{cores}], warm JVM, best-of-{trials}.  Bloom path = cogrouped shard
probe, negatives skip, positives confirm against ONLY bloom-positive shards
(`filter_unseen(prune_shard_col=...)` — partition pruning on the store).
The shard BUILD is one-time (production maintains shards with O(delta)
merges per round); exact pays its full anti-join every round.

| seen keys | exact sec/round | bloom sec/round | bloom build (once) | bloom speedup |
|---|---|---|---|---|
{lines}

Raw JSON: `{json.dumps(out)}`
"""
    with open(os.path.join(REPO, "SCALE.md"), "a") as fh:
        fh.write(section)
    spark.stop()


if __name__ == "__main__":
    main()
