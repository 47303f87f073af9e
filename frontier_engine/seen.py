"""Distributed URL-seen set: partitioned Bloom shards + authoritative anti-join.

North-rule core (SURVEY §2.6).  Semantics to preserve (reference):
row-level dedup by url keep-first (main.py:197-206) and content-level dedup
via md5[:10] content addressing (media_downloader.py:181-188).

Design for 10^10 keys:

* The seen set lives as a DataFrame/table of ``url_key`` (SURT canonical
  form).  The EXACT left-anti join against it is always authoritative —
  Bloom false positives can only send a candidate to the exact join, never
  drop it; Bloom negatives are *definitely unseen* and skip the join.
* Bloom state is SHARDED by hash-space: ``shard_id = pmod(xxhash64(url_key),
  n_shards)``.  Each shard is a fixed-size bitmap built per shard-group with
  ``applyInPandas`` (numpy, vectorized), OR-merged if a shard is built
  incrementally.  Shards stay IN A DATAFRAME — (shard_id, bitmap) — and the
  membership test is a cogrouped ``applyInPandas`` join on shard_id, so no
  bitmap ever has to fit on the driver (at 10^10 keys / 1% fp the full
  filter is ~12 GB; 4096 shards of ~3 MB each spread across executors).
* Bloom hashing runs in the JVM: two ``xxhash64`` columns, each seeded by
  its own salt, give the double-hashing words h1, h2 (positions
  h1 + i*h2 mod m_bits, in wrapping uint64).  Only those longs cross into
  ``applyInPandas``; Python does the position arithmetic with numpy alone.
  The salts keep both words independent of the unsalted
  ``pmod(xxhash64(key))`` that ROUTES a key to its shard — reusing that
  hash would tie bit positions to the shard id.  ``HASH_SCHEME`` names the
  scheme; persisted bitmaps carry it in their marker, so a bitmap hashed
  another way is rebuilt, never probed.

At small scale the exact anti-join alone wins: ``filter_unseen`` takes the
bloom path only when it is given shards, and correctness tests run both
paths and assert identical results.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

SHARD_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType(), False),
        StructField("n_keys", LongType(), False),
        StructField("bitmap", BinaryType(), False),
    ]
)

K_HASHES = 7  # ~optimal for 1% fp: k = m/n ln2 with m/n ≈ 9.6


HASH_SCHEME = "xxhash64-salted-v1"
_SALTS = ("bloom-h1", "bloom-h2")
_H_COLS = ["__h1", "__h2"]
_I_RANGE = np.arange(K_HASHES, dtype=np.uint64)


def _hash_cols(key_col: str) -> list:
    """The two salted JVM hash words of ``key_col``, as long columns."""
    return [F.xxhash64(F.lit(salt), F.col(key_col)).alias(c) for salt, c in zip(_SALTS, _H_COLS)]


def _positions(h1, h2, m_bits: int) -> np.ndarray:
    """(n, K_HASHES) bit positions h1 + i*h2 mod m_bits.  The sum wraps
    modulo 2^64 before the final mod, so a byte-aligned m_bits that is not
    a power of two places a key's bits identically at build and probe."""
    h1 = np.asarray(h1, dtype=np.int64).view(np.uint64)
    h2 = np.asarray(h2, dtype=np.int64).view(np.uint64) | np.uint64(1)
    return ((h1[:, None] + _I_RANGE[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _hashed_keys(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    """(shard_id, __h1, __h2) per non-null key: all a bitmap fill reads."""
    return with_shard_id(df.filter(F.col(key_col).isNotNull()), key_col, n_shards).select(
        "shard_id", *_hash_cols(key_col)
    )


def _fill(shard_id, bitmap: np.ndarray, n_keys: int, keys: pd.DataFrame) -> pd.DataFrame:
    """OR the bits of ``keys`` (hash-word rows) into ``bitmap``; one
    SHARD_SCHEMA row."""
    if len(keys):
        pos = _positions(keys["__h1"], keys["__h2"], len(bitmap) * 8).ravel()
        # unbuffered |= — two hash positions may share a byte; plain
        # fancy-assignment would keep only one of the bits
        np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return pd.DataFrame(
        {"shard_id": [int(shard_id)], "n_keys": [int(n_keys) + len(keys)], "bitmap": [bitmap.tobytes()]}
    )


def bits_for(expected_keys_per_shard: int, fp_rate: float = 0.01) -> int:
    m = int(-expected_keys_per_shard * math.log(fp_rate) / (math.log(2) ** 2))
    return max(1024, (m + 7) // 8 * 8)  # byte-aligned


def with_shard_id(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    return df.withColumn("shard_id", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int"))


def build_bloom_shards(
    seen: DataFrame, key_col: str = "url_key", n_shards: int = 64, fp_rate: float = 0.01,
    expected_per_shard: int | None = None, m_bits: int | None = None,
) -> DataFrame:
    """(shard_id, n_keys, bitmap) — one row per non-empty shard.

    Build = one shuffle on shard_id, then a vectorized per-group bitmap
    fill.  Incremental growth: OR new keys into standing shards with
    ``add_keys`` (one pass), or OR-merge two built sets with ``merge_shards``.

    Size shards by capacity (``m_bits`` directly or ``expected_per_shard``)
    — counting the seen set to autosize costs a full extra action per round;
    production sizes by the frontier budget instead.
    """
    if m_bits is None:
        if expected_per_shard is None:
            total = seen.count()
            expected_per_shard = max(1024, int(total / n_shards * 1.5))
        m_bits = bits_for(expected_per_shard, fp_rate)

    def build(key, pdf):
        return _fill(key[0], np.zeros(m_bits // 8, dtype=np.uint8), 0, pdf)

    return (
        _hashed_keys(seen, key_col, n_shards)
        .groupBy("shard_id")
        .applyInPandas(build, schema=SHARD_SCHEMA)
    )


def add_keys(
    shards: DataFrame, new: DataFrame, m_bits: int, key_col: str = "url_key", n_shards: int = 64
) -> DataFrame:
    """``shards`` with the keys of ``new`` OR-ed in, in ONE cogroup pass:
    the same rows, byte for byte, as ``merge_shards(shards,
    build_bloom_shards(new, ...))``, without the intermediate delta filter
    (which costs a second shuffle and a second Python stage).  Shards that
    ``new`` does not touch pass through; shards only ``new`` touches start
    from an empty ``m_bits`` bitmap."""

    def top_up(key, standing, keys):
        if len(standing) == 0:
            return _fill(key[0], np.zeros(m_bits // 8, dtype=np.uint8), 0, keys)
        bitmap = np.frombuffer(standing["bitmap"].iloc[0], dtype=np.uint8).copy()
        return _fill(key[0], bitmap, standing["n_keys"].iloc[0], keys)

    return (
        shards.groupBy("shard_id")
        .cogroup(_hashed_keys(new, key_col, n_shards).groupBy("shard_id"))
        .applyInPandas(top_up, schema=SHARD_SCHEMA)
    )


def merge_shards(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two shard sets (same n_shards/m_bits contract)."""

    def om(pdf: pd.DataFrame) -> pd.DataFrame:
        bufs = [np.frombuffer(x, dtype=np.uint8) for x in pdf["bitmap"]]
        out = bufs[0].copy()
        for x in bufs[1:]:
            out |= x
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "n_keys": [int(pdf["n_keys"].sum())],  # upper bound
                "bitmap": [out.tobytes()],
            }
        )

    return a.unionByName(b).groupBy("shard_id").applyInPandas(om, schema=SHARD_SCHEMA)


def bloom_maybe_seen(candidates: DataFrame, shards: DataFrame, key_col: str = "url_key",
                     n_shards: int = 64) -> DataFrame:
    """Append ``maybe_seen`` boolean via cogrouped probe on shard_id.

    False ⇒ definitely NOT in the seen set (safe to skip the exact join);
    True ⇒ must be confirmed by the exact anti-join.
    """
    out_fields = candidates.schema.fields + [StructField("maybe_seen", BooleanType(), False)]
    out_schema = StructType(out_fields)
    cand = with_shard_id(candidates, key_col, n_shards).select("*", *_hash_cols(key_col))

    def probe(cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = cand_pdf[_H_COLS]
        cand_pdf = cand_pdf.drop(columns=["shard_id", *_H_COLS])
        if len(cand_pdf) == 0:
            return cand_pdf.assign(maybe_seen=pd.Series([], dtype=bool))
        if len(shard_pdf) == 0:
            return cand_pdf.assign(maybe_seen=False)
        bitmap = np.frombuffer(shard_pdf["bitmap"].iloc[0], dtype=np.uint8)
        # a null key is never seen (xxhash64 skips nulls, so its hash words
        # are those of the bare salt, which must not be probed)
        mask = cand_pdf[key_col].notna().to_numpy()
        flags = np.zeros(len(cand_pdf), dtype=bool)
        if mask.any():
            pos = _positions(hashes["__h1"][mask], hashes["__h2"][mask], len(bitmap) * 8)  # (n, K)
            hit = (bitmap[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
            flags[mask] = hit.all(axis=1)
        return cand_pdf.assign(maybe_seen=flags)

    return (
        cand.groupBy("shard_id")
        .cogroup(shards.groupBy("shard_id"))
        .applyInPandas(probe, schema=out_schema)
    )


def validate_shard_contract(
    seen: DataFrame, key_col: str, prune_shard_col: str, n_shards: int, sample_rows: int = 256
) -> None:
    """Raise if a sample of the store violates the shard-pruning contract
    ``prune_shard_col == pmod(xxhash64(key), n_shards)``.  A sample can't
    prove the whole store conforms, but it catches the two real failure
    modes — a store written with a DIFFERENT n_shards, or a shard column
    computed by a different hash — on the first row checked, for the cost
    of one tiny single-partition job (``limit`` short-circuits the scan).
    """
    # NULL stored shard ids must COUNT as violations: `NULL != pmod(...)`
    # evaluates to NULL, which a bare filter silently drops — and a
    # null-sharded row would later be excluded by the isin() prune in
    # filter_unseen, misclassifying its seen URL as unseen (the exact
    # failure this check exists to catch).
    expected = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")
    bad = (
        seen.select(key_col, prune_shard_col)
        .limit(sample_rows)
        .filter(
            F.col(prune_shard_col).isNull()
            | (F.col(prune_shard_col).cast("int") != expected)
        )
        .limit(1)
        .collect()
    )
    if bad:
        r = bad[0]
        raise ValueError(
            f"seen store shard column {prune_shard_col!r} violates the pruning "
            f"contract pmod(xxhash64({key_col}), {n_shards}): row key "
            f"{r[key_col]!r} has stored shard {r[prune_shard_col]!r} — was the "
            "store written with a different n_shards?  Pruning with a "
            "mismatched column would misclassify seen URLs as unseen."
        )


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    key_col: str = "url_key",
    shards: DataFrame | None = None,
    n_shards: int = 64,
    prune_shard_col: str | None = None,
    validate_shards: bool = True,
) -> DataFrame:
    """Rows of ``candidates`` whose key is NOT in ``seen`` — exact.

    Given bloom ``shards``, bloom-negative rows bypass the shuffle-heavy
    exact anti-join; only bloom-positive rows (true hits + ~fp_rate noise)
    pay it.
    Either path returns the same rows (tested under injected-FP filters).

    ``prune_shard_col``: name of a PHYSICAL shard column on ``seen`` whose
    values equal ``pmod(xxhash64(key), n_shards)`` (e.g. the parquet
    partition column of a shard-partitioned seen store).  When set, the
    confirm join first restricts ``seen`` to the shards containing at least
    one bloom-positive candidate — a driver-side collect of AT MOST
    ``n_shards`` ints, never row data.  This is what makes bloom win at
    10^10 keys: without it the confirm anti-join scans/shuffles the full
    seen table every round no matter how thin the positive sliver is; with
    a partitioned store the pruning skips whole files, so confirm cost
    scales with the POSITIVE COUNT (quota-bounded), not the seen-set size.
    Measured crossover: SCALE.md §bloom-crossover.

    ``validate_shards``: the pruning is only CORRECT if the store's
    ``prune_shard_col`` was computed as ``pmod(xxhash64(key), n_shards)``
    with the SAME ``n_shards`` — a mismatched column silently excludes
    shards that contain seen keys, so already-seen URLs come back
    "unseen".  When True (default) a 256-row sample of the store is
    checked against the recomputed shard id and a mismatch raises.  Hot
    loops that validated the store once at load time pass False.
    """
    if shards is None:
        # no distinct(): an anti-join ignores duplicate build-side keys
        return candidates.join(seen.select(key_col), key_col, "left_anti")
    if prune_shard_col is not None and validate_shards:
        validate_shard_contract(seen, key_col, prune_shard_col, n_shards)
    flagged = bloom_maybe_seen(candidates, shards, key_col, n_shards)
    if prune_shard_col is not None:
        # flagged feeds three consumers (negatives, confirm join, and the
        # driver-side shard-id collect) — materialize the quota-bounded set
        # once or the probe cogroup re-runs per consumer
        flagged = flagged.localCheckpoint(eager=True)
    negatives = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    positives = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    seen_side = seen
    if prune_shard_col is not None:
        pos_shards = [
            r[0]
            for r in with_shard_id(positives.select(key_col), key_col, n_shards)
            .select("shard_id")
            .distinct()
            .collect()
        ]
        if len(pos_shards) < n_shards:  # all shards hit → filter is a no-op
            seen_side = seen.filter(F.col(prune_shard_col).isin(pos_shards))
    confirmed_unseen = positives.join(seen_side.select(key_col), key_col, "left_anti")
    return negatives.unionByName(confirmed_unseen)


def write_bucketed_seen(
    seen: DataFrame, table_name: str, path: str, n_buckets: int = 64, key_col: str = "url_key"
) -> None:
    """Persist the seen store as a BUCKETED, bucket-sorted table
    (``bucketBy(n_buckets, key_col).sortBy(key_col)``): rows are physically
    clustered by ``hash(key) % n_buckets`` at write time, so every future
    join/anti-join on the key reads pre-clustered buckets — the store side
    of the per-round URL-seen gate never shuffles again.

    This is the co-located-join alternative to shard-partitioning when the
    store lives in a Spark-managed table (Iceberg's ``bucket(url)``
    transform is the same idea as a table service).  At 10^10 keys the
    exact anti-join's dominant cost is shuffling the store every round;
    bucketing moves that cost to write time, once, amortized over every
    subsequent round.  ``filter_unseen(candidates, spark.table(table_name))``
    is then the exact gate with no Exchange on the store side (only the
    candidate side repartitions to the bucket layout; plan-asserted in
    tests/test_bucketed_seen.py).
    """
    (
        seen.write.mode("overwrite")
        .bucketBy(n_buckets, key_col)
        .sortBy(key_col)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table_name)
    )
