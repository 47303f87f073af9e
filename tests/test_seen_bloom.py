"""URL-seen set tests: exact anti-join vs Bloom-prefiltered path (SURVEY §2.6).

The Bloom pre-filter must never change the result — false positives only
route rows to the exact join; under an intentionally FP-heavy filter the
outputs still match exactly.
"""

import pyspark.sql.functions as F
import pytest

from frontier_engine import seen as seenmod


@pytest.fixture(scope="module")
def dfs(spark):
    seen = spark.createDataFrame(
        [(f"com,ex)/{i}", f"https://ex.com/{i}", None) for i in range(0, 1000, 2)],
        "url_key string, url string, content_hash string",
    )
    cands = spark.createDataFrame(
        [(f"com,ex)/{i}", f"https://ex.com/{i}") for i in range(1000)],
        "url_key string, url string",
    )
    return seen, cands


def test_exact_anti_join(dfs):
    seen, cands = dfs
    out = seenmod.filter_unseen(cands, seen)
    keys = {r.url_key for r in out.collect()}
    assert keys == {f"com,ex)/{i}" for i in range(1, 1000, 2)}


def test_bloom_path_identical(dfs):
    seen, cands = dfs
    shards = seenmod.build_bloom_shards(seen, n_shards=8)
    out = seenmod.filter_unseen(cands, seen, shards=shards, n_shards=8)
    keys = {r.url_key for r in out.collect()}
    assert keys == {f"com,ex)/{i}" for i in range(1, 1000, 2)}


def test_bloom_fp_heavy_still_exact(dfs):
    """Tiny bitmaps (expected_per_shard=16 for ~62 keys/shard) → massive FP
    rate; the exact join must still yield the exact answer."""
    seen, cands = dfs
    shards = seenmod.build_bloom_shards(seen, n_shards=8, expected_per_shard=16, fp_rate=0.5)
    out = seenmod.filter_unseen(cands, seen, shards=shards, n_shards=8)
    keys = {r.url_key for r in out.collect()}
    assert keys == {f"com,ex)/{i}" for i in range(1, 1000, 2)}


def test_bloom_shard_pruned_confirm_identical(dfs, spark, tmp_path):
    """prune_shard_col: the confirm join over a shard-PARTITIONED seen store
    (the 10^10 layout) must return exactly the exact-path answer — pruning
    only skips shards that contain no bloom-positive candidate."""
    seen, cands = dfs
    n_shards = 8
    store = str(tmp_path / "seen_store")
    seenmod.with_shard_id(seen, "url_key", n_shards).write.partitionBy("shard_id").parquet(store)
    seen_part = spark.read.parquet(store)
    shards = seenmod.build_bloom_shards(seen, n_shards=n_shards)
    out = seenmod.filter_unseen(
        cands, seen_part, shards=shards, n_shards=n_shards,
        prune_shard_col="shard_id",
    )
    keys = {r.url_key for r in out.collect()}
    assert keys == {f"com,ex)/{i}" for i in range(1, 1000, 2)}


def test_bloom_no_false_negatives(dfs):
    """Every key that IS in the filter must probe positive."""
    seen, _ = dfs
    shards = seenmod.build_bloom_shards(seen, n_shards=8)
    flagged = seenmod.bloom_maybe_seen(seen.select("url_key"), shards, n_shards=8)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_fp_rate_reasonable(dfs):
    """At the designed 1% fp target, unseen keys should rarely probe true."""
    seen, cands = dfs
    unseen_only = cands.join(seen.select("url_key"), "url_key", "left_anti")
    shards = seenmod.build_bloom_shards(seen, n_shards=8, fp_rate=0.01)
    flagged = seenmod.bloom_maybe_seen(unseen_only, shards, n_shards=8)
    fp = flagged.filter(F.col("maybe_seen")).count()
    assert fp <= 25  # 500 unseen keys, 1% target → expect ~5, allow slack


def test_merge_shards(spark):
    a = spark.createDataFrame([("k,a)/1", "u", None)], "url_key string, url string, content_hash string")
    b = spark.createDataFrame([("k,b)/2", "u", None)], "url_key string, url string, content_hash string")
    sa = seenmod.build_bloom_shards(a, n_shards=4, expected_per_shard=1024)
    sb = seenmod.build_bloom_shards(b, n_shards=4, expected_per_shard=1024)
    merged = seenmod.merge_shards(sa, sb)
    both = spark.createDataFrame(
        [("k,a)/1", "x"), ("k,b)/2", "y")], "url_key string, url string"
    )
    flagged = seenmod.bloom_maybe_seen(both, merged, n_shards=4)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_shard_contract_mismatch_raises(dfs, spark, tmp_path):
    """ADVICE r3: a store whose shard column was written with a DIFFERENT
    n_shards than the one passed to filter_unseen must raise, not silently
    misclassify seen URLs as unseen (pruning would skip shards that hold
    seen keys)."""
    seen, cands = dfs
    store = str(tmp_path / "seen_store_16")
    # written with 16 shards, queried claiming 8
    seenmod.with_shard_id(seen, "url_key", 16).write.partitionBy("shard_id").parquet(store)
    seen_part = spark.read.parquet(store)
    shards = seenmod.build_bloom_shards(seen, n_shards=8)
    with pytest.raises(ValueError, match="shard column .* violates the pruning contract"):
        seenmod.filter_unseen(
            cands, seen_part, shards=shards, n_shards=8,
            prune_shard_col="shard_id",
        ).collect()


def test_shard_contract_validation_skippable(dfs, spark, tmp_path):
    """validate_shards=False skips the sample job (hot-loop callers that
    validated the store once at load time)."""
    seen, cands = dfs
    store = str(tmp_path / "seen_store_ok")
    seenmod.with_shard_id(seen, "url_key", 8).write.partitionBy("shard_id").parquet(store)
    seen_part = spark.read.parquet(store)
    shards = seenmod.build_bloom_shards(seen, n_shards=8)
    out = seenmod.filter_unseen(
        cands, seen_part, shards=shards, n_shards=8,
        prune_shard_col="shard_id", validate_shards=False,
    )
    keys = {r.url_key for r in out.collect()}
    assert keys == {f"com,ex)/{i}" for i in range(1, 1000, 2)}


# --- properties of the JVM-hashed filter ------------------------------------

_ODD_M_BITS = (1 << 14) - 8  # byte-aligned, NOT a power of two


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "url_key string")


def _rows(shards):
    return sorted((r.shard_id, r.n_keys, bytes(r.bitmap)) for r in shards.collect())


def test_bloom_no_false_negatives_non_ascii_odd_m_bits(spark):
    """Every inserted key probes positive — multi-byte UTF-8 keys, an
    m_bits that is byte-aligned but not a power of two, and keys that
    arrive through both the full build and the one-pass top-up."""
    keys = [f"com,例え)/ü/{i}/😀" for i in range(600)] + [f"org,ex)/{i}" for i in range(600)]
    built = seenmod.build_bloom_shards(_keys_df(spark, keys[::2]), n_shards=8, m_bits=_ODD_M_BITS)
    shards = seenmod.add_keys(built, _keys_df(spark, keys[1::2]), m_bits=_ODD_M_BITS, n_shards=8)
    assert {len(r.bitmap) * 8 for r in shards.collect()} == {_ODD_M_BITS}
    flagged = seenmod.bloom_maybe_seen(_keys_df(spark, keys), shards, n_shards=8)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_fp_rate_matches_theory_at_1e5_keys(spark):
    """At 10^5 keys sized by ``bits_for`` for 1%, the measured false-positive
    rate over 10^5 absent keys is within 1.5x of the theoretical
    (1 - e^(-k n / m))^k for each shard's actual key count — a hash that
    correlated with the shard routing would push it far above."""
    import math

    n_shards = 64  # the CrawlConfig default; bits_for then gives a multiple of 64
    m_bits = seenmod.bits_for(100_000 // n_shards, 0.01)
    present = spark.range(100_000).select(F.concat(F.lit("com,ex)/p/"), F.col("id").cast("string")).alias("url_key"))
    absent = spark.range(100_000).select(F.concat(F.lit("net,other)/q/"), F.col("id").cast("string")).alias("url_key"))
    shards = seenmod.build_bloom_shards(present, n_shards=n_shards, m_bits=m_bits).localCheckpoint(eager=True)
    k = seenmod.K_HASHES
    theory = sum((1 - math.exp(-k * r.n_keys / m_bits)) ** k for r in shards.collect()) / n_shards
    fp = seenmod.bloom_maybe_seen(absent, shards, n_shards=n_shards).filter("maybe_seen").count() / 100_000
    assert theory / 1.5 <= fp <= theory * 1.5, (fp, theory)


def test_add_keys_byte_identical_to_build_then_merge(spark):
    """The one-pass top-up returns the very rows of build-then-merge_shards,
    including shards only the new keys touch (the standing set here covers
    a few of the 16 shards), shards they leave alone, and null keys."""
    standing = seenmod.build_bloom_shards(
        _keys_df(spark, [f"com,a)/{i}" for i in range(5)]), n_shards=16, m_bits=_ODD_M_BITS
    ).localCheckpoint(eager=True)
    new = _keys_df(spark, [f"com,b)/{i}" for i in range(400)] + [None])
    one_pass = seenmod.add_keys(standing, new, m_bits=_ODD_M_BITS, n_shards=16)
    two_pass = seenmod.merge_shards(
        standing, seenmod.build_bloom_shards(new, n_shards=16, m_bits=_ODD_M_BITS)
    )
    assert _rows(one_pass) == _rows(two_pass)
    assert len(_rows(one_pass)) == 16
