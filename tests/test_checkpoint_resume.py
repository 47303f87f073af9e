"""Checkpoint/resume tests (north_rule: resumable with lineage + metrics)."""

import hashlib
import json
import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from frontier_engine import seen as seenmod
from frontier_engine import synth
from frontier_engine.frontier import FRONTIER_COLS, CrawlConfig, run_crawl
from frontier_engine.storage import SnapshotStore


@pytest.fixture(scope="module")
def seeds():
    return synth.parse_seed_lines(synth.gen_seed_lines(300, 60))


def _key_set(df):
    return {r.url_key for r in df.select("url_key").collect()}


def _frontier_tuples(df):
    return sorted(tuple(r) for r in df.select(*FRONTIER_COLS).collect())


def _host_totals(metrics):
    totals = metrics.groupBy("host").agg(*(F.sum(c).alias(c) for c in ("fetched", "failed", "bytes")))
    return {r.host: (r.fetched, r.failed, r.bytes) for r in totals.collect()}


def test_resume_equals_uninterrupted(spark, corpus, seeds, tmp_path_factory):
    cfg = dict(round_seconds=9.0)  # small quota → many rounds
    full = run_crawl(spark, corpus, seeds, CrawlConfig(**cfg, max_rounds=100))

    root = str(tmp_path_factory.mktemp("ckpt"))
    store = SnapshotStore(spark, root)
    # phase 1: stop after 2 rounds ("crash" mid-crawl)
    part = run_crawl(spark, corpus, seeds, CrawlConfig(**cfg, max_rounds=2, checkpoint_dir=root))
    assert part.rounds == 2
    assert store.latest_round() == 1
    # phase 2: resume from the snapshot and finish
    resumed = run_crawl(spark, corpus, seeds, CrawlConfig(**cfg, max_rounds=100, checkpoint_dir=root))

    assert _key_set(resumed.seen) == _key_set(full.seen)
    a = sorted((r.host, r.host_rank, r.round, r.url) for r in full.pages.collect())
    b = sorted((r.host, r.host_rank, r.round, r.url) for r in resumed.pages.collect())
    assert [x[3] for x in a] == [x[3] for x in b]  # same url multiset/order keys
    assert full.pages.count() == resumed.pages.count()
    assert _frontier_tuples(resumed.frontier) == _frontier_tuples(full.frontier)
    # metrics rows per (partition, host) depend on task placement; the
    # per-host totals do not
    assert _host_totals(resumed.metrics) == _host_totals(full.metrics)


def test_manifest_lineage(spark, corpus, seeds, tmp_path):
    root = str(tmp_path)
    run_crawl(spark, corpus, seeds, CrawlConfig(round_seconds=30.0, max_rounds=1, checkpoint_dir=root))
    store = SnapshotStore(spark, root)
    last = store.latest_round()
    m = store.manifest(last)
    assert {"round", "snapshot_id", "row_counts", "partition_files", "virtual_now"} <= set(m)
    assert m["row_counts"]["pages"] > 0
    assert m["partition_files"]["pages"] >= 1
    # metrics carry per-partition lineage rows
    metrics = store.read(last, "metrics")
    cols = set(metrics.columns)
    assert {"round", "partition_id", "host", "fetched", "failed", "bytes"} <= cols


def test_resume_v1_cumulative_metrics_not_double_counted(spark, corpus, seeds, tmp_path):
    """ADVICE r2: a pre-delta-format checkpoint (manifest WITHOUT
    'metrics_format') stored CUMULATIVE metrics — resume must read only the
    last such table, not union every round (which double-counts).  New
    rounds written after the resume are deltas and do union.  The v1 table
    also carries the old always-constant deduped/snapshot_id columns: the
    resume projects it to the current columns, so the union still works."""
    root = str(tmp_path)
    # write 2 real rounds, then rewrite their manifests as v1 (key removed)
    # and their metrics tables as CUMULATIVE (round 1 = rounds 0+1) in the
    # old column layout
    run_crawl(spark, corpus, seeds, CrawlConfig(round_seconds=9.0, max_rounds=2, checkpoint_dir=root))
    store = SnapshotStore(spark, root)
    assert store.latest_round() == 1
    m0 = store.read(0, "metrics")
    cols = m0.columns
    cum1 = m0.unionByName(store.read(1, "metrics")).select(
        "round", "partition_id", "host", "fetched", "failed",
        F.lit(0).cast("long").alias("deduped"), "bytes", F.lit(None).cast("string").alias("snapshot_id"),
    )
    total_fetched = sum(r.fetched for r in cum1.collect())
    cum1_path = os.path.join(root, "rounds", "round_00001", "metrics")
    cum1.localCheckpoint(eager=True).write.mode("overwrite").parquet(cum1_path)
    for r in (0, 1):
        mf = store.manifest(r)
        assert mf.pop("metrics_format") == "delta"
        with open(os.path.join(root, "rounds", f"round_{r:05d}", "manifest.json"), "w") as fh:
            json.dump(mf, fh)
    # resume for 1 more round: metrics_view must be cum@1 + delta@2 only
    res = run_crawl(spark, corpus, seeds, CrawlConfig(round_seconds=9.0, max_rounds=3, checkpoint_dir=root))
    assert res.metrics.columns == cols
    per_round = {
        r["round"]: r["fetched"]
        for r in res.metrics.groupBy("round").agg(F.sum("fetched").alias("fetched")).collect()
    }
    # rounds 0+1 appear exactly once (from the cumulative table): their sum
    # equals what the v1 writer recorded, with no double count; round 2's
    # delta unions on top
    assert per_round.get(0, 0) + per_round.get(1, 0) == total_fetched
    assert per_round.get(2, 0) == sum(r.fetched for r in store.read(2, "metrics").collect())
    assert store.manifest(2).get("metrics_format") == "delta"


def test_crashed_round_invisible(spark, corpus, seeds, tmp_path):
    """A round directory without a published manifest must be ignored."""
    root = str(tmp_path)
    run_crawl(spark, corpus, seeds, CrawlConfig(round_seconds=30.0, max_rounds=1, checkpoint_dir=root))
    store = SnapshotStore(spark, root)
    crashed = os.path.join(root, "rounds", "round_00099")
    os.makedirs(os.path.join(crashed, "frontier"), exist_ok=True)  # no manifest
    assert store.latest_round() == 0
    with open(os.path.join(crashed, "manifest.json"), "w") as fh:
        json.dump({"round": 99}, fh)
    assert store.latest_round() == 99


# --- bloom aux format, failed commits, job labels ---------------------------

_BLOOM = dict(round_seconds=9.0, use_bloom=True, bloom_shards=8, bloom_bits_per_shard=1 << 14, n_partitions=8)
_BLOOM_META = {"n_shards": 8, "m_bits": 1 << 14, "hash": seenmod.HASH_SCHEME}


def _page_keys(df):
    return sorted((r.round, r.host, r.host_rank, r.url) for r in df.select("round", "host", "host_rank", "url").collect())


@pytest.fixture(scope="module")
def full_bloom_crawl(spark, corpus, seeds):
    res = run_crawl(spark, corpus, seeds, CrawlConfig(**_BLOOM, max_rounds=100))
    return _key_set(res.seen), _page_keys(res.pages)


def _assert_last_aux_covers_seen(store, seen):
    """The filter invariant at crawl level: the last round's persisted aux
    equals a fresh build over the whole seen set, row for row."""
    def rows(df):
        return sorted(tuple(r) for r in df.select("shard_id", "n_keys", "bitmap").collect())

    aux = store.read_aux(store.latest_round(), "bloom", expect_meta=_BLOOM_META)
    assert rows(aux) == rows(seenmod.build_bloom_shards(seen, n_shards=8, m_bits=1 << 14))


def _blake2b_bitmaps(keys_by_shard: dict, m_bits: int):
    """Bitmaps in the layout stores wrote before the JVM hash scheme:
    double hashing over the two halves of blake2b-128(key), in Python."""
    rows = []
    for shard, keys in sorted(keys_by_shard.items()):
        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        for key in keys:
            d = hashlib.blake2b(key.encode("utf-8"), digest_size=16).digest()
            h1, h2 = int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little") | 1
            for i in range(seenmod.K_HASHES):
                pos = ((h1 + i * h2) & 0xFFFFFFFFFFFFFFFF) % m_bits
                bitmap[pos >> 3] |= 1 << (pos & 7)
        rows.append((shard, len(keys), bitmap.tobytes()))
    return rows


def test_resume_from_old_format_bloom_aux_rebuilds(spark, corpus, seeds, tmp_path, full_bloom_crawl):
    """A store whose aux bitmaps were hashed the old way (blake2b, marker
    without a hash scheme) must be rebuilt on resume, not probed: under the
    new hashing those bitmaps give false negatives, and a negative skips
    the exact join, so a seen URL would be fetched again."""
    root = str(tmp_path)
    run_crawl(spark, corpus, seeds, CrawlConfig(**_BLOOM, max_rounds=2, checkpoint_dir=root))
    store = SnapshotStore(spark, root)
    last = store.latest_round()
    seen = store.read(0, "seen")
    for r in range(1, last + 1):
        seen = seen.unionByName(store.read(r, "seen"))
    keys_by_shard: dict = {}
    for r in seenmod.with_shard_id(seen, "url_key", 8).collect():
        keys_by_shard.setdefault(r.shard_id, []).append(r.url_key)
    old = spark.createDataFrame(_blake2b_bitmaps(keys_by_shard, 1 << 14), seenmod.SHARD_SCHEMA)
    for r in range(last + 1):  # every round's aux now has the old format
        store.write_aux(r, "bloom", old, meta={"n_shards": 8, "m_bits": 1 << 14})
    probed = seenmod.bloom_maybe_seen(seen.select("url_key"), old, n_shards=8)
    assert probed.filter(~F.col("maybe_seen")).count() > 0, "old bitmaps must not be probe-compatible"

    resumed = run_crawl(spark, corpus, seeds, CrawlConfig(**_BLOOM, max_rounds=100, checkpoint_dir=root))
    assert (_key_set(resumed.seen), _page_keys(resumed.pages)) == full_bloom_crawl
    with open(os.path.join(root, "rounds", f"round_{store.latest_round():05d}", "aux_bloom.json")) as fh:
        assert json.load(fh)["hash"] == seenmod.HASH_SCHEME
    _assert_last_aux_covers_seen(store, resumed.seen)


def test_commit_round_write_failure_waits_and_publishes_nothing(spark, tmp_path):
    """One table's write raises while another is still writing: commit_round
    lets the other write finish, publishes no manifest, and re-raises."""
    slow = F.udf(lambda x: time.sleep(1.0) or x, "long")
    tables = {  # the failing write is collected first, the slow one last
        "bad": spark.range(3).select(F.coalesce(F.raise_error(F.lit("injected write failure")), F.lit("x")).alias("s")),
        "slow": spark.range(4, numPartitions=2).select(slow("id").alias("id")),
    }
    store = SnapshotStore(spark, str(tmp_path))
    with pytest.raises(Exception, match="injected write failure"):
        store.commit_round(0, tables)
    round_dir = os.path.join(str(tmp_path), "rounds", "round_00000")
    assert os.path.exists(os.path.join(round_dir, "slow", "_SUCCESS"))
    assert not os.path.exists(os.path.join(round_dir, "manifest.json"))
    assert store.latest_round() is None


def test_resume_after_failed_commit_equals_uninterrupted(spark, corpus, seeds, tmp_path, monkeypatch, full_bloom_crawl):
    """Crash point: the pages write of round 1 fails inside the concurrent
    commit.  Round 1 stays unpublished (its other tables may be on disk),
    and a resume from the store ends exactly like an uninterrupted crawl."""
    root = str(tmp_path)
    commit = SnapshotStore.commit_round

    def failing_commit(self, round_no, tables, extra=None):
        if round_no == 1:
            poisoned = F.coalesce(F.raise_error(F.lit("injected pages failure")), F.col("url"))
            tables = {**tables, "pages": tables["pages"].withColumn("url", poisoned)}
        return commit(self, round_no, tables, extra)

    monkeypatch.setattr(SnapshotStore, "commit_round", failing_commit)
    with pytest.raises(Exception, match="injected pages failure"):
        run_crawl(spark, corpus, seeds, CrawlConfig(**_BLOOM, max_rounds=100, checkpoint_dir=root))
    monkeypatch.undo()
    store = SnapshotStore(spark, root)
    assert store.latest_round() == 0
    assert os.path.isdir(os.path.join(root, "rounds", "round_00001", "frontier"))

    resumed = run_crawl(spark, corpus, seeds, CrawlConfig(**_BLOOM, max_rounds=100, checkpoint_dir=root))
    assert (_key_set(resumed.seen), _page_keys(resumed.pages)) == full_bloom_crawl


def test_resume_after_crash_before_aux_marker_equals_uninterrupted(
    spark, corpus, seeds, tmp_path, monkeypatch, full_bloom_crawl
):
    """Crash point: round 1's manifest is published, then the bloom aux
    write dies after its bitmaps land and before its marker is published.
    Round 1 stays committed with no usable aux, and a resume (round 0's aux
    topped up with round 1's seen delta) ends like an uninterrupted crawl."""
    root = str(tmp_path)
    write_aux, replace = SnapshotStore.write_aux, os.replace

    def publish_fails(src, dst):
        if dst.endswith("aux_bloom.json"):
            raise RuntimeError("injected crash before the aux marker")
        return replace(src, dst)

    def crashing_write_aux(self, round_no, name, df, meta):
        if round_no != 1:
            return write_aux(self, round_no, name, df, meta)
        with monkeypatch.context() as m:
            m.setattr(os, "replace", publish_fails)
            return write_aux(self, round_no, name, df, meta)

    monkeypatch.setattr(SnapshotStore, "write_aux", crashing_write_aux)
    with pytest.raises(RuntimeError, match="injected crash before the aux marker"):
        run_crawl(spark, corpus, seeds, CrawlConfig(**_BLOOM, max_rounds=100, checkpoint_dir=root))
    monkeypatch.undo()
    store = SnapshotStore(spark, root)
    assert store.latest_round() == 1
    assert os.path.exists(os.path.join(root, "rounds", "round_00001", "aux_bloom", "_SUCCESS"))
    assert store.read_aux(1, "bloom", expect_meta=_BLOOM_META) is None
    assert store.read_aux(0, "bloom", expect_meta=_BLOOM_META) is not None

    resumed = run_crawl(spark, corpus, seeds, CrawlConfig(**_BLOOM, max_rounds=100, checkpoint_dir=root))
    assert (_key_set(resumed.seen), _page_keys(resumed.pages)) == full_bloom_crawl
    _assert_last_aux_covers_seen(store, resumed.seen)


@pytest.mark.parametrize("with_store", [False, True], ids=["checkpoints", "store"])
def test_every_crawl_job_carries_the_callers_job_group(spark, corpus, seeds, tmp_path, with_store):
    """Jobs from the crawl's worker threads (the store's concurrent table
    writes, or the storeless concurrent checkpoints) carry the job group the
    caller set, like the main thread's jobs.  The same crawl pins the phase
    names that perfbench reads from ``res.timings``: a rename would make it
    read 0 silently."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"crawl-labels-{with_store}"
    before = max(list(tracker.getJobIdsForGroup(None)) + list(tracker.getActiveJobsIds()), default=-1)
    cfg = CrawlConfig(**_BLOOM, max_rounds=1, checkpoint_dir=str(tmp_path) if with_store else None)
    sc.setJobGroup(group, "one-round crawl")
    try:
        res = run_crawl(spark, corpus, seeds, cfg)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    unlabelled = [j for j in tracker.getJobIdsForGroup(None) if j > before]
    labelled = [j for j in tracker.getJobIdsForGroup(group) if j > before]
    assert labelled and not unlabelled, unlabelled
    phases = {name for _, name, _ in res.timings}
    if with_store:
        assert {"pending_check", "extract_ckpt", "commit", "bloom_merge", "bloom_persist"} <= phases
    else:
        assert {"commit", "bloom_merge"} <= phases
        assert not any(p.startswith("ckpt_") for p in phases), phases
