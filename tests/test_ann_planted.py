"""Planted-neighbor ANN fixture (VERDICT r2 #4): recall@k with a SHARP
expected answer.

synth.gen_clustered_embeddings plants 25 tight clusters of 21 unit vectors
(within-cluster cosine ≈ 0.998, cross-cluster ≲ 0.4), so the exact cosine
top-k of any member is exactly its cluster mates — ground truth is cluster
MEMBERSHIP, not a second ANN run.  bench.py emits the same recalls into
RECALL.json so the contract is machine-checkable next to CORRECTNESS.
"""

import pytest

from frontier_engine import synth, textops

PER = 21
K = 10
QIDS = [c * PER for c in range(5)]  # first member of the first 5 clusters
MATES = {q: {q + j for j in range(1, PER)} for q in QIDS}


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    # parquet-backed (never a driver-local plan in the measured path)
    p = str(tmp_path_factory.mktemp("planted") / "emb.parquet")
    rows = synth.gen_clustered_embeddings(per_cluster=PER)
    spark.createDataFrame(rows, schema="vec_id long, embedding array<float>").write.parquet(p)
    return spark.read.parquet(p)


def _recall(df) -> float:
    got: dict[int, set[int]] = {}
    for r in df.select("query_id", "cand_id").collect():
        got.setdefault(r[0], set()).add(r[1])
    return sum(len(got.get(q, set()) & MATES[q]) for q in QIDS) / (len(QIDS) * K)


def test_fixture_is_sharp(planted):
    """The fixture's own guarantee: exact top-k of a member IS cluster
    mates (validates the ground truth before it judges the ANN paths)."""
    bf = textops.cosine_topk_bruteforce(planted, QIDS, k=K)
    assert _recall(bf) == 1.0


def test_lsh_recall_on_planted(planted):
    """Near-identical vectors collide w.h.p. in at least one of the 6
    tables (p_plane ≈ 0.98 at cos 0.998, + Hamming-1 probes): recall ≈ 1."""
    assert _recall(textops.cosine_topk_lsh(planted, QIDS, k=K)) >= 0.9


def test_ivf_recall_on_planted_with_prebuilt_index(planted):
    """Tight planted clusters land in one k-means cell and the query's own
    cell is always probed first — recall ≈ 1 with the PREBUILT index (the
    registered build/query split, VERDICT r2 #3)."""
    centroids = textops.kmeans_centroids(planted)
    assert _recall(textops.cosine_topk_ivf(planted, QIDS, k=K, centroids=centroids)) >= 0.9


def test_ivf_equals_exact_top_k_over_probed_clusters(spark):
    """What IVF computes: the exact top-k over the query plus the vectors
    of its ``n_probe`` nearest clusters.  Cluster membership and the probe
    lists come from numpy over the same centroids; the reference top-k is
    the bruteforce operator over exactly that subset."""
    import numpy as np
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = textops.kmeans_centroids(emb, k=8, iters=2)
    cm = np.asarray(centroids, dtype=np.float64)
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()}

    def sqdist(v):
        return ((cm - v) ** 2).sum(axis=1)

    cell = {vid: int(np.argmin(sqdist(v))) for vid, v in vecs.items()}
    for q in (0, 1):
        probed = {int(i) for i in np.argsort(sqdist(vecs[q]), kind="stable")[:2]}
        subset = [q] + [vid for vid, c in cell.items() if c in probed]
        want = textops.cosine_topk_bruteforce(emb.filter(F.col("vec_id").isin(subset)), [q], k=5)
        got = textops.cosine_topk_ivf(emb, [q], centroids, k=5, n_probe=2)
        assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_ivf_materialized_matches_inmemory_and_prunes(spark, tmp_path):
    """The materialized IVF path must return EXACTLY the in-memory IVF
    results (same centroids → same candidates → same top-k) while its scan
    carries a cluster_id partition filter (file-level pruning)."""
    from frontier_engine import textops

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = textops.kmeans_centroids(emb, k=8, iters=2)
    qids = [0, 1, 2]
    want = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in textops.cosine_topk_ivf(emb, qids, k=5, n_probe=4, centroids=centroids).collect()
    }

    idx = str(tmp_path / "ivf_idx")
    textops.materialize_ivf(emb, centroids, idx)
    queries = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(emb.vec_id.isin(qids)).collect()
    }
    out = textops.cosine_topk_ivf_materialized(spark, idx, centroids, queries, k=5, n_probe=4)
    got = {(r["query_id"], r["rank"]): r["cand_id"] for r in out.collect()}
    assert got == want

    # the physical plan prunes partitions: the scan carries a literal
    # cluster_id IN (...) PartitionFilter (file-listing-level pruning)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.find("PartitionFilters") :][:200]
    assert pf.startswith("PartitionFilters: [cluster_id") and " IN " in pf
    import os
    n_dirs = sum(1 for d in os.listdir(idx) if d.startswith("cluster_id="))
    assert n_dirs == 8
