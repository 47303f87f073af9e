"""Round-5 regressions (VERDICT r4 #1-#3/#5, ADVICE r4).

* the driver-contract signature check that would have caught r4's silent
  drop of training_pipeline from the correctness sweep,
* span_dedup's skew-immune keep-first (planted hot span + no-window plan),
* contamination_pairs' executable eval-broadcast bound (guarded fallback),
* validate_shard_contract rejecting NULL stored shard ids,
* the physical-plan audit promoted from a manual tool into the suite.
"""

import inspect

import pyspark.sql.functions as F
import pytest

from frontier_engine import textops

import os

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")

needs_sf_small = pytest.mark.skipif(
    not os.path.isdir(SF_SMALL),
    reason=f"driver testdata fixture absent at {SF_SMALL} "
    "(set SPARK_GRAFT_SF_SMALL; see README 'Test data')",
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_registered_queries_are_strict_two_arg():
    """The driver's correctness sweep silently DROPS any queries() entry
    whose callable is not exactly (spark, sf): round 4's materialize kwarg
    on q_training_pipeline cost the capstone query its green row
    (VERDICT r4 #1).  Lock the contract for every registered callable."""
    import __spark_entry__ as entrymod

    for name, fn in entrymod.queries().items():
        params = list(inspect.signature(fn).parameters.values())
        assert len(params) == 2, f"{name}: {len(params)} params — driver needs exactly (spark, sf)"
        for p in params:
            assert p.default is inspect.Parameter.empty, f"{name}: param {p.name} has a default"
            assert p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD), f"{name}: {p.name}"


def test_span_dedup_hot_span_correct_and_windowless(spark):
    """Boilerplate planted in >60% of docs — exactly the span whose
    row_number window became a single-task sort at scale (VERDICT r4 #2).
    Keep-first must still pick the (doc_id, pos) minimum, and the plan must
    contain NO window node: min(struct) partial-aggregates the hot key
    map-side."""
    import hashlib

    boiler = "home about contact privacy"
    rows = [
        (i, f"{boiler} unique{i} body words here")
        if (i % 2 == 0 or i < 10)
        else (i, f"fresh{i} standalone content tokens")
        for i in range(40)
    ]
    docs = _docs(spark, rows)
    out = textops.span_dedup(docs, span_tokens=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan, "span keep-first must not use a window node"
    got = {r["doc_id"]: r for r in out.collect()}
    assert (got[0]["n_spans"], got[0]["n_kept"]) == (2, 2)  # first corpus occurrence
    for i in range(1, 40):
        assert got[i]["n_kept"] == 1, f"doc {i}"
        tail = f"unique{i} body words here" if (i % 2 == 0 or i < 10) else None
        if tail:
            assert got[i]["clean_hash"] == hashlib.md5(tail.encode()).hexdigest()


def test_contamination_broadcast_guard_fallback_identical(spark):
    """max_broadcast_shingles=0 forces the shuffle-join fallback; it must
    return the same rows as the broadcast plan, and the broadcast HINT must
    be present only under the bound (VERDICT r4 #3 — the eval-is-small
    contract is executable, an oversized eval side degrades instead of
    OOMing the driver)."""
    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = _docs(
        spark,
        [(0, leak + " training tail words one two"),
         (2, "completely unrelated training content using other words entirely")],
    )
    ev = _docs(spark, [(1, leak), (3, "no shared shingles in this one at all truly")])
    fast = textops.contamination_pairs(train, ev, min_overlap=2)
    slow = textops.contamination_pairs(train, ev, min_overlap=2, max_broadcast_shingles=0)
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(fast) == rows(slow)
    assert len(rows(fast)) == 1
    assert "ResolvedHint" in fast._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in slow._jdf.queryExecution().analyzed().toString()


def test_validate_shard_contract_rejects_null_shard(spark):
    """NULL stored shard ids must count as violations — `NULL != pmod`
    is NULL and a bare filter dropped the row, so a null-sharded store
    passed validation and the isin() prune then misclassified its seen
    URLs as unseen (ADVICE r4)."""
    from frontier_engine import seen as seenmod

    ok = spark.createDataFrame([("u1",), ("u2",)], "url_key string").withColumn(
        "shard", F.pmod(F.xxhash64("url_key"), F.lit(8)).cast("int")
    )
    seenmod.validate_shard_contract(ok, "url_key", "shard", 8)  # conforming: no raise

    bad = ok.withColumn(
        "shard", F.when(F.col("url_key") == "u2", F.lit(None)).otherwise(F.col("shard"))
    )
    with pytest.raises(ValueError):
        seenmod.validate_shard_contract(bad, "url_key", "shard", 8)


# representative subset of tools/audit_plans.AUDIT covering all four check
# kinds (pushdown, broadcast, WindowGroupLimit, PartitionFilters) plus the
# most expensive shuffle-shaped queries from PLANS.md
_AUDIT_SUBSET = {
    "filter_range": {"pushed": True},
    "pricing_summary": {"pushed": True},
    "broadcast_join_rollup": {"broadcast": True},
    "topk_per_group": {"window_limit": True},
    "tfidf_topterms": {"window_limit": True},
    "contamination": {"pushed": True, "broadcast": True},
    "training_pipeline": {"pushed": True},
    "ngram_jaccard": {},
    "dedup_clusters": {},
    "simhash_pairs": {},
    "ann_ivf_materialized": {"broadcast": True, "partition_filters": True},
}


@needs_sf_small
def test_plan_audit_headline_queries(spark):
    """VERDICT r4 #5: the plan audit is a regression TEST, not a manual
    tool — a change that silently degrades a headline plan (lost pushdown,
    un-broadcast join, window limit gone, partition pruning dropped) fails
    the suite instead of waiting for someone to regenerate PLANS.md.
    Runs at sf0.001; the checks are plan-shape properties, not timings."""
    import __spark_entry__ as entrymod
    from tools.audit_plans import _ann_ivf_materialized, audit_one

    qs = dict(entrymod.queries())
    qs["ann_ivf_materialized"] = _ann_ivf_materialized
    failures = []
    for name, expect in _AUDIT_SUBSET.items():
        _, checks = audit_one(spark, name, qs[name], SF_SMALL, expect)
        failures += [f"{name}:{c}" for c, ok in checks.items() if not ok]
    assert not failures, failures


def test_duplicate_ngram_coverage_planted(spark):
    """Planted boilerplate: docs sharing an 8-token run must show exactly
    the instances covered by corpus-repeated grams; a unique doc shows 0.
    Oracle = naive Python over the same token/gram definition."""
    import re
    from collections import Counter

    boiler = "one two three four five six seven eight"
    rows = [
        (0, f"{boiler} alpha beta gamma delta"),
        (1, f"prefix words here {boiler}"),
        (2, "entirely unique content with no shared runs at all nine ten"),
        (3, "short"),  # < n tokens → 0 grams
    ]
    docs = _docs(spark, rows)
    got = {r["doc_id"]: r for r in textops.duplicate_ngram_coverage(docs, n=8).collect()}

    def grams(text):
        toks = re.sub(r"\s+", " ", text.strip()).lower().split(" ")
        return [tuple(toks[i : i + 8]) for i in range(len(toks) - 7)] if len(toks) >= 8 else []

    df = Counter()
    for _, t in rows:
        for g in set(grams(t)):
            df[g] += 1
    for i, t in rows:
        gs = grams(t)
        dup = sum(1 for g in gs if df[g] >= 2)
        assert (got[i]["n_grams"], got[i]["dup_grams"]) == (len(gs), dup), f"doc {i}"
        assert got[i]["coverage_permille"] == (dup * 1000) // max(len(gs), 1)
    assert got[0]["dup_grams"] == 1 and got[2]["dup_grams"] == 0 and got[3]["n_grams"] == 0


def test_keep_best_by_quality_deterministic(spark):
    """Hand-built clusters: the representative is the max-quality member,
    ties broken by min doc_id — two deterministic aggregations, no
    arg_max tie ambiguity (the Dolma/FineWeb keep-the-best-copy policy)."""
    rich = ("the quick brown fox jumps over the lazy dog and keeps running "
            "through a long and very clean english sentence with many words")
    poor = "x1 9 !!"
    docs = _docs(spark, [(5, poor), (6, rich), (7, rich), (9, rich + " extra")])
    clusters = spark.createDataFrame(
        [(5, 100, 3), (6, 100, 3), (7, 100, 3), (9, 200, 1)],
        "doc_id long, cluster_id long, cluster_size int",
    )
    out = {r["cluster_id"]: r for r in textops.keep_best_by_quality(clusters, docs).collect()}
    q = {r["doc_id"]: r["quality_permille"]
         for r in textops.quality_score(docs).select("doc_id", "quality_permille").collect()}
    assert q[6] > q[5]                       # fixture sanity: rich beats poor
    assert out[100]["keep_doc_id"] == 6      # max quality, tie (6 vs 7) → min doc_id
    assert out[100]["best_quality"] == q[6]
    assert out[100]["cluster_size"] == 3
    assert out[200]["keep_doc_id"] == 9 and out[200]["cluster_size"] == 1


def test_decontaminate_drops_leaked_train_docs(spark):
    """A train doc containing an eval doc's text verbatim is dropped; train
    docs with no (or sub-threshold) overlap survive unchanged."""
    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = _docs(spark, [
        (0, leak + " plus a training tail"),          # full containment → dropped
        (2, "unrelated training content using completely different words here"),
        (4, "another clean training document with its own unique phrasing"),
    ])
    ev = _docs(spark, [(1, leak)])
    out = {r["doc_id"] for r in textops.decontaminate(train, ev).select("doc_id").collect()}
    assert out == {2, 4}
    # threshold above any pair's containment → nothing dropped
    all_kept = {r["doc_id"] for r in
                textops.decontaminate(train, ev, containment_threshold_permille=1001).collect()}
    assert all_kept == {0, 2, 4}


def test_duplicate_ngram_coverage_random_vs_naive(spark):
    """Randomized cross-check on a tiny alphabet (forces real inter-doc
    gram collisions): Spark coverage == naive Python for every doc."""
    import random
    import re
    from collections import Counter

    rng = random.Random(42)
    rows = [
        (i, " ".join(rng.choice("a b c d e".split()) for _ in range(rng.randint(0, 14))))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.duplicate_ngram_coverage(docs, n=4).collect()}

    def grams(text):
        t = re.sub(r"\s+", " ", text.strip()).lower()
        toks = t.split(" ") if t else [""]
        return [tuple(toks[i : i + 4]) for i in range(len(toks) - 3)] if len(toks) >= 4 else []

    df = Counter()
    for _, t in rows:
        for g in set(grams(t)):
            df[g] += 1
    for i, t in rows:
        gs = grams(t)
        dup = sum(1 for g in gs if df[g] >= 2)
        assert (got[i]["n_grams"], got[i]["dup_grams"]) == (len(gs), dup), f"doc {i}"


def test_textops_degenerate_and_unicode_inputs(spark):
    """Edge-input sweep: empty text, whitespace-only, CJK (no spaces),
    emoji, and a very long single token must flow through the text-op
    family without crashes, NULLs, or negative counts."""
    rows = [
        (0, ""),
        (1, "   "),
        (2, "中文文本没有空格也应当安全通过"),
        (3, "🎉 emoji 🚀 tokens 🌟 here"),
        (4, "x" * 10000),
        (5, "normal english words for contrast and the usual checks"),
    ]
    docs = _docs(spark, rows)
    for op in (
        textops.quality_score,
        textops.token_counts,
        textops.repetition_signals,
        lambda d: textops.duplicate_ngram_coverage(d, n=4),
        lambda d: textops.span_dedup(d, span_tokens=4),
        textops.pii_scrub,
        textops.dedup_exact,
    ):
        out = op(docs).collect()
        assert out, op
        for r in out:
            for k, v in r.asDict().items():
                assert v is not None, f"{op}: NULL {k} in {r}"
                if isinstance(v, (int, float)):
                    assert v >= 0, f"{op}: negative {k} in {r}"


def test_decontaminate_threshold_monotone(spark):
    """Raising the containment threshold can only KEEP MORE train docs —
    survivors at a stricter (higher) threshold are a superset."""
    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    half = "alpha beta gamma delta epsilon zeta eta theta other trailing words here now"
    train = _docs(spark, [(0, leak + " tail"), (2, half), (4, "clean unrelated text entirely")])
    ev = _docs(spark, [(1, leak)])
    survivors = {}
    for thr in (1, 400, 800, 1001):
        survivors[thr] = {r["doc_id"] for r in
                          textops.decontaminate(train, ev, containment_threshold_permille=thr).collect()}
    assert survivors[1] <= survivors[400] <= survivors[800] <= survivors[1001]
    assert survivors[1001] == {0, 2, 4}  # nothing reaches an impossible threshold


def test_unigram_surprisal_matches_naive(spark):
    """Spark surprisal == naive Python (same tokenization, same -ln(tf/T),
    same ordered sum, same x1e4 rounding); empty doc → (0, 0); rare-token
    docs score higher than boilerplate."""
    import math
    import re
    from collections import Counter

    rows = [
        (0, "the the the the the"),                # all boilerplate → low
        (1, "zyxwv qwert plugh xyzzy frobnicate"),  # all rare → high
        (2, "the the zyxwv"),
        (3, ""),
    ]
    docs = _docs(spark, rows)
    got = {r["doc_id"]: r for r in textops.unigram_surprisal(docs).collect()}

    def toks(t):
        t = re.sub(r"\s+", " ", t.strip()).lower()
        return [x for x in (t.split(" ") if t else []) if x != ""]

    tf = Counter(x for _, t in rows for x in toks(t))
    total = sum(tf.values())
    for i, t in rows:
        tk = toks(t)
        if not tk:
            assert (got[i]["n_tokens"], got[i]["surprisal_e4"]) == (0, 0)
            continue
        s = sum(-math.log(tf[x] / total) for x in tk)
        want = round(s / len(tk) * 10000)
        assert (got[i]["n_tokens"], got[i]["surprisal_e4"]) == (len(tk), want), f"doc {i}"
    assert got[1]["surprisal_e4"] > got[0]["surprisal_e4"]
