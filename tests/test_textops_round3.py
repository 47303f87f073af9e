"""Round-3 text operators: Gopher repetition signals + winnowing.

The winnowing test exercises the algorithm's PAPER guarantee (Schleimer,
Wilkerson & Aiken 2003): two documents sharing a token run of at least
WINNOW_WINDOW + SHINGLE_N − 1 tokens share at least one fingerprint.
"""

import pyspark.sql.functions as F
import pytest

from frontier_engine import textops


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_signals_values(spark):
    docs = _docs(
        spark,
        [
            (0, "a b a b a b"),          # bigrams: ab×3 ba×2 → top 3/5; trigrams: aba×2 bab×2 → top 2/4, dup (4-2)/4
            (1, "w x y z"),              # all n-grams unique
            (2, "q"),                    # too short for any n-gram → 0.0
        ],
    )
    out = {r["doc_id"]: r for r in textops.repetition_signals(docs).collect()}
    assert out[0]["top_bigram_frac"] == 0.6
    assert out[0]["top_trigram_frac"] == 0.5
    assert out[0]["dup_trigram_frac"] == 0.5
    assert out[1]["top_bigram_frac"] == round(1 / 3, 6)
    assert out[1]["dup_trigram_frac"] == 0.0
    assert out[2]["top_bigram_frac"] == 0.0 and out[2]["dup_trigram_frac"] == 0.0


def test_winnow_shared_run_guarantee(spark):
    """Docs sharing >= window+n-1 consecutive tokens (here 4+3-1=6) must
    share a fingerprint, regardless of the text around the run."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    docs = _docs(
        spark,
        [
            (0, f"one two three {shared} four five"),
            (1, f"{shared} completely different tail here"),
            (2, "nothing in common with the others at all"),
        ],
    )
    by_doc: dict[int, set[int]] = {}
    for r in textops.winnow_fingerprints(docs).collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[0] & by_doc[1], "shared 6-token run must share a fingerprint"
    assert not (by_doc[0] & by_doc[2])


def test_winnow_short_doc_emits_global_min(spark):
    # 4 tokens → 2 shingles (< window=4) → exactly one fingerprint: the min
    docs = _docs(spark, [(0, "a b c d")])
    rows = textops.winnow_fingerprints(docs).collect()
    assert len(rows) == 1


def test_ngram_jaccard_hashed_keys_match_string_semantics(spark):
    """The h60 shingle-key optimization must not change pair results."""
    docs = _docs(
        spark,
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over a lazy dog"),
            (2, "completely unrelated text with other words entirely"),
        ],
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             textops.ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert pairs == {(0, 1)}


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------


def test_pii_scrub_counts_and_redaction(spark):
    docs = _docs(
        spark,
        [
            (0, "reach me at jo.doe+spam@mail.example.org or +1-555-0199 now"),
            (1, "server 192.168.1.7 and backup 10.0.0.254 hold the data"),
            (2, "no pii here at all"),
            (3, "two mails a@b.io c@d.co one ip 8.8.8.8"),
        ],
    )
    out = {r["doc_id"]: r for r in textops.pii_scrub(docs).collect()}
    assert (out[0]["n_emails"], out[0]["n_phones"], out[0]["n_ipv4s"]) == (1, 1, 0)
    assert out[0]["scrubbed"] == "reach me at <EMAIL> or <PHONE> now"
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ipv4s"]) == (0, 0, 2)
    assert out[1]["scrubbed"] == "server <IP> and backup <IP> hold the data"
    assert (out[2]["n_emails"], out[2]["n_phones"], out[2]["n_ipv4s"]) == (0, 0, 0)
    assert out[2]["scrubbed"] == "no pii here at all"
    assert (out[3]["n_emails"], out[3]["n_ipv4s"]) == (2, 1)
    assert out[3]["scrubbed"] == "two mails <EMAIL> <EMAIL> one ip <IP>"


# ---------------------------------------------------------------------------
# connected components / dedup clusters
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def test_connected_components_two_clusters(spark):
    out = textops.connected_components(_edges(spark, [(1, 2), (2, 3), (5, 6)]))
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in out.collect()}
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3), 5: (5, 2), 6: (5, 2)}


def test_connected_components_chain_needs_propagation(spark):
    """A diameter-5 chain forces several propagation rounds; the fixpoint
    must still label every node with the chain minimum."""
    out = textops.connected_components(
        _edges(spark, [(10, 9), (9, 8), (8, 7), (7, 6), (6, 5)])
    )
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {n: 5 for n in range(5, 11)}


def test_dedup_clusters_exact_dups_cluster_together(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = _docs(
        spark,
        [(0, base), (1, base), (2, base + " extra"), (3, "совсем other unrelated words entirely different text here")],
    )
    out = textops.dedup_clusters(docs)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    # exact duplicates must share a cluster rooted at the min doc_id
    assert got[0] == 0 and got[1] == 0
    # the unrelated doc never joins that cluster
    assert got.get(3, 3) != 0 or 3 not in got


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------


def test_tfidf_topterms_ranking_and_ties(spark):
    docs = _docs(
        spark,
        [
            (0, "apple apple banana shared"),
            (1, "banana banana cherry shared"),
            (2, "cherry cherry apple shared"),
        ],
    )
    out = textops.tfidf_topterms(docs, k=2)
    rows = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"]) for r in out.collect()}
    # 'shared' has df=3 → idf=ln(1)=0 → score 0: never outranks tf=1 df=2 terms
    assert rows[(0, 1)] == ("apple", 2, 2)   # tf=2, df=2: score 2·ln(1.5)
    assert rows[(0, 2)] == ("banana", 1, 2)  # tie between banana/shared broken by score
    assert rows[(1, 1)] == ("banana", 2, 2)
    assert rows[(2, 1)] == ("cherry", 2, 2)
    assert all(rank <= 2 for (_, rank) in rows)


def test_tfidf_tiebreak_term_asc(spark):
    # identical tf/df for 'aa' and 'bb' → equal scores → term asc breaks it
    docs = _docs(spark, [(0, "aa bb"), (1, "aa bb cc")])
    out = textops.tfidf_topterms(docs, k=3)
    r0 = sorted(
        ((r["rank"], r["term"]) for r in out.collect() if r["doc_id"] == 0)
    )
    assert r0 == [(1, "aa"), (2, "bb")]


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------


def test_sample_stratified_deterministic_and_monotonic(spark):
    rows = [(i, f"text {i}", ["en", "fr"][i % 2]) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    low = textops.sample_stratified(docs, {"en": 200, "fr": 100})
    ids_low = {r["doc_id"] for r in low.collect()}
    ids_low2 = {r["doc_id"] for r in low.collect()}
    assert ids_low == ids_low2, "hash sampling must be deterministic"
    high = textops.sample_stratified(docs, {"en": 600, "fr": 300})
    ids_high = {r["doc_id"] for r in high.collect()}
    assert ids_low <= ids_high, "raising the rate must only ADD rows"
    # rate 0 stratum (default) drops everything in it
    en_only = textops.sample_stratified(docs, {"en": 1000})
    assert {r["lang"] for r in en_only.collect()} == {"en"}
    # keep fraction lands near the configured permille (hash uniformity)
    n_en = sum(1 for r in low.collect() if r["lang"] == "en")
    assert 20 <= n_en <= 60  # 200 docs × 20% ± slack


# ---------------------------------------------------------------------------
# simhash Hamming pairs
# ---------------------------------------------------------------------------


def test_simhash_pairs_pigeonhole_guarantee(spark):
    """Every pair within Hamming distance 3 MUST be found (4-chunk
    pigeonhole); pairs beyond the radius must be dropped by the verify."""
    sig = spark.createDataFrame(
        [
            (1, 0b0000_0000_0000_0000),
            (2, 0b0000_0000_0000_0111),  # d(1,2)=3 → pair
            (3, 0b0000_0000_0000_1111),  # d(1,3)=4 → candidate (shares chunks 1-3) but verify drops
            (4, 0b1010_0101_1100_0011),  # far from 1/2, d(3,4)=8
            (5, 0b1010_0101_1100_0011),  # identical to 4 → hamming 0
        ],
        "doc_id long, simhash long",
    )
    out = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in textops.simhash_pairs_from_signatures(sig).collect()}
    assert out[(1, 2)] == 3
    assert out[(4, 5)] == 0
    assert (1, 3) not in out          # distance 4: candidate generated, verify kills it
    assert out[(2, 3)] == 1           # 0111 ^ 1111 = 1000 → hamming 1


def test_dedup_simhash_exact_dups_distance_zero(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _docs(spark, [(0, base), (1, base), (2, "utterly different words in this one entirely")])
    out = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in textops.dedup_simhash(docs).collect()}
    assert out.get((0, 1)) == 0
    assert (0, 2) not in out and (1, 2) not in out


def test_pii_scrub_idempotent(spark):
    """Scrubbing already-scrubbed text must be a no-op: the placeholders
    contain no PII, so a second pass finds nothing and changes nothing
    (the property that makes re-running a scrub stage safe)."""
    docs = _docs(
        spark,
        [
            (0, "mail a@b.io twice c@d.org phone +1-555-0100 ip 10.1.2.3"),
            (1, "clean text stays clean"),
        ],
    )
    once = textops.pii_scrub(docs).select(
        "doc_id", F.col("scrubbed").alias("text")
    )
    twice = {r["doc_id"]: r for r in textops.pii_scrub(once).collect()}
    assert twice[0]["n_emails"] == 0 and twice[0]["n_phones"] == 0 and twice[0]["n_ipv4s"] == 0
    assert twice[0]["scrubbed"] == "mail <EMAIL> twice <EMAIL> phone <PHONE> ip <IP>"
    assert twice[1]["scrubbed"] == "clean text stays clean"


def test_connected_components_empty_edges_schema(spark):
    """No candidate pairs → empty output with the stable 3-column schema
    (the driver's schema check must not wobble on tiny scale factors)."""
    out = textops.connected_components(_edges(spark, []))
    assert out.columns == ["doc_id", "cluster_id", "cluster_size"]
    assert out.count() == 0
    docs = _docs(spark, [(0, "aa bb cc dd ee"), (1, "vv ww xx yy zz")])
    out2 = textops.dedup_clusters(docs)
    assert out2.columns == ["doc_id", "cluster_id", "cluster_size"]
    assert out2.count() == 0


def test_token_budget_priority_order_and_cutoff(spark):
    """Docs are consumed source-asc then doc_id-asc; the running total
    stops exactly at the budget boundary."""
    rows = [
        (1, "a1", "w w w w"),        # 4 tokens, source a1
        (2, "a1", "w w w"),          # 3 tokens
        (3, "b2", "w w w w w"),      # 5 tokens
        (4, "b2", "w w"),            # 2 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # total = 14; budget 500‰ → 7: doc1 (cum 4) + doc2 (cum 7) fit, doc3 (cum 12) not
    out = {r["doc_id"]: r["cum_tokens"]
           for r in textops.token_budget_sample(docs, budget_permille=500).collect()}
    assert out == {1: 4, 2: 7}
    # budget 1000‰ keeps everything, in priority order
    out_all = {r["doc_id"]: r["cum_tokens"]
               for r in textops.token_budget_sample(docs, budget_permille=1000).collect()}
    assert out_all == {1: 4, 2: 7, 3: 12, 4: 14}


def test_lsh_null_embedding_row_no_crash(spark):
    """ADVICE r3: a NULL embedding must not crash the bucket UDF
    (np.asarray(None) is 0-d; [:dim] raised IndexError).  NULL rows take
    the zero-vector → all-'0' bucket path, preserving the old
    expression-based coalesce behavior, and the query itself still ranks
    by exact cosine."""
    dim = 8
    rows = [(i, [float(i == j) for j in range(dim)]) for i in range(6)]
    rows.append((6, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = textops.cosine_topk_lsh(emb, [0], k=3)
    got = out.collect()  # must not raise
    assert all(r["cand_id"] != 0 for r in got)


def test_simhash_pairs_rejects_uneven_chunks(spark):
    """ADVICE r3: bits not divisible by n_chunks leaves high bits outside
    every chunk — pairs differing only there would be missed silently."""
    sig = spark.createDataFrame([(1, 0), (2, 1 << 15)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="divide evenly"):
        textops.simhash_pairs_from_signatures(sig, bits=16, n_chunks=3)


def test_simhash_pairs_rejects_radius_beyond_pigeonhole(spark):
    """max_hamming >= n_chunks breaks the guarantee that some chunk agrees
    exactly — qualifying pairs would be silently missed."""
    sig = spark.createDataFrame([(1, 0), (2, 15)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        textops.simhash_pairs_from_signatures(sig, bits=16, n_chunks=4, max_hamming=4)


def _window_specs(df):
    import re
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan, set(re.findall(r"windowspecdefinition\(([^)]*)\)", plan))


def test_token_budget_three_phase_no_per_source_window(spark):
    """VERDICT r3 #1: no window partition may span a whole source.  The
    three-phase plan's big window partitions by (source, bucket) — its
    partition columns must include the bucket — and the only unpartitioned
    window is the prefix sum over the per-(source, bucket) TOTALS table
    (≤ #sources × n_buckets rows), recognizable because it orders by
    (source, bucket) and carries no doc_id."""
    rows = [(i, "s", "w w w") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = textops.token_budget_sample(docs, budget_permille=500)
    out.collect()  # finalize AQE before reading the executed plan
    plan, specs = _window_specs(out)
    assert specs, "expected window nodes in the plan"
    for s in specs:
        if "doc_id" in s:
            # partition columns print bare; ordering columns print with ASC/DESC.
            # The row-level window must be partitioned by source AND bucket.
            part = s.split("ASC")[0]
            assert "source#" in part and "bucket#" in part, f"row window not bucketed: {s}"
        else:
            # totals window: orders by (source, bucket), no row-level column
            assert "source#" in s and "bucket#" in s, f"unexpected window: {s}"


def test_token_budget_skewed_source_matches_naive(spark):
    """VERDICT r3 #5: 90%-one-source corpus — the op must stay correct (and
    by the plan test above, parallel) under stratum skew.  Oracle is a
    driver-side naive cumsum over the same priority order."""
    import re

    rows = [(i, "hot" if i % 10 else "b_cold", "w " * (1 + i % 7)) for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in textops.token_budget_sample(docs, budget_permille=400).collect()
    }
    toks = {
        i: len(re.findall(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]", "w " * (1 + i % 7)))
        for i in range(1000)
    }
    order = sorted(range(1000), key=lambda i: ("hot" if i % 10 else "b_cold", i))
    budget = sum(toks.values()) * 400 // 1000
    cum, want = 0, {}
    for i in order:
        cum += toks[i]
        if cum <= budget:
            want[i] = cum
    assert got == want and len(want) > 0


def test_sample_stratified_skew_immune_map_only(spark):
    """VERDICT r3 #5: the stratified sampler is a pure map — its plan must
    contain no Exchange and no window even when 90% of rows share one
    stratum, so stratum skew cannot create a hot task."""
    rows = [(i, "hot" if i % 10 else "cold", "text") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = textops.sample_stratified(docs, {"hot": 100, "cold": 500}, stratum_col="lang")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "windowspecdefinition" not in plan
    # determinism: same permille rates → identical sample on re-run
    again = textops.sample_stratified(docs, {"hot": 100, "cold": 500}, stratum_col="lang")
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in again.collect()}


@pytest.mark.parametrize(
    "ids",
    [
        pytest.param(list(range(50)), id="dense"),
        pytest.param([i * 977 for i in range(50)], id="sparse-uniform"),
        pytest.param([i for i in range(25)] + [10_000_000 + i for i in range(25)], id="two-clusters"),
        pytest.param([0, 1, 2, 3, 5_000_000_000], id="one-huge-outlier"),
        pytest.param([7], id="single-doc"),
        pytest.param([0, 1], id="fewer-docs-than-buckets"),
    ],
)
def test_token_budget_range_bucketing_distribution_robust(spark, ids):
    """The contiguous-range bucketing must stay CORRECT (not balanced —
    that's a perf property) under adversarial doc_id distributions:
    sparse, clustered, outlier-stretched, and fewer docs than buckets.
    Oracle: naive driver-side cumsum in (source, doc_id) order."""
    import re

    rows = [(i, ["a_src", "b_src"][i % 2], "w " * (1 + i % 5)) for i in ids]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in textops.token_budget_sample(docs, budget_permille=600).collect()
    }
    toks = {i: len(re.findall(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]", "w " * (1 + i % 5))) for i in ids}
    order = sorted(ids, key=lambda i: (["a_src", "b_src"][i % 2], i))
    budget = sum(toks.values()) * 600 // 1000
    cum, want = 0, {}
    for i in order:
        cum += toks[i]
        if cum <= budget:
            want[i] = cum
    assert got == want


# ---------------------------------------------------------------------------
# round 4: contamination check + span dedup
# ---------------------------------------------------------------------------


def test_contamination_detects_planted_leak(spark):
    """An eval doc whose text is lifted from a train doc must surface with
    full containment; an unrelated eval doc must not pair at all."""
    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    train = _docs(spark, [(0, leak + " plus some training tail here"),
                          (2, "completely separate training content with other words")])
    ev = _docs(spark, [(1, leak), (3, "nothing shared with any training document at all")])
    out = {(r["train_doc_id"], r["eval_doc_id"]): r
           for r in textops.contamination_pairs(train, ev, min_overlap=2).collect()}
    assert (0, 1) in out
    assert out[(0, 1)]["containment_permille"] == 1000  # every eval shingle leaked
    assert all(e != 3 for (_, e) in out)


def test_contamination_stop_shingle_cap(spark):
    """A shingle present in more train docs than the cap is dropped from
    the index — pairs supported ONLY by it disappear."""
    boiler = "one two three four five six seven eight"
    train = _docs(spark, [(i * 2, boiler + f" unique{i} filler words here") for i in range(5)])
    ev = _docs(spark, [(1, boiler)])
    with_cap = textops.contamination_pairs(train, ev, min_overlap=1, max_train_docs_per_shingle=3)
    without = textops.contamination_pairs(train, ev, min_overlap=1, max_train_docs_per_shingle=100)
    assert with_cap.count() == 0      # the only shared shingle is hot → dropped
    assert without.count() == 5       # cap off: all five train docs pair


def test_span_dedup_keeps_first_occurrence_only(spark):
    """Intra- and inter-doc repeated spans vanish except the (doc_id, pos)
    minimum; unique spans survive; reassembly hash matches the expected
    cleaned text."""
    import hashlib

    span = "a b c d e f g h"          # exactly one 8-token span
    docs = _docs(spark, [
        (1, f"{span} {span} {span} {span}"),          # 4 identical spans
        (2, f"{span} unique tail words live here now p q"),  # dup + unique
        (3, "totally different words"),
    ])
    out = {r["doc_id"]: r for r in textops.span_dedup(docs, span_tokens=8).collect()}
    assert (out[1]["n_spans"], out[1]["n_kept"]) == (4, 1)
    assert out[1]["clean_hash"] == hashlib.md5(span.encode()).hexdigest()
    assert (out[2]["n_spans"], out[2]["n_kept"]) == (2, 1)  # first span seen in doc 1
    assert out[2]["clean_hash"] == hashlib.md5(b"unique tail words live here now p q").hexdigest()
    assert (out[3]["n_spans"], out[3]["n_kept"]) == (1, 1)


def test_span_dedup_all_duplicate_doc_empty_reassembly(spark):
    """A doc made entirely of spans first seen elsewhere keeps nothing:
    n_kept 0 and the md5('') sentinel hash."""
    import hashlib

    span = "w x y z"
    docs = _docs(spark, [(1, span), (2, span)])
    out = {r["doc_id"]: r for r in textops.span_dedup(docs, span_tokens=4).collect()}
    assert (out[2]["n_kept"], out[2]["clean_hash"]) == (0, hashlib.md5(b"").hexdigest())
    assert out[1]["n_kept"] == 1
