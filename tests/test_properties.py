"""Property-based tests (hypothesis) for the pure-Python core.

These cover the invariants example-based tests can't sweep: canonicalization
must be IDEMPOTENT (a canonical URL re-canonicalizes to itself — otherwise
the seen set and frontier disagree about identity), the parser must be total
(never raise on arbitrary input), and the bloom position arithmetic must
agree with scalar double hashing for any pair of hash words.  No Spark
session needed — these run in milliseconds.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from frontier_engine import seen as seenmod
from frontier_engine.canonicalize import canonical_url, surt_key
from frontier_engine.htmlx import parse_html
from frontier_engine.refsem import extract_links, extract_metadata, extract_text

# URL pieces kept printable-ASCII: the reference operates on scraped hrefs,
# and the F2 shape gate rejects whitespace/control anyway
_path_chars = st.text(
    alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyzABC0123456789-._~%/:@!$&'()*+,;="),
    max_size=30,
)
_hosts = st.from_regex(r"[a-z][a-z0-9]{0,10}(\.[a-z]{2,6}){1,2}", fullmatch=True)


def test_canonical_url_regressions():
    """Explicit examples from the round-2 verdict: ';params' must survive
    (urlparse would strip them), empty segments and trailing slashes are
    distinct resources (RFC 3986 §6 does not license merging them)."""
    # ;params survive and the result is a fixed point
    assert canonical_url("http://a.aa/;/") == "http://a.aa/;/"
    assert canonical_url("http://a.aa/page;v=1") == "http://a.aa/page;v=1"
    assert canonical_url("http://a.aa/page;v=1") != canonical_url("http://a.aa/page")
    # empty segments and trailing slash preserved
    assert canonical_url("http://a.aa/a//b") == "http://a.aa/a//b"
    assert canonical_url("http://a.aa/a/") == "http://a.aa/a/"
    assert canonical_url("http://a.aa/a//b") != canonical_url("http://a.aa/a/b")
    assert canonical_url("http://a.aa/a/") != canonical_url("http://a.aa/a")
    # dot-segments still collapse per §5.2.4, keeping the trailing slash
    assert canonical_url("http://a.aa/a/./b/../c/") == "http://a.aa/a/c/"
    assert canonical_url("http://a.aa/../x") == "http://a.aa/x"
    # query: normalization happens before the sort; all-empty query drops '?'
    assert canonical_url("http://a.aa/?%61=1&Z=2") == "http://a.aa/?Z=2&a=1"
    assert canonical_url("http://a.aa/?&&") == "http://a.aa/"
    # all of the above are fixed points
    for u in ("http://a.aa/;/", "http://a.aa/a//b", "http://a.aa/a/",
              "http://a.aa/?Z=2&a=1", "http://a.aa/a/c/"):
        assert canonical_url(u) == u


@given(host=_hosts, path=_path_chars, scheme=st.sampled_from(["http", "https"]))
@settings(max_examples=300, deadline=None)
def test_canonical_url_idempotent(host, path, scheme):
    url = f"{scheme}://{host}/{path}"
    c1 = canonical_url(url)
    if c1 is None:
        return
    c2 = canonical_url(c1)
    assert c2 == c1, f"{url!r}: {c1!r} -> {c2!r}"


@given(host=_hosts, path=_path_chars)
@settings(max_examples=200, deadline=None)
def test_surt_key_stable_under_canonicalization(host, path):
    url = f"http://{host}/{path}"
    c = canonical_url(url)
    if c is None:
        return
    assert surt_key(url) == surt_key(c)


@given(html=st.text(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_parser_total_on_arbitrary_text(html):
    """E1/E4/E7 must be TOTAL: malformed markup becomes rows, not exceptions
    (the engine's failures-as-rows contract, P5)."""
    doc = parse_html(html)
    assert isinstance(doc.get_text(separator=" ", strip=True), str)
    assert isinstance(extract_text(html), str)
    assert isinstance(extract_links(html, "http://ex.com"), list)
    assert isinstance(extract_metadata(html), dict)


_LONG = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)


@given(h1=_LONG, h2=_LONG, m_exp=st.integers(min_value=10, max_value=22))
@settings(max_examples=200, deadline=None)
def test_bloom_paths_agree_on_any_key(h1, h2, m_exp):
    """A key reaches the bloom filter as its two JVM hash words (any signed
    longs); the vectorized positions must equal scalar double hashing over
    the unsigned words, wrapped mod 2^64, and stay inside the bitmap."""
    m_bits = (1 << m_exp) - 8  # byte-aligned, non-power-of-two
    u1, u2 = h1 & 0xFFFFFFFFFFFFFFFF, (h2 & 0xFFFFFFFFFFFFFFFF) | 1
    scalar = [((u1 + i * u2) & 0xFFFFFFFFFFFFFFFF) % m_bits for i in range(seenmod.K_HASHES)]
    batch = seenmod._positions([h1], [h2], m_bits)[0]
    assert batch.tolist() == scalar
    assert (batch >= 0).all() and (batch < m_bits).all()


# ---------------------------------------------------------------------------
# rolling shingle hashes (numeric n-gram keys for the minhash family)
# ---------------------------------------------------------------------------


@given(
    st.lists(st.integers(min_value=0, max_value=2038074742), min_size=0, max_size=12),
    st.integers(min_value=2, max_value=4),
)
@settings(max_examples=30, deadline=None)
def test_rolling_shingle_hashes_matches_reference(spark, hs, n):
    """The array-expression roll must equal a plain Python reference fold
    for every window, including the size < n empty case."""
    import pyspark.sql.functions as F

    from frontier_engine.textops import MINHASH_PRIME, _ROLL_B, rolling_shingle_hashes

    df = spark.createDataFrame([(hs,)], "hs array<long>")
    got = df.select(rolling_shingle_hashes(F.col("hs"), n).alias("w")).first()["w"]

    def ref_window(i):
        acc = hs[i]
        for j in range(1, n):
            acc = (acc * _ROLL_B + hs[i + j]) % MINHASH_PRIME
        return acc

    want = [ref_window(i) for i in range(len(hs) - n + 1)] if len(hs) >= n else []
    assert got == want


def test_shingle_rows_hashes_tokens_before_the_explode(spark):
    """shingle_rows projects the token-hash array as its own column, so the
    Generate that explodes the rolling windows reads that column and calls
    no md5: inlined into the explode, every window re-hashes its tokens
    (O(tokens²) md5 calls; see rolling_shingle_hashes).  Plans only."""
    from frontier_engine.textops import shingle_rows

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = shingle_rows(df, 3)._jdf.queryExecution().executedPlan().toString()
    generate = [line for line in plan.splitlines() if "Generate " in line]
    assert len(generate) == 1
    assert "md5(" not in generate[0]
