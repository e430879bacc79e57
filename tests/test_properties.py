"""Property-based tests (hypothesis) for the pure kernels: URL
canonicalization, bloom bit math, robots defaults,
winnowing determinism."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from goskyr_spark.crawl.bloom import _positions, _set_bits, _test_bits
from goskyr_spark.crawl.robots import is_allowed
from goskyr_spark.extract.urlutil import canonical_url, registrable_domain, url_slug

urls = st.one_of(
    st.from_regex(r"https?://[a-z0-9\-]{1,12}(\.[a-z]{2,6}){1,3}(:\d{2,5})?(/[a-zA-Z0-9._\-]{0,10}){0,4}/?(\?[a-z]=[a-z0-9]{0,5})?", fullmatch=True),
    st.text(min_size=0, max_size=40),
)


@given(urls)
@example("\x08\xa00")  # urlsplit drops the C0 byte after str.strip ran
@example("0 #")  # dropping the fragment bares a trailing space
@settings(max_examples=300, deadline=None)
def test_canonical_url_idempotent(u):
    c = canonical_url(u)
    assert canonical_url(c) == c


@given(urls)
@settings(max_examples=200, deadline=None)
def test_url_slug_charset(u):
    s = url_slug(u)
    assert all(ch.islower() or ch.isdigit() or ch == "-" for ch in s)
    assert not s.startswith("-") and not s.endswith("-")


@given(st.text(alphabet="abcdefghij.-", min_size=1, max_size=30))
@settings(max_examples=200, deadline=None)
def test_registrable_domain_is_suffix(host):
    d = registrable_domain(host)
    assert host.lower().endswith(d) or d == host.lower()


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=200, unique=True))
@settings(max_examples=50, deadline=None)
def test_bloom_no_false_negatives_property(hashes):
    m, k = 1 << 14, 5
    bits = np.zeros(m // 8, dtype=np.uint8)
    h = np.array(hashes, dtype=np.int64).view(np.uint64)
    _set_bits(bits, _positions(h, m, k))
    assert _test_bits(bits, _positions(h, m, k)).all()



@given(st.text(alphabet="abcdefg/.-*$", min_size=0, max_size=30))
@settings(max_examples=200, deadline=None)
def test_robots_empty_rules_allow_everything(path):
    assert is_allowed("", "anybot", path)
    assert is_allowed("User-agent: *\nDisallow:\n", "anybot", path)


@given(st.text(alphabet="abcde fgh", min_size=0, max_size=120), st.integers(2, 6), st.integers(2, 6))
@settings(max_examples=100, deadline=None)
def test_winnowing_subset_of_grams(text, k, window):
    """Selected fingerprints are a subset of all k-gram hashes and
    deterministic across calls (pure python mirror of the Spark op)."""
    words = text.split()
    grams = [" ".join(words[i : i + k]) for i in range(len(words)) if len(words[i : i + k]) == k]
    import zlib

    hashes = [zlib.crc32(g.encode()) & 0x7FFFFFFF for g in grams]
    if not hashes:
        return
    mins = {min(hashes[i : i + window]) for i in range(max(1, len(hashes) - window + 1))}
    assert mins <= set(hashes)
    mins2 = {min(hashes[i : i + window]) for i in range(max(1, len(hashes) - window + 1))}
    assert mins == mins2


@given(st.one_of(
    urls,
    st.from_regex(
        r"https?://[A-Za-z0-9.\-]{1,20}(:[0-9]{1,5})?"
        r"(/[^?#\x00-\x20]{0,12}){0,3}(\?[^#\x00-\x20]{0,12})?(#[^\x00-\x20]{0,8})?",
        fullmatch=True,
    ),
))
@example("http://x.com/a\xa0#f")  # fast-path match whose canon ends in whitespace
@settings(max_examples=500, deadline=None)
def test_frontier_triple_equals_slow_pipeline(u):
    """frontier_triple's regex fast path must be byte-identical to the
    canonical_url → host_of → registrable_domain pipeline on EVERY
    input — fuzzed over both the fast-path language and arbitrary
    text (which exercises the fallback)."""
    from goskyr_spark.extract.urlutil import frontier_triple, host_of

    canon = canonical_url(u)
    host = host_of(canon)
    assert frontier_triple(u) == (canon, host, registrable_domain(host))
