"""Bloom seen-set correctness and robots.txt admission rules."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from goskyr_spark.crawl.bloom import BloomSpec, empty_blooms, filter_unseen, merge_blooms, split_by_bloom
from goskyr_spark.crawl.robots import crawl_delay, is_allowed, parse_robots


def _cand(spark, hashes, spec):
    df = spark.createDataFrame(
        [(int(h), f"http://x/u{int(h)}") for h in hashes], "url_hash long, url string"
    )
    return df.withColumn("bucket", spec.bucket_col(F.col("url_hash")))


def test_bloom_no_false_negatives_and_exact_verify(spark):
    spec = BloomSpec(n_buckets=4, bits_per_bucket=1 << 12, k=5)
    rng = np.random.default_rng(1)
    seen_hashes = rng.integers(-(2**62), 2**62, size=500).tolist()
    new_hashes = rng.integers(-(2**62), 2**62, size=300).tolist()

    seen = _cand(spark, seen_hashes, spec).withColumn("round_added", F.lit(0))
    blooms = merge_blooms(empty_blooms(spark, spec), seen, spec).cache()

    tagged = split_by_bloom(_cand(spark, seen_hashes, spec), blooms, spec)
    # no false negatives: every seen hash must be maybe_seen
    assert tagged.filter(~F.col("maybe_seen")).count() == 0

    unseen = filter_unseen(_cand(spark, new_hashes, spec), blooms, seen, spec)
    got = {r["url_hash"] for r in unseen.collect()}
    assert got == set(new_hashes) - set(seen_hashes)
    # and seen candidates are fully filtered
    assert filter_unseen(_cand(spark, seen_hashes, spec), blooms, seen, spec).count() == 0


def test_bloom_false_positive_rate_sane(spark):
    spec = BloomSpec(n_buckets=4, bits_per_bucket=1 << 14, k=7)
    rng = np.random.default_rng(2)
    seen_hashes = rng.integers(-(2**62), 2**62, size=1000).tolist()
    probe = rng.integers(-(2**62), 2**62, size=2000).tolist()
    seen = _cand(spark, seen_hashes, spec).withColumn("round_added", F.lit(0))
    blooms = merge_blooms(empty_blooms(spark, spec), seen, spec)
    tagged = split_by_bloom(_cand(spark, probe, spec), blooms, spec)
    fp = tagged.filter(F.col("maybe_seen")).count()
    # 1000 keys in 4×16384 bits with k=7 → fp well under 5%
    assert fp / len(probe) < 0.05, fp


def test_hash_collision_does_not_suppress_url(spark):
    """Two distinct URLs with the SAME 64-bit hash (crafted): the exact
    seen-check joins on (url_hash, url), so the unseen colliding URL
    must survive; and frontier dedup must keep both."""
    spec = BloomSpec(n_buckets=4, bits_per_bucket=1 << 12, k=5)
    seen = spark.createDataFrame(
        [(42, "http://a.example/1", 0)], "url_hash long, url string, round_added int"
    ).withColumn("bucket", spec.bucket_col(F.col("url_hash")))
    blooms = merge_blooms(empty_blooms(spark, spec), seen, spec)
    cand = spark.createDataFrame(
        [(42, "http://b.example/2")], "url_hash long, url string"
    ).withColumn("bucket", spec.bucket_col(F.col("url_hash")))
    # bloom says maybe-seen (same hash), exact (hash, url) check rescues
    out = filter_unseen(cand, blooms, seen, spec)
    assert out.count() == 1

    from goskyr_spark.crawl.rounds import dedup_frontier

    fr = spark.createDataFrame(
        [
            ("http://a.example/1", 42, "a.example", "example", 1.0, 0, 0),
            ("http://b.example/2", 42, "b.example", "example", 2.0, 0, 0),
        ],
        "url string, url_hash long, host string, domain string, "
        "priority double, depth int, round_added int",
    )
    assert dedup_frontier(fr).count() == 2




ROBOTS = """\
User-agent: *
Disallow: /private/
Allow: /private/public/
Crawl-delay: 2

User-agent: goskyr
Disallow: /goskyr-only/
Allow: /
Crawl-delay: 5
"""


def test_robots_longest_match_and_groups():
    # specific agent group wins over *
    assert not is_allowed(ROBOTS, "goskyr/1.0", "/goskyr-only/x")
    assert is_allowed(ROBOTS, "goskyr/1.0", "/private/anything")  # goskyr group allows /
    # generic agent: longest match decides; Allow beats Disallow on the deeper path
    assert not is_allowed(ROBOTS, "otherbot", "/private/secret")
    assert is_allowed(ROBOTS, "otherbot", "/private/public/x")
    assert is_allowed(ROBOTS, "otherbot", "/open")
    assert crawl_delay(ROBOTS, "goskyr") == 5.0
    assert crawl_delay(ROBOTS, "otherbot") == 2.0


def test_robots_wildcards_and_anchor():
    txt = "User-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp*\n"
    assert not is_allowed(txt, "x", "/docs/file.pdf")
    assert is_allowed(txt, "x", "/docs/file.pdfx")  # $ anchor
    assert not is_allowed(txt, "x", "/tmp/abc")
    assert is_allowed(txt, "x", "/temp")


def test_robots_empty_and_malformed():
    assert is_allowed("", "x", "/anything")
    assert is_allowed("garbage without colons\n%%%", "x", "/a")
    g = parse_robots("User-agent: a\nUser-agent: b\nDisallow: /x\n")
    assert not is_allowed("User-agent: a\nUser-agent: b\nDisallow: /x\n", "b", "/x/y")
