"""Kernel tests for wave 85: rfc3986_normalize vs hand-derived
canonical forms including the percent-decode / dot-segment /
default-port edge cases."""

from __future__ import annotations

from bano_spark.operators.webtext import rfc3986_normalize


URLS = [
    # default port stripped only for the matching scheme
    ("HTTP://Example.COM:80/a/b", "http://example.com/a/b"),
    ("https://example.com:443/a", "https://example.com/a"),
    ("https://example.com:80/a", "https://example.com:80/a"),
    ("http://example.com:8080/a", "http://example.com:8080/a"),
    # fragment dropped; empty path -> '/'
    ("http://example.com#frag", "http://example.com/"),
    # dot segments, duplicate + trailing slashes
    ("http://e.com/a/./b//c/", "http://e.com/a/b/c"),
    ("http://e.com/a/x/../b", "http://e.com/a/b"),
    ("http://e.com/a/../../b", "http://e.com/b"),
    # percent-decode unreserved, keep+uppercase reserved escapes
    ("http://e.com/%61%2Db/%63", "http://e.com/a-b/c"),
    ("http://e.com/a%2fb", "http://e.com/a%2Fb"),
    ("http://e.com/p%20q", "http://e.com/p%20q"),
    ("http://e.com/a%7Eb", "http://e.com/a~b"),
    # malformed escape left alone (literal %)
    ("http://e.com/a%zzb", "http://e.com/a%zzb"),
    # query: tracking dropped, sorted, empty '?' removed
    ("http://e.com/a?utm_source=x", "http://e.com/a"),
    ("http://e.com/a?b=2&a=1&gclid=9", "http://e.com/a?a=1&b=2"),
    ("http://e.com/a?ref=z&x=1", "http://e.com/a?x=1"),
]


def test_rfc3986_normalize_vectors(spark):
    df = spark.createDataFrame([(u,) for u, _ in URLS], "url string")
    got = [r["c"] for r in
           df.select(rfc3986_normalize("url").alias("c")).collect()]
    assert got == [c for _, c in URLS]


def test_rfc3986_idempotent(spark):
    # normalizing a normalized URL is a fixpoint
    df = spark.createDataFrame([(u,) for u, _ in URLS], "url string")
    once = df.select(rfc3986_normalize("url").alias("url"))
    twice = once.select(rfc3986_normalize("url").alias("c"))
    assert ([r["c"] for r in twice.collect()]
            == [r["url"] for r in once.collect()])
