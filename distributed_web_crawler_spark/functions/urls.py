"""URL column functions (SURVEY.md §2.8 X1/X7).

The reference stores raw ``attr.Val`` hrefs with no canonicalization
(Crawling.go:39); the north rule adds it. All functions are built-in
Catalyst expressions (JVM-side, codegen'd) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def canonicalize(url: Column) -> Column:
    """lower + trim + strip #fragment (X7). Our synthetic URLs are already
    canonical; applied anyway so the plan shape matches a real crawl."""
    return F.regexp_replace(F.lower(F.trim(url)), "#.*$", "")


def url_hash(url: Column) -> Column:
    """64-bit join/dedup key — JVM xxhash64, bit-identical to the oracle's
    pure-Python xxh64 (parity-tested in tests/test_xxh64.py)."""
    return F.xxhash64(url)


def host_of(url: Column) -> Column:
    return F.regexp_extract(url, r"^https?://([^/]+)", 1)


def host_num(url: Column) -> Column:
    """Numeric host id for the synthetic h%04d.test scheme. try_cast: a URL
    outside the scheme (e.g. a malformed client seed) yields NULL, not an
    ANSI cast error — NULL-host rows fall through every robots/politeness
    predicate and the job completes with just the seed seen."""
    return F.regexp_extract(url, r"^https?://h(\d+)\.test", 1).try_cast("int")


def page_index(url: Column) -> Column:
    """Inverse of fixtures url_of — NULL unless the FULL URL matches the
    corpus scheme. The host anchor matters: a foreign-host URL that merely
    ends in /p/<i> (e.g. a malformed client seed) must not resolve to a
    corpus page, or the page pass (sources/fetch.py, keyed on this) would
    fetch another site's payload for it."""
    return F.regexp_extract(url, r"^https?://h\d+\.test/p/(\d+)$", 1).try_cast("long")


def path_of(url: Column) -> Column:
    return F.regexp_replace(url, r"^https?://[^/]+", "")


def seen_bucket(hash_col: Column, n_buckets: int) -> Column:
    """Bucket of a (signed) url_hash for seen-set partitioning — pmod keeps
    it non-negative and matches Python's % on the signed value."""
    return F.pmod(hash_col, F.lit(n_buckets)).cast("int")
