"""expand_links, the batched link extraction the crawl round's page pass
runs, vs the scalar link rule — the numpy rewrite must preserve every
guard the per-page loop had (F1 quirks, round-trip host validation,
non-corpus shapes) and the per-parent extraction order."""

import numpy as np

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.operators.extract import expand_links


def _links(urls, spec):
    """(parent url, link url, link host) per extracted link, in order."""
    urls = np.array(urls, dtype=str)
    parents, targets, hosts = expand_links(urls, spec)
    return list(zip(urls[parents], targets, hosts))


def _scalar_expected(urls, spec):
    exp = []
    for purl in urls:
        try:
            i = C.index_of_url(purl)
        except (ValueError, IndexError):
            continue
        if not (0 <= i < spec.n) or C.url_of(i, spec) != purl:
            continue
        for t in C.out_links(i, spec):
            exp.append((purl, C.url_of(t, spec), C.host_name(C.host_of(t, spec))))
    return sorted(exp)


def test_extract_guards_and_parity():
    spec = C.CorpusSpec(n=3000)
    urls = [C.url_of(i, spec) for i in range(0, 3000, 3)] + [
        "http://evil.test/p/5",  # foreign host ending in /p/<i>
        "http://h0000.test/p/007",  # non-canonical digits must NOT resolve
        f"http://h0000.test/p/{spec.n + 5}",  # out of range
        "http://h0000.test/nope",  # no page suffix
        "not a url",
        "http://h0001.test/p/x",  # non-numeric suffix
    ]
    got = sorted(_links(urls, spec))
    exp = _scalar_expected(urls, spec)
    assert got == exp
    assert len(got) > 2000


def test_extract_order_within_parent():
    """Within one batch the links of a parent appear in extraction order
    (row-major emission from the batched rule)."""
    spec = C.CorpusSpec(n=3000)
    per_parent = {}
    for parent, url, _host in _links([C.url_of(i, spec) for i in range(300)], spec):
        per_parent.setdefault(parent, []).append(url)
    for i in range(300):
        purl = C.url_of(i, spec)
        exp = [C.url_of(t, spec) for t in C.out_links(i, spec)]
        assert per_parent.get(purl, []) == exp


def test_extract_empty_batches():
    spec = C.CorpusSpec(n=3000)
    assert _links([], spec) == []
    assert _links(["http://h0000.test/nope", "not a url"], spec) == []
