"""Link extraction — the reference's one UDTF (F1, Crawling.go:14-48),
vectorized over a batch of pages.

The reference tokenizes HTML one token at a time per URL per RPC; here a
whole Arrow batch of pages is expanded in ONE numpy pass — parse, round-
trip validation, the per-page link rule (batched XXH64 over digit-matrix
keys, fixtures.corpus.out_links_batch) and target URL assembly are all
column operations; no per-page or per-link Python loop remains (this
stage was the drain's dominant phase at ~45% of round wall before the
batching). The fixture link rule already encodes the reference's quirks
(1000-token cap → empty, fetch error → empty, per-page dedup, dead-link
filter) — see fixtures/corpus.py; parity with the scalar rule is pinned
by tests/test_corpus.py and tests/test_extract.py.

The crawl round calls expand_links from its one pandas stage per page
(sources/fetch.py `expand`); url_hash is added JVM-side by the engine via
functions.urls.url_hash.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from ..fixtures import corpus as C


@lru_cache(maxsize=4)
def _luts(spec: C.CorpusSpec) -> tuple:
    """host id -> host name, and host id -> "http://hXXXX.test/p/": URL
    assembly is then ONE np.char.add per batch (the naive 3-add chain was
    the stage's next bottleneck after the hash batching)."""
    names = [C.host_name(h) for h in range(spec.n_hosts)]
    return np.array(names), np.array([f"http://{h}/p/" for h in names])


def expand_links(urls: np.ndarray, spec: C.CorpusSpec) -> tuple:
    """urls: a str array of fetched pages. Returns (parents, targets,
    hosts): one entry per extracted+validated link (F1+F2+U1), parents as
    positions into `urls`, in per-page extraction order."""
    empty = np.empty(0, dtype=np.int64), np.empty(0, dtype=object), np.empty(0, dtype=object)
    if not len(urls):
        # np.char.rpartition on an empty str array returns a 1-D (0,)
        # result under numpy 1.26, so [:, 2] would IndexError
        return empty
    import pandas as pd

    host_names, prefixes = _luts(spec)
    # corpus URLs end in /p/<i>; anything else is unfetchable ⇒ no links
    # (worker.go:153). to_numeric(coerce) replaces the scalar int()
    # ValueError guard.
    tail = np.char.rpartition(urls, "/")[:, 2]
    i = pd.to_numeric(pd.Series(tail), errors="coerce")
    ok = i.notna().to_numpy()
    idx = i.fillna(-1).to_numpy(np.int64)
    ok &= (idx >= 0) & (idx < spec.n)
    # round-trip check: a foreign-host URL that merely ends in /p/<i> must
    # not resolve to page i's links — rebuild url_of(i) (canonical digits,
    # so "/p/007" never passes for page 7) and require exact equality
    if ok.any():
        sub = idx[ok]
        expect = np.char.add(prefixes[C.host_of_batch(sub, spec)], np.char.mod("%d", sub))
        rt = np.zeros(len(idx), bool)
        rt[ok] = urls[ok] == expect
        ok = rt
    pp, tt = C.out_links_batch(idx[ok], spec)
    if len(tt) == 0:
        # np.char.mod cannot infer a dtype from an empty int array
        return empty
    host_ids = C.host_of_batch(tt, spec)
    return (
        np.flatnonzero(ok)[pp],
        np.char.add(prefixes[host_ids], np.char.mod("%d", tt)),
        host_names[host_ids],
    )
