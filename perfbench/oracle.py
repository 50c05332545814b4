"""Expected outputs for the benchmark's output checks.

* drain_oracle: the rules of distributed_web_crawler_spark/oracle/crawler.py
  (per-depth barrier, first-discovery dedup, last-depth discard, politeness
  sub-rounds, robots filter) generalised from one seed page to a seed list —
  the shape of a multi-seed frontier drain. It reuses only the corpus
  fixture's scalar link rule (fixtures.corpus.out_links / url_of), never the
  engine's batched kernels.
* seen_digest: an order-free digest of a seen set with first-discovery depth.
* canon_hash: the DuckDB-oracle comparison of scripts/oracle_sweep.py (sort
  columns by name, rows by every column, hash the dtype-sensitive CSV).
"""

from __future__ import annotations

import hashlib
from typing import Dict, Iterable, List, Optional, Tuple

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.functions.xxh64 import xxh64_signed


def drain_oracle(
    seed_indices: Iterable[int],
    depth: int,
    spec: C.CorpusSpec,
    politeness=None,
    robots=None,
) -> Tuple[Dict[str, int], List[Tuple[int, int, int]]]:
    """(url -> first-discovery depth, [(depth, sub_round, n_admitted)])."""
    seen: Dict[str, int] = {}
    level: List[int] = []
    for i in sorted(set(seed_indices)):
        if robots is not None and robots.blocked(i, spec):
            continue
        seen[C.url_of(i, spec)] = 0
        level.append(i)
    schedule: List[Tuple[int, int, int]] = []
    for d in range(depth):
        if not level:
            break
        pending = level
        if politeness is not None:
            pending = sorted(
                level,
                key=lambda i: (C.host_of(i, spec), xxh64_signed(C.url_of(i, spec)), C.url_of(i, spec)),
            )
        sub, next_level = 0, []
        while pending:
            if politeness is None:
                admitted, pending = pending, []
            else:
                admitted, rest, taken = [], [], {}
                for i in pending:
                    h = C.host_of(i, spec)
                    if taken.get(h, 0) < politeness.max_per_round(h):
                        taken[h] = taken.get(h, 0) + 1
                        admitted.append(i)
                    else:
                        rest.append(i)
                pending = rest
            schedule.append((d, sub, len(admitted)))
            if d + 1 < depth:
                for i in admitted:
                    for t in C.out_links(i, spec):
                        u = C.url_of(t, spec)
                        if u in seen or (robots is not None and robots.blocked(t, spec)):
                            continue
                        seen[u] = d + 1
                        next_level.append(t)
            sub += 1
        level = next_level
    return seen, schedule


def seen_digest(pairs: Iterable[Tuple[str, int]]) -> str:
    h = hashlib.sha256()
    for url, d in sorted(pairs):
        h.update(f"{d}\t{url}\n".encode())
    return h.hexdigest()


def corrupt(digest: str) -> str:
    """A deliberately wrong expected digest (the --corrupt-oracle check)."""
    return hashlib.sha256(("corrupt:" + digest).encode()).hexdigest()


def canon_hash(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


def schedule_of(stats: Optional[list]) -> List[Tuple[int, int, int]]:
    """[(depth, sub_round, n_admitted)] from the engine's per-round stats."""
    return [(int(s.depth), int(s.sub_round), int(s.n_admitted)) for s in stats or []]
