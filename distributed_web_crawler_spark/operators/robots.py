"""robots.txt path-prefix blocking (north-rule extension; no reference
analog). FIXTURES.md §4: hosts with h % 16 == 7 disallow prefix /p/3.

Expressed as a pure Catalyst predicate so candidate filtering stays
JVM-side. A real deployment replaces `blocked_expr` with a broadcast join
against a `robots` table keyed by host with TTL'd `disallow_prefixes`;
RobotsCache.to_table builds that table from the in-process cache."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions import urls as U
from ..oracle.crawler import RobotsPolicy


def blocked_expr(url: Column) -> Column:
    """NULL-safe: a URL outside the synthetic host scheme (host_num NULL)
    must evaluate to FALSE — not NULL — or filter(~blocked) would silently
    drop it from both the survivors and the blocked count."""
    h = U.host_num(url)
    return F.coalesce((F.pmod(h, F.lit(16)) == 7) & U.path_of(url).startswith("/p/3"), F.lit(False))


class RobotsCache:
    """TTL'd robots.txt cache (north rule: "robots.txt caching"). Mirrors
    the reference's cache discipline (refresh on expiry, serve from cache
    within TTL — RedisCache/cache.go:55-103 applied to robots instead of
    results). "Fetching" robots.txt is the deterministic fixture rule; a
    real deployment swaps `_fetch` for an HTTP GET + parser. Driver-side
    control plane: one entry per host."""

    def __init__(self, policy: RobotsPolicy | None = None, ttl_s: float = 86400.0):
        self.policy = policy or RobotsPolicy()
        self.ttl_s = ttl_s
        self._entries: dict[str, tuple[float, list]] = {}  # host -> (fetched_at, prefixes)
        self.n_fetches = 0

    def _fetch(self, host_num: int) -> list:
        self.n_fetches += 1
        return self.policy.disallow_prefixes(host_num)

    def prefixes(self, host: str, now: float) -> list:
        ent = self._entries.get(host)
        if ent is None or now - ent[0] > self.ttl_s:
            num = int(host[1:5]) if host.startswith("h") else 0
            ent = (now, self._fetch(num))
            self._entries[host] = ent
        return ent[1]

    def blocked_url(self, url: str, now: float) -> bool:
        from ..fixtures.corpus import host_of_url

        host = host_of_url(url)
        path = url.split(host, 1)[1]
        return any(path.startswith(p) for p in self.prefixes(host, now))

    def to_table(self, spark: SparkSession) -> DataFrame:
        rows = [
            (host, prefixes, int(fetched_at), int(self.ttl_s))
            for host, (fetched_at, prefixes) in sorted(self._entries.items())
        ]
        return spark.createDataFrame(
            rows, "host string, disallow_prefixes array<string>, fetched_at long, ttl_s long"
        )

