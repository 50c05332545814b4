"""Job ledger (D7) + depth-monotone job cache (D6) + crawl service.

The reference's control plane — the Postgres lock server
(Server/LockServer/Database/main.go:20-28, lockServer.go:105-197) and the
Redis result cache (RedisCache/cache.go:19-103, ClientFacingServer/
server.go:279-295) — is driver-side metadata, like an Iceberg catalog. It
is realized here as tiny versioned parquet tables (catalog.AtomicTable,
compare-and-swap version commits, so admission/acquisition is exactly-once
across competing master PROCESSES — the reference lock server's job; on a
cluster: Iceberg MERGE INTO with a conditional commit). Cardinality
is one row per job / seed URL, so pandas+pyarrow on the driver is the honest
tool; all bulk data stays in Spark.

Write amplification is O(Δ) per op, not O(table): each mutation commits a
KEYED DELTA (only the touched rows + deleted keys, `Delta`), matching the
reference lock server's per-row SQL (Database/main.go:69-101); a full
snapshot lands every `_PandasTable.FULL_EVERY` versions to bound
reconstruction chains, and reads fold forward from an in-process memo so
steady-state reads are also O(Δ) IO (plus one in-memory copy).

Semantics reproduced exactly:

* admission exactly-once: a job_id already in the ledger is not re-admitted
  (lockServer.go:131-147 → J4)
* late-job recovery scan: oldest running job idle > timeout, ORDER BY
  assigned_at ASC LIMIT 1 (Database/library.go:23-28, lockServer.go:174-197
  → O1); our resume continues from the last committed round instead of
  restarting at depth 0 (strictly better, same final state — SURVEY.md §3.3)
* cache: serve only if cached depth >= requested (cache.go:65-68 → F5),
  truncated to the requested depth (server.go:288 → O2), depth-monotone
  upsert AddIfNoLargerResultPresent (cache.go:78-103), TTL with
  refresh-on-read (server.go:37, cache.go:72 → W4).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import List, Optional, Sequence

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..catalog.tables import (
    DELTA_META,
    AtomicTable,
    fold_delta,
    read_table_version,
    version_delta_meta,
)

JOB_TIMEOUT_S = 60.0  # lockServer.go:115
CACHE_TTL_S = 3600.0  # server.go:37 (60 min)

_LEDGER_COLS = {
    "job_id": "object",
    "client_id": "object",
    "seed_url": "object",
    "depth": "int64",
    "priority": "int64",  # north-rule priority queue: lower = served first
    "state": "object",  # pending | running | done
    "owner": "object",
    "assigned_at": "float64",
    "last_round": "int64",
}


@dataclass
class Delta:
    """Keyed mutation staged by a `mutate` fn: delete `dels` keys, then
    upsert `ups` rows (existing keys update in place, new keys append) —
    the O(Δ)-per-op analog of the reference lock server's per-row SQL
    (Server/LockServer/Database/main.go:69-101) and the documented Iceberg
    MERGE INTO swap point."""

    ups: Optional[pd.DataFrame] = None
    dels: Sequence = field(default_factory=tuple)


class _PandasTable:
    # full-snapshot cadence: bounds every delta chain (reconstruction walk,
    # compact()'s kept window) at FULL_EVERY versions
    FULL_EVERY = 16

    def __init__(self, warehouse: str, name: str, cols: dict, key: Optional[str] = None):
        self.table = AtomicTable(warehouse, name)
        self.cols = cols
        self.key = key if key is not None else next(iter(cols))
        # folded snapshot memo: steady-state reads fold only the versions
        # committed since the last read instead of rebuilding from parquet.
        # ONE tuple attribute (v, df), read/written atomically: paired
        # fields could be observed torn (fresh v, stale df) under
        # in-process threading, and the class advertises cross-process AND
        # cross-thread safety
        self._memo: Optional[tuple] = None

    def _empty(self) -> pd.DataFrame:
        return pd.DataFrame({c: pd.Series(dtype=t) for c, t in self.cols.items()})

    def _read_at(self, v: Optional[int]) -> pd.DataFrame:
        if v is None:
            return self._empty()
        return read_table_version(self.table, v)

    def _state(self, v: Optional[int]) -> pd.DataFrame:
        """Folded snapshot at version v (a defensive copy — `mutate` fns may
        scribble on it). Fast path: advance the memo by folding only the
        deltas in (memo_v, v]; a full snapshot in that range resets the fold."""
        if v is None:
            return self._empty()
        memo = self._memo  # atomic snapshot of the (v, df) pair
        if memo is not None and v >= memo[0]:
            df = memo[1]
            for vv in range(memo[0] + 1, v + 1):
                meta = version_delta_meta(self.table, vv)
                path = self.table.path_of(vv)
                if meta is None:
                    df = pq.read_table(path + "/data.parquet").to_pandas()
                else:
                    ups = pq.read_table(path + "/delta.parquet").to_pandas()
                    df = fold_delta(df, ups, meta["deletes"], meta["key"])
            self._memo = (v, df)
            return df.copy()
        df = self._read_at(v)
        self._memo = (v, df)
        return df.copy()

    def read(self) -> pd.DataFrame:
        last_err = None
        for _ in range(8):
            try:
                return self._state(self.table.current_version())
            except FileNotFoundError as e:
                # a concurrent compact() severed the chain mid-walk; the
                # materialized snapshot is already in place — re-resolve
                self._memo = None
                last_err = e
        raise last_err

    def _stage(self, df: pd.DataFrame) -> str:
        path = self.table.new_version_path()
        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path + "/data.parquet")
        return path

    def _stage_delta(self, delta: Delta, base_v: Optional[int]) -> str:
        path = self.table.new_version_path()
        os.makedirs(path, exist_ok=True)
        ups = delta.ups if delta.ups is not None and len(delta.ups) else self._empty()
        pq.write_table(pa.Table.from_pandas(ups, preserve_index=False), path + "/delta.parquet")
        meta = {"key": self.key, "deletes": list(delta.dels), "base": base_v}
        with open(os.path.join(path, DELTA_META), "w") as f:
            json.dump(meta, f)
        return path

    def _chain_len(self, v: Optional[int]) -> int:
        """Consecutive delta versions ending at v (bounded walk over tiny
        json files; FULL_EVERY caps it)."""
        n = 0
        while v is not None and n < self.FULL_EVERY:
            try:
                meta = version_delta_meta(self.table, v)
            except FileNotFoundError:
                break  # compacted below a full snapshot
            if meta is None:
                break
            v = meta["base"]
            n += 1
        return n

    def mutate(self, fn):
        """Optimistic read-modify-write. `fn(df) -> (Delta | None, result)`;
        None skips the write (read-only decision). The Delta stages ONLY
        the touched rows/keys — O(Δ) write amplification per op — with a
        full snapshot every FULL_EVERY versions to bound chains. On a CAS
        conflict — another process committed between our read and publish —
        re-read and re-apply `fn`, so the decision is always made against
        the state it ends up being applied to (exactly-once across
        processes)."""
        while True:
            v0 = self.table.current_version()
            try:
                df = self._state(v0)
            except FileNotFoundError:
                # a concurrent compact() swept a version between the pointer
                # read and the chain walk — re-resolve the current version
                self._memo = None
                continue
            out, result = fn(df)
            if out is None:
                return result
            folded = fold_delta(df, out.ups, out.dels, self.key)
            if self._chain_len(v0) + 1 >= self.FULL_EVERY:
                path = self._stage(folded)
            else:
                path = self._stage_delta(out, v0)
            if self.table.publish(path, expected_version=v0):
                self._memo = ((v0 or 0) + 1, folded)
                return result


class JobLedger:
    def __init__(self, warehouse: str):
        self._t = _PandasTable(warehouse, "job_ledger", _LEDGER_COLS)

    def submit(
        self,
        job_id: str,
        client_id: str,
        seed_url: str,
        depth: int,
        now: Optional[float] = None,
        priority: int = 0,
    ) -> bool:
        """Admit a job exactly once; returns False if job_id already held
        (the reference lock server's Accepted=false path, rpc.go:37).
        `priority` generalizes the reference's FIFO queue (north rule):
        lower values are served first, ties FIFO by submit time."""
        now = time.time() if now is None else now
        row = {
            "job_id": job_id,
            "client_id": client_id,
            "seed_url": seed_url,
            "depth": depth,
            "priority": priority,
            "state": "pending",
            "owner": "",
            "assigned_at": now,
            "last_round": -1,
        }

        def fn(df):
            if (df["job_id"] == job_id).any():
                return None, False
            return Delta(ups=pd.DataFrame([row])), True

        return self._t.mutate(fn)

    def acquire(self, owner: str, now: Optional[float] = None, timeout_s: float = JOB_TIMEOUT_S) -> Optional[dict]:
        """Next job for a master: pending jobs by (priority, submit time);
        else the oldest running job silent > timeout (O1 recovery scan —
        recovery ignores priority, matching library.go:23-28's pure
        ORDER BY time_assigned)."""
        now = time.time() if now is None else now

        def fn(df):
            cand = df[df["state"] == "pending"].sort_values(["priority", "assigned_at"])
            if cand.empty:
                cand = df[
                    (df["state"] == "running") & (now - df["assigned_at"] > timeout_s)
                ].sort_values("assigned_at")
            if cand.empty:
                return None, None
            u = df.loc[[cand.index[0]]].copy()
            u["state"], u["owner"], u["assigned_at"] = "running", owner, now
            return Delta(ups=u), u.iloc[0].to_dict()

        return self._t.mutate(fn)

    def progress(self, job_id: str, last_round: int, now: Optional[float] = None) -> None:
        now = time.time() if now is None else now

        def fn(df):
            m = df["job_id"] == job_id
            if not m.any():
                return None, None
            u = df.loc[m].copy()
            u["last_round"], u["assigned_at"] = last_round, now
            return Delta(ups=u), None

        self._t.mutate(fn)

    def complete(self, job_id: str) -> None:
        def fn(df):
            m = df["job_id"] == job_id
            if not m.any():
                return None, None
            u = df.loc[m].copy()
            u["state"] = "done"
            return Delta(ups=u), None

        self._t.mutate(fn)

    def reopen(self, job_id: str, owner: str, now: Optional[float] = None) -> bool:
        """CAS a COMPLETED job back to running for a targeted recrawl —
        returns False unless the job is currently done, so two masters
        cannot recrawl one job concurrently (the same exclusion acquire
        gives fresh jobs). A recrawl that dies mid-drain leaves the job
        running with a stale assigned_at: the W2 timeout reassignment
        path hands it to another master, whose resume drains the already-
        committed reseeded frontier to completion."""
        now = time.time() if now is None else now

        def fn(df):
            m = (df["job_id"] == job_id) & (df["state"] == "done")
            if not m.any():
                return None, False
            u = df.loc[m].copy()
            u["state"], u["owner"], u["assigned_at"] = "running", owner, now
            return Delta(ups=u), True

        return self._t.mutate(fn)

    def get(self, job_id: str) -> Optional[dict]:
        df = self._t.read()
        m = df[df["job_id"] == job_id]
        return None if m.empty else m.iloc[0].to_dict()

    def to_spark(self, spark):
        pdf = self._t.read()
        return spark.createDataFrame(
            pdf,
            "job_id string, client_id string, seed_url string, depth long, priority long, "
            "state string, owner string, assigned_at double, last_round long",
        )


_CACHE_COLS = {
    "seed_url": "object",
    "depth": "int64",
    "results": "object",  # list<list<str>> — the DoneJob [][]string payload
    "expires_at": "float64",
    "hits": "int64",  # LFU counter (redis.conf allkeys-lfu analog)
}

CACHE_MAX_ENTRIES = 10_000  # redis.conf:7,13 caps memory at 500 MB allkeys-lfu


class JobCache:
    def __init__(self, warehouse: str, ttl_s: float = CACHE_TTL_S, max_entries: int = CACHE_MAX_ENTRIES):
        self._t = _PandasTable(warehouse, "job_cache", _CACHE_COLS)
        self.ttl_s = ttl_s
        self.max_entries = max_entries

    def _evict(self, df: pd.DataFrame, keep_url: str, now: float) -> pd.DataFrame:
        """Size bound: expired rows go first (free), then lowest (hits,
        expires_at) — LFU with LRU-ish tiebreak, like allkeys-lfu. The row
        just written is exempt (Redis seeds new keys with a nonzero LFU
        counter for the same reason)."""
        if self.max_entries is None or len(df) <= self.max_entries:
            return df
        df = df[(df["expires_at"] > now) | (df["seed_url"] == keep_url)]
        overflow = len(df) - self.max_entries
        if overflow <= 0:
            return df
        victims = (
            df[df["seed_url"] != keep_url]
            .sort_values(["hits", "expires_at"])
            .head(overflow)
            .index
        )
        return df.drop(victims)

    def put_if_deeper(self, seed_url: str, depth: int, results: List[List[str]], now: Optional[float] = None) -> bool:
        """AddIfNoLargerResultPresent (cache.go:78-103): keep the deepest
        result per seed URL. Expired rows are treated as absent — in the
        reference, Redis has already evicted the key (cache.go:78-86), so a
        repeat job after TTL expiry must always be able to re-cache."""
        now = time.time() if now is None else now
        row = {"seed_url": seed_url, "depth": depth, "results": results, "expires_at": now + self.ttl_s, "hits": 0}

        def fn(df):
            m = (df["seed_url"] == seed_url) & (df["expires_at"] > now)
            if m.any() and int(df.loc[m, "depth"].iloc[0]) >= depth:
                return None, False
            # stale/shallower rows of this seed are subsumed by the upsert;
            # eviction victims (expired purge + LFU overflow) become keyed
            # deletes — the delta is O(1 + victims), not O(table).
            # _evict must see EXACTLY the frame the commit will produce:
            # fold_delta updates existing keys in place, so a concat-built
            # frame (upsert appended last) can order (hits, expires_at)
            # ties differently and pick different LFU victims.
            ups = pd.DataFrame([row])
            folded = fold_delta(df, ups, [], "seed_url")
            kept = set(self._evict(folded, seed_url, now)["seed_url"])
            dels = sorted(
                k for k in df["seed_url"] if k != seed_url and k not in kept
            )
            return Delta(ups=ups, dels=dels), True

        return self._t.mutate(fn)

    def invalidate(self, seed_url: str) -> bool:
        """Drop a seed's cache row — the recrawl path's forced refresh.
        The reference can only wait for Redis TTL expiry to evict a stale
        entry (cache.go:55-72); a targeted recrawl must evict NOW so the
        re-drained payload re-caches. Keyed delete, O(1) delta."""

        def fn(df):
            if not (df["seed_url"] == seed_url).any():
                return None, False
            return Delta(dels=[seed_url]), True

        return self._t.mutate(fn)

    def get(self, seed_url: str, requested_depth: int, now: Optional[float] = None) -> Optional[List[List[str]]]:
        """F5 + O2 + W4: serve iff cached depth >= requested and unexpired;
        truncate to requested depth; refresh TTL + bump LFU counter on hit."""
        now = time.time() if now is None else now

        def fn(df):
            m = df[(df["seed_url"] == seed_url) & (df["expires_at"] > now)]
            if m.empty or int(m["depth"].iloc[0]) < requested_depth:
                return None, None
            u = m.iloc[[0]].copy()
            u["expires_at"] = now + self.ttl_s  # refresh-on-read
            u["hits"] = u["hits"] + 1
            results = m["results"].iloc[0]
            return Delta(ups=u), [list(level) for level in results[:requested_depth]]

        return self._t.mutate(fn)

    def __len__(self) -> int:
        return len(self._t.read())


@dataclass
class CrawlService:
    """End-to-end job flow: submit → cache probe → engine (resume-aware) →
    cache upsert → complete. The Spark analog of SURVEY.md §3.1 stages."""

    engine: "object"  # plans.frontier.FrontierEngine
    ledger: JobLedger
    cache: JobCache
    outbox: Optional[str] = None  # egress dir: finished DoneJobs land here (S5→S6)

    def submit(self, job_id: str, client_id: str, seed_url: str, depth: int, now=None) -> bool:
        return self.ledger.submit(job_id, client_id, seed_url, depth, now=now)

    def _publish(self, job_id: str, results: List[List[str]]) -> None:
        if self.outbox is not None:
            from ..streaming.egress import publish_done

            job = self.ledger.get(job_id)
            publish_done(self.outbox, job_id, (job or {}).get("client_id", ""), results)

    def run_next(self, owner: str = "m1", now=None, max_rounds=None) -> Optional[dict]:
        job = self.ledger.acquire(owner, now=now)
        if job is None:
            return None
        job_id, seed_url, depth = job["job_id"], job["seed_url"], int(job["depth"])
        cached = self.cache.get(seed_url, depth, now=now)
        if cached is not None:
            self.ledger.complete(job_id)
            self._publish(job_id, cached)
            return {"job_id": job_id, "done": True, "from_cache": True, "results": cached}
        summary = self.engine.run_job(job_id, seed_url, depth, max_rounds=max_rounds)
        self.ledger.progress(job_id, summary["last_round"], now=now)
        if not summary["done"]:
            return {**summary, "from_cache": False}
        payload = self.engine.client_payload(job_id, depth)
        self.cache.put_if_deeper(seed_url, depth, payload, now=now)
        self.ledger.complete(job_id)
        self._publish(job_id, payload)
        return {**summary, "from_cache": False, "results": payload}

    def recrawl(self, job_id: str, urls, owner: str = "m1", now=None) -> dict:
        """Re-crawl specific URLs of a COMPLETED job: tombstone them out of
        the seen set and reseed them (engine.unsee_urls), drain the reseeded
        frontier through the normal resume path, then force-refresh the
        cache and re-publish. This is the surgical version of the
        reference's only refresh mechanism — waiting for the Redis TTL to
        expire the whole seed's entry (RedisCache/cache.go:55-72) and
        re-crawling everything. Ownership: the CAS reopen excludes
        concurrent recrawls of one job across masters; a mid-drain death
        leaves the job running for the W2 timeout-reassignment resume."""
        if not self.ledger.reopen(job_id, owner, now=now):
            raise ValueError(
                f"recrawl: job {job_id!r} is not a completed job (or another "
                "master is already recrawling it)"
            )
        job = self.ledger.get(job_id)
        seed_url, depth = job["seed_url"], int(job["depth"])
        un = self.engine.unsee_urls(job_id, urls, reseed=True)
        summary = self.engine.run_job(job_id, seed_url, depth)
        payload = self.engine.client_payload(job_id, depth)
        self.cache.invalidate(seed_url)
        self.cache.put_if_deeper(seed_url, depth, payload, now=now)
        self.ledger.complete(job_id)
        self._publish(job_id, payload)
        return {**summary, **un, "results": payload}
