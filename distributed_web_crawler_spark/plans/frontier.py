"""FrontierEngine — the BFS round loop (SURVEY.md §3.1 "Spark lifecycle").

This is the Spark-first re-expression of the reference master's drain loop
(Server/Cluster/Master/master.go:270-299, 620-686): the per-depth task maps
become a frontier table, the worker RPC fan-out becomes one vectorized
Python pass per sub-round that fetches, verifies and extracts each page,
the mutex-guarded visited maps become a partitioned Bloom-filtered seen
table probed inside the write, and the depth barrier becomes the natural
action barrier between rounds. One atomic commit per sub-round
(catalog/tables.py) is the resume anchor — strictly better than the
reference's from-scratch job reassignment (lockServer.go:174-197;
master.go:449), with identical final state because rounds are
deterministic.

Scale shape per round (what survives 1000 executors × 100 TB):

* fetch: by key. The page pass looks each admitted page up by its id in
  its corpus bucket's fetch index and point-reads the payload from the
  bucket's shard (sources/fetch.py) — no corpus scan, no join, and no job
  runs before the page pass to find the pages.
* one Python pass per page (sources/fetch.py): every round, one
  mapInPandas task, in the stage that scans the admitted frontier (no
  exchange in front of it), reads each payload, verifies it and expands its
  links. Its link rows and per-batch verify partials (seen_bucket -1) flow
  into the fused write, whose stats carry the partials' fold; at the last
  depth the pass runs without links and its partials are collected.
* dedup: no stage of its own. The raw candidate stream goes straight to
  the bucketed write (ONE exchange, by seen-bucket); each write task dedups
  its group with numpy, probes the bucket's Bloom blob (no broadcast of
  blobs) and exact-checks only the positives against that bucket's seen
  hashes, so false positives are rescued and URLs are never lost. Per-round
  seen deltas are merged by compact_seen every cfg.compact_seen_every
  rounds, so both the re-check and result reads list O(1) roots regardless
  of crawl age.
* politeness window: sub-round 0 of a depth ranks its pending rows once
  (one shuffle by host and url_hash range; budgets data-determined, so
  local[8] and local[32] produce identical admissions) and writes the
  whole schedule once, sliced by due sub-round; every sub-round, 0
  included, then drains a written slice.
* writes: the round's new URLs are written ONCE, bucket-partitioned, in a
  single fused pass that also updates the Bloom blobs and returns per-bucket
  row counts; the pending frontier is a manifest of such file-sets in the
  commit, so depths a round does not drain carry over by reference and are
  never rewritten (Iceberg-snapshot-style data-file sharing).
* every count the driver needs comes back from manifest arithmetic or the
  write task's own stats (run_job's n_seen is summed from the commits);
  nothing is re-scanned to be counted.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog.tables import JobStateStore
from ..fixtures import corpus as C
from ..functions import bloom as B
from ..functions import urls as U
from ..sources.fetch import PARTIALS, PARTIALS_SCHEMA, fetch_and_verify, fold_partials
from ..operators.politeness import schedule
from ..operators.robots import blocked_expr
from ..oracle.crawler import PolitenessPolicy, RobotsPolicy
from ..session import sized_tasks

FRONTIER_SCHEMA = "url string, host string, url_hash bigint, seen_bucket int, depth int"
# the per-round metrics table, one column per RoundStats field of that name
METRICS_SCHEMA = (
    "round int, depth int, sub_round int, n_admitted bigint, n_candidates bigint, "
    "n_new bigint, n_blocked bigint, n_pending_after bigint, wall_ms bigint, "
    "n_probe_pos bigint, n_probe_fp bigint, n_recheck_rows bigint"
)

# only perfbench's tracer patches this; ROADMAP item 1's benchmark change deletes it
def _pool_submit(spark: SparkSession, fn, *args, group: str | None = None):
    return fn(*args)


@dataclass
class EngineConfig:
    politeness: Optional[PolitenessPolicy] = None
    robots: Optional[RobotsPolicy] = None
    # 64 buckets at sandbox scale (≈1 file per bucket per round, and the
    # bucket-keyed fused write must expose at least 2× the core count in
    # groups or it serializes the write stage); a 10^10 deployment raises
    # this into the thousands — every path is O(buckets)
    seen_buckets: int = 64
    # hard bound on one fused-write pandas group: when a round's estimated
    # per-bucket row share exceeds this, _write_bucketed adds a
    # url_hash-derived chunk to the group key (extra parquet parts + one
    # Bloom blob per chunk, OR-merged on read) instead of handing one task
    # an unbounded in-memory frame — the guard holds even when an operator
    # leaves seen_buckets at a value too small for their crawl
    max_group_rows: int = 2_000_000
    # merge per-round seen deltas into one bucketed table whenever the
    # component count exceeds this (0/None disables). Keeps the per-round
    # seen file listing O(1) in crawl age — without it a thousand-round
    # crawl scans a thousand delta roots per re-check/result read.
    compact_seen_every: Optional[int] = 16
    # merge a depth's pending-frontier manifest entries whenever one
    # (depth, due=0) group exceeds this (0/None disables): a politeness-
    # throttled depth appends one new/ entry PER SUB-ROUND, so a
    # 10^4-sub-round drain would grow commit.json and the next depth's
    # sub-round-0 union linearly with rounds. The merge takes the K
    # SMALLEST entries (LSM discipline — freshly-appended per-sub-round
    # sets merge once; a merged generation is only re-picked when it is
    # again among the smallest), bounding the group at K+1 entries with
    # O(rows · log) total rewrite amplification.
    frontier_compact_every: Optional[int] = 64
    # optional SQL expression (over the pending frontier's url / host /
    # url_hash / depth columns) of a COARSE priority grade for the
    # politeness schedule: per-host admission order becomes (grade DESC,
    # url_hash, url) — operators/politeness.py schedule(grade=...). This
    # is how a hits/pagerank signal drives the drain (grade the frontier
    # by authority octile); keep it ≤ ~100 distinct values (the schedule's
    # offset table is hosts × grades × chunks rows, broadcast). Ignored
    # without politeness.
    politeness_grade: Optional[str] = None
    bloom: B.BloomParams = field(default_factory=B.BloomParams)
    # accepted for perfbench; delete at the next benchmark change. Bloom is
    # the only seen path and every round fetches and verifies its pages
    # (per-row PSNR/phash/caption invariants, committed in its commit.json),
    # so False raises for the first two; the other two are ignored
    use_bloom: bool = True
    verify_payloads: bool = True
    detailed_metrics: bool = True
    pipeline_verify: bool = False

    def __post_init__(self):
        if not self.use_bloom:
            raise ValueError("use_bloom=False: the Bloom seen path is the only one")
        if not self.verify_payloads:
            raise ValueError("verify_payloads=False: every round fetches and verifies its pages")


@dataclass
class RoundStats:
    round: int
    depth: int
    sub_round: int
    n_admitted: int
    n_candidates: int
    n_new: int
    n_blocked: int
    n_pending_after: int
    wall_ms: int
    # Bloom positives among the distinct candidates, how many of them the
    # exact re-check found unseen (filter false positives plus stale bits
    # of unseen URLs), and the seen hashes that re-check loaded
    n_probe_pos: int = 0
    n_probe_fp: int = 0
    n_recheck_rows: int = 0


def _seen_inserts(r: int, info: dict) -> int:
    """Rows round r's commit added to the seen set: the seed batch at round
    0 (the seed write is both frontier and seen delta), afterwards the
    round's crawl discoveries plus unsee reseeds."""
    if r == 0:
        return info["n_pending_after"]
    return info.get("n_new", 0) + info.get("reseed", 0)


def _slice_totals(stats: List[tuple]) -> dict:
    """A sliced write's (slice, bucket, n) stats folded per slice:
    {slice: rows}."""
    out: dict = {}
    for sl, _b, n in stats:
        out[sl] = out.get(sl, 0) + n
    return out


def _history(store: JobStateStore, lo: int, hi: int, what: str):
    """Yield (round, kind, path) for the seen-set file-sets of the
    committed rounds in (lo, hi], in round order: kind "insert" is a
    round's new/ delta, "delete" its tombstones. Raises when a needed set
    was compacted and vacuumed: `what` (the read) has expired."""
    for r in store.committed_rounds():
        if r > hi:
            break
        if r <= lo:
            continue
        info = store.read_commit(r)
        for kind, n, p in (
            ("insert", _seen_inserts(r, info), store.seen_delta_path(r)),
            ("delete", info.get("tombstone", 0), store.tombstones_path(r)),
        ):
            if n > 0:
                if not os.path.isdir(p):
                    raise ValueError(
                        f"{what} has expired: round {r}'s {kind} files were "
                        "compacted and vacuumed"
                    )
                yield r, kind, p


def _n_seen(store: JobStateStore) -> int:
    """The live seen-set size, summed from the commits like every other
    count: each round's inserts minus its tombstones."""
    n = 0
    for r in store.committed_rounds():
        c = store.read_commit(r)
        n += _seen_inserts(r, c) - c.get("tombstone", 0)
    return n


@dataclass
class _Round:
    """Working state of one round, filled in phase by phase by
    FrontierEngine._run_round's helpers."""

    store: JobStateStore
    r: int
    depth_limit: int
    phases: dict = field(default_factory=dict)
    t: float = field(default_factory=time.monotonic)
    # cursor: the previous commit's manifest, the depth and sub-round drained
    manifest: List[list] = field(default_factory=list)
    d: int = 0
    sub: int = 0
    # admission: the manifest entries drained, the admitted rows with
    # their fetch key, and (sub-round 0 under politeness) the manifest
    # entries of the later sub-rounds' slices
    consumed: List[list] = field(default_factory=list)
    admitted: Optional[DataFrame] = None
    n_admitted: int = 0
    scheduled: List[list] = field(default_factory=list)
    # the payload stats the page pass's partials folded to (None until a
    # pass verified)
    payload: Optional[dict] = None
    n_candidates: int = 0
    n_new: int = 0
    n_blocked: int = 0
    n_probe_pos: int = 0
    n_probe_fp: int = 0
    n_recheck_rows: int = 0
    touched: List[int] = field(default_factory=list)  # Bloom buckets written

    def mark(self, key: str) -> None:
        now = time.monotonic()
        self.phases[key] = round((now - self.t) * 1000)
        self.t = now


class FrontierEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        corpus_path: str,
        spec: C.CorpusSpec,
        cfg: EngineConfig | None = None,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.corpus_path = corpus_path
        self.spec = spec
        self.cfg = cfg or EngineConfig()

    # ------------------------------------------------------------ helpers
    # catalog seam (catalog/backend.py CatalogBackend): every store the
    # engine touches comes from this factory, so a cluster deployment
    # swaps the parquet+CAS stand-in for another CatalogBackend by
    # reassigning ONE attribute — the whole suite runs against whatever
    # backend this names. Signature: (warehouse, job_id) -> CatalogBackend.
    store_backend = JobStateStore

    def store(self, job_id: str) -> JobStateStore:
        return self.store_backend(self.warehouse, job_id)

    def _filter_meta(self) -> dict:
        """The blob-layout identity of this engine's seen-filter config,
        persisted in the seed commit and carried forward by commit_round.
        A job's blob files are only interpretable under the config that
        wrote them: bloom bits read under different size params, or the
        parquet layout read under a different seen_buckets, yield garbage
        probe verdicts whose FALSE side is trusted as definitely-new,
        i.e. silent duplicate crawling."""
        return {
            "seen_buckets": self.cfg.seen_buckets,
            "n_bits": self.cfg.bloom.n_bits,
            "n_hashes": self.cfg.bloom.n_hashes,
        }

    def _check_filter_meta(self, info: dict) -> None:
        """Raise on resuming/mutating a job store under a seen-filter
        config other than the one that wrote it (ADVICE r7: a silent
        filter swap reinterprets the blob bytes; false positives are
        rescued by the exact re-check but false negatives duplicate
        crawls with no error)."""
        stored, current = info["seen_filter"], self._filter_meta()
        if stored != current:
            raise ValueError(
                f"seen-filter config mismatch: job store was written under "
                f"{stored}, engine configured with {current}; resume with "
                "the original EngineConfig (filter params, seen_buckets) "
                "or start a fresh job"
            )

    def _last_checked(self, store: JobStateStore) -> Optional[int]:
        """The store's last committed round (None for a new job), its
        commit read and checked before the caller touches any file:
        read_commit refuses another store format, _check_filter_meta
        another seen-filter config."""
        last = store.last_committed()
        if last is not None:
            self._check_filter_meta(store.read_commit(last))
        return last

    def _grade_col(self):
        """cfg.politeness_grade as a Column (None when unset) — resolved
        lazily so the expression string is parsed against each round's
        pending frame."""
        return F.expr(self.cfg.politeness_grade) if self.cfg.politeness_grade else None

    def _with_keys(self, df: DataFrame) -> DataFrame:
        url = U.canonicalize(F.col("url"))
        bucket = U.seen_bucket(F.col("url_hash"), self.cfg.seen_buckets)
        if "seen_bucket" in df.columns:
            # the page pass's verify-partials rows arrive with their bucket
            bucket = F.coalesce(F.col("seen_bucket"), bucket)
        return (
            df.withColumn("url", url)
            .withColumn("url_hash", U.url_hash(F.col("url")))
            .withColumn("seen_bucket", bucket)
        )

    def _seen_df(self, store: JobStateStore, buckets: Optional[List[int]] = None) -> Optional[DataFrame]:
        """Merge-on-read view of the seen table: the union of live
        components MINUS tombstone suppression (unsee_urls' equality-delete
        files — the Iceberg v2 merge-on-read rule). A tombstone from round
        t suppresses matching rows from components whose effective round is
        < t only, so a re-add AFTER the unsee (reseed, or natural
        re-discovery) survives. compact_seen materializes this exact view,
        after which the delete files are dead (vacuum sweeps them)."""
        return self._seen_view(
            store.seen_components(), store.tombstone_components(), buckets
        )

    def _seen_view(
        self,
        comps: List[tuple],
        tombs: List[tuple],
        buckets: Optional[List[int]] = None,
    ) -> Optional[DataFrame]:
        """Merge-on-read builder shared by the live view (_seen_df) and
        time travel (seen_df_at): union the given (round, path) components,
        suppress with the given (round, path) tombstones under the strict
        t > c rule."""
        if not comps:
            return None
        # each delta is its own partitioned root (union, not multi-path read);
        # the bucket filter pushes through the union into every scan as a
        # PartitionFilter
        from functools import reduce

        # seen_round = the row's DISCOVERY round, retained through
        # compaction (delta files imply it from their component round; the
        # compacted table persists the column — compact_seen writes this
        # exact view). It powers aged/TTL recrawl:
        # unsee_matching("seen_round <= k") re-crawls everything discovered
        # up to round k (round→time via commit-file mtimes).
        schema = "url_hash long, url string, depth int, seen_bucket int, seen_round int"

        def read(p: str, c: int, cols: Optional[List[str]] = None) -> DataFrame:
            df = self.spark.read.schema(schema).parquet(p).withColumn(
                "seen_round", F.coalesce(F.col("seen_round"), F.lit(c)).cast("int")
            )
            if buckets is not None:
                df = df.filter(F.col("seen_bucket").isin(buckets))
            return df.select(*cols) if cols else df

        parts = []
        for c, p in comps:
            df = read(p, c)
            kill_paths = [tp for t, tp in tombs if t > c]
            if kill_paths:
                kill = reduce(
                    DataFrame.unionByName,
                    [read(tp, c, ["url_hash"]) for tp in kill_paths],
                )
                # unsee batches are recrawl lists — orders of magnitude below
                # the seen table; the anti-join must never shuffle the seen
                # side (at 10^10 rows that is the whole table)
                df = df.join(F.broadcast(kill), "url_hash", "left_anti")
            parts.append(df)
        return reduce(DataFrame.unionByName, parts)

    def _read_components(self, paths: List[str]) -> DataFrame:
        """Read frontier file-sets (bucket-partitioned parquet) as one DF.
        Per-path read + union so the explicit schema (and any later bucket
        filter) pushes into every root as a PartitionFilter."""
        from functools import reduce

        return reduce(
            DataFrame.unionByName,
            [self.spark.read.schema(FRONTIER_SCHEMA).parquet(p) for p in paths],
        )

    # ------------------------------------------------------------ seed
    def _seed_round(self, store: JobStateStore, seed_url, depth_limit: int) -> None:
        """seed_url: one URL or a list — the 10^10-frontier drain scenario
        seeds whole batches, the reference's single-seed job is the
        singleton case."""
        import pandas as pd

        seeds = [seed_url] if isinstance(seed_url, str) else list(seed_url)
        # Arrow path (a plain tuple list would serialize row-by-row via py4j)
        df = self.spark.createDataFrame(pd.DataFrame({"url": seeds}))
        # dedup AFTER canonicalization: spellings of one URL share a hash
        df = self._with_keys(df).dropDuplicates(["url_hash"]).withColumn("host", U.host_of(F.col("url")))
        if self.cfg.robots is not None:
            df = df.filter(~blocked_expr(F.col("url")))
        df = df.withColumn("depth", F.lit(0)).select("url", "host", "url_hash", "seen_bucket", "depth")
        # len(seeds) bounds the write for free: a 10^10-scenario whole-
        # frontier seed batch must hit the same max_group_rows chunk guard
        # as round writes
        stats, _ = self._write_bucketed(
            store, store.new_path(0), df, bloom_round=0, approx_rows=len(seeds)
        )
        n = sum(s[1] for s in stats)
        manifest = [[self._rel(store, store.new_path(0)), 0, n, 0]] if n > 0 else []
        store.commit_round(
            0,
            {
                "depth": 0,
                "sub_round": -1,
                "depth_limit": depth_limit,
                "n_pending_after": n,
                "frontier_manifest": manifest,
                "done": n == 0,
                "seen_filter": self._filter_meta(),
            },
            touched_blooms=[s[0] for s in stats],
        )

    @staticmethod
    def _rel(store: JobStateStore, path: str) -> str:
        return os.path.relpath(path, store.dir)

    # ------------------------------------------------------------ seen probe
    def _filter_new(self, rnd: _Round, new_rows: DataFrame) -> None:
        """The round's one new-URL step: the fused write (_write_bucketed
        with probe=True) takes the raw candidates, drops the robots-blocked
        rows, dedups (U3), Bloom-probes and exact-checks them (U2/J1), and
        writes the rest as next frontier, seen delta and bucket blobs. Its
        counts, and the fold of the page pass's verify partials, come back
        with the write's stats and are folded into `rnd`."""
        # upper bound on the write's input row count (raw candidates
        # <= admitted × max out-degree): over-estimating only shrinks
        # the chunked groups, never breaks the memory guard
        stats, task = self._write_bucketed(
            rnd.store, rnd.store.new_path(rnd.r), new_rows, bloom_round=rnd.r,
            approx_rows=rnd.n_admitted * C.MAX_OUT_DEGREE, probe=True,
        )
        rnd.touched = sorted({s[0] for s in stats})
        rnd.n_new = sum(s[1] for s in stats)
        rnd.n_candidates, rnd.n_blocked = task["n_candidates"], task["n_blocked"]
        rnd.n_probe_pos, rnd.n_probe_fp = task["n_probe_pos"], task["n_probe_fp"]
        rnd.n_recheck_rows = task["n_recheck_rows"]
        rnd.payload = task["payload"]
        # worker-side breakdown of THIS write job (summed across its
        # tasks): lets the bench attribute extract_write_ms to the
        # probe / Arrow conversion / parquet encode / bloom fold vs
        # extraction + shuffle + scheduling
        for k in ("probe_ms", "conv_ms", "pq_ms", "bloom_ms", "n_tasks"):
            rnd.phases[f"write_{k}"] = task[k]

    def _write_bucketed(
        self, store: JobStateStore, out_dir: str, rows: DataFrame, bloom_round: Optional[int] = None,
        slice_col: Optional[str] = None, approx_rows: Optional[int] = None, probe: bool = False,
    ) -> tuple:
        """ONE shuffle, one pass: group rows by seen_bucket; each task writes
        its bucket's parquet part (hive layout, `seen_bucket=<b>/`) AND — for
        new-URL sets — folds the bucket's hashes into the Bloom blob, then
        returns (bucket, n). Fusing the writes replaces the three separate
        jobs of the v1 loop (stage `_new` parquet → read back → rewrite as
        seen delta + bloom pass + full next-frontier rewrite) that made
        the round's writes the only phase DEGRADING from 8→32 cores.
        Worker-side pyarrow writes are the low-level-writer pattern (what an
        Iceberg writer task does); atomicity still comes from commit.json,
        and abort_round() sweeps orphans. Row counts come back with the
        stats — no read-back count job.

        `probe=True` (the round's new-URL write, _filter_new) takes the raw
        keyed candidate stream WITH duplicates and seen URLs, and each
        group task runs the whole seen chain before writing:
        0. under robots, sum the `_blocked` flag BEFORE the dedup (every
           discovery occurrence counts, as in oracle/crawler.py) and drop
           those rows;
        1. within-group dedup (np.unique on url_hash — every copy of a URL
           has the same hash, hence the same (bucket, chunk) group);
        2. Bloom probe against the bucket's previous blob — negatives are
           definitely new;
        3. exact re-check of the positives against the bucket's committed
           seen hashes (tombstones applied under the t > c rule of
           _seen_view), so a false positive or an unseen URL's stale bits
           never lose a URL;
        4. the parquet part, only if fresh rows are left;
        5. the blob fold into the filter step 2 already loaded.
        The round's new-URL path thus has ONE exchange (extract → this
        groupBy). One positive makes the re-check load the bucket's WHOLE
        live seen set, and links to seen pages make nearly every group
        positive, so its IO grows with crawl age (n_recheck_rows counts
        it). A group whose rows were all seen or blocked writes no part
        and no blob, and its bucket is left out of the returned stats — a
        commit must never point a bucket's bloom manifest at a round
        without its blob. The page pass's verify-partials rows (seen_bucket
        -1) form a group that only sums them onto its stats row; those
        rows are folded into `task["payload"]`.

        With `slice_col` (the politeness schedule's `due` sub-round), rows
        are grouped by (slice, seen_bucket) and land under
        ``out_dir/<slice_col>=<v>/seen_bucket=<b>/`` so each slice is an
        independently-readable file-set root; stats become
        (slice, bucket, n). Without it, stats are (bucket, n).

        Memory guard (`approx_rows`): each pandas group is one bucket's
        whole round in one task's memory. Call sites pass the row count
        (or a cheap upper bound — over-estimating only makes groups
        smaller); when the per-bucket share exceeds
        ``cfg.max_group_rows`` the group key gains a url_hash-derived
        chunk, bounding every group at ~max_group_rows regardless of what
        an operator set ``seen_buckets`` to. Chunked buckets write
        ``part-<bucket>-<chunk>.parquet`` side by side (same readable
        layout) and one Bloom blob per chunk — each chunk's blob = previous
        filter | that chunk's bits, so the reader's OR over the files
        (bloom.load_blobs) reproduces the unchunked blob exactly and no
        two tasks ever write one file.

        A known `approx_rows` also sets the write's width: the input is
        hash-repartitioned by the group keys into sized_tasks(approx_rows)
        partitions. The groupBy reuses that exchange (one shuffle), and an
        explicit partition count is exempt from AQE coalescing, which sized
        a bulk round's write by its bytes (1.2 MB) and ran all 64 bucket
        groups in one task (traced bulk_drain: 718 ms, task skew 6.6).

        Returns ``(stats, task)``: the per-bucket stat tuples plus the
        summed worker-side numbers of THIS write job — phase timers
        (conv/pq/probe/bloom_ms), its group count (n_tasks) and, with
        `probe`, the seen-chain counters (n_blocked, n_candidates,
        n_probe_pos, n_probe_fp, n_recheck_rows) and the verify `payload`
        (fetch.fold_partials)."""
        update_blooms = bloom_round is not None
        blobs = store.bloom_blobs() if update_blooms else None
        params = self.cfg.bloom
        r = bloom_round
        # exact re-check inputs: committed seen components and tombstones,
        # (round, absolute root) — read executor-side, bucket by bucket
        seen_roots = [(c, os.path.abspath(p)) for c, p in store.seen_components()] if probe else []
        tomb_roots = [(t, os.path.abspath(p)) for t, p in store.tombstone_components()] if probe else []
        chunks = 1
        if approx_rows:
            per_bucket = approx_rows / max(1, self.cfg.seen_buckets)
            chunks = min(256, max(1, -(-int(per_bucket) // self.cfg.max_group_rows)))
        keys = ([slice_col] if slice_col else []) + ["seen_bucket"]
        if chunks > 1:
            # high url_hash bits: independent of seen_bucket (low-bit pmod)
            rows = rows.withColumn(
                "_wchunk",
                F.pmod(F.shiftrightunsigned(F.col("url_hash"), 20), F.lit(chunks)).cast("int"),
            )
            keys = keys + ["_wchunk"]
        if approx_rows:
            rows = rows.repartition(sized_tasks(self.spark, approx_rows), *keys)

        def bucket_seen(bucket: int):
            """The bucket's live seen hashes: every component's url_hash
            column minus the hashes of tombstones from strictly later
            rounds."""
            import glob

            import numpy as np
            import pyarrow.parquet as pq

            def load(root: str):
                files = sorted(glob.glob(os.path.join(root, f"seen_bucket={bucket}", "*.parquet")))
                cols = [pq.read_table(f, columns=["url_hash"])["url_hash"].to_numpy() for f in files]
                return np.concatenate(cols) if cols else np.empty(0, dtype=np.int64)

            tombs = [(t, load(root)) for t, root in tomb_roots]
            parts = []
            for c, root in seen_roots:
                a = load(root)
                kills = [ta for t, ta in tombs if t > c and len(ta)]
                if len(a) and kills:
                    a = a[~np.isin(a, np.concatenate(kills))]
                parts.append(a)
            return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)

        def build(key, pdf):
            import time as _time
            import uuid

            import numpy as np
            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            t_entry = _time.monotonic()
            chunk = int(key[-1]) if chunks > 1 else 0
            if slice_col:
                sl, bucket = int(key[0]), int(key[1])
                part_dir = os.path.join(out_dir, f"{slice_col}={sl}", f"seen_bucket={bucket}")
            else:
                sl, bucket = -1, int(key[0])
                part_dir = os.path.join(out_dir, f"seen_bucket={bucket}")
            if bucket < 0:  # the page pass's verify partials
                return pd.DataFrame(
                    {"slice": [sl], "bucket": [bucket], "n_rows": [0]}
                    | {k: [0] for k in summed} | {k: [v] for k, v in fold_partials(pdf).items()}
                )
            filt = None
            n_blk = n_cand = n_pos = n_fp = n_re = 0
            if probe:
                if "_blocked" in pdf.columns:
                    blocked = pdf["_blocked"].to_numpy(dtype=bool)
                    n_blk = int(blocked.sum())
                    pdf = pdf[~blocked]
                # sorted-unique order also makes the part's row order
                # independent of the shuffle's arrival order
                _, first = np.unique(pdf["url_hash"].to_numpy(), return_index=True)
                pdf = pdf.take(first)
                hashes = pdf["url_hash"].to_numpy()
                n_cand = len(hashes)
                filt = B.load_blobs(blobs.get(bucket), params)
                maybe = B.contains(filt, hashes, params)
                n_pos = int(maybe.sum())
                if n_pos:
                    seen = bucket_seen(bucket)
                    n_re = len(seen)
                    fresh = ~maybe
                    fresh[maybe] = ~np.isin(hashes[maybe], seen)
                    n_fp = int(fresh[maybe].sum())
                    pdf = pdf[fresh]
            t_probe = _time.monotonic()
            n = len(pdf)
            t_conv = t_pq = t_probe
            if n:
                table = pa.table(
                    {
                        "url": pa.array(pdf["url"], pa.string()),
                        "host": pa.array(pdf["host"], pa.string()),
                        "url_hash": pa.array(pdf["url_hash"], pa.int64()),
                        "depth": pa.array(pdf["depth"], pa.int32()),
                    }
                )
                t_conv = _time.monotonic()
                # deterministic FINAL name + atomic replace: a retried/speculative
                # task attempt overwrites the same file (same row set) instead of
                # appending a duplicate part — groupBy gives one call per bucket.
                # The TMP name is unique PER ATTEMPT: two live attempts of the
                # same group (speculation, or a zombie master racing the
                # timeout-steal winner) must not interleave writes into one tmp
                # file and os.replace a torn part into the committed layout.
                # Dot-prefix keeps staging invisible to Spark listings.
                os.makedirs(part_dir, exist_ok=True)
                stem = f"part-{bucket:05d}" if chunk == 0 else f"part-{bucket:05d}-{chunk:03d}"
                path = os.path.join(part_dir, f"{stem}.parquet")
                tmp = os.path.join(part_dir, f".{stem}.{uuid.uuid4().hex[:12]}.tmp")
                pq.write_table(table, tmp)
                os.replace(tmp, path)
                t_pq = _time.monotonic()
                if update_blooms:
                    if filt is None:
                        filt = B.load_blobs(blobs.get(bucket), params)
                    B.add_hashes(filt, pdf["url_hash"].to_numpy(), params)
                    B.write_blob(store.bloom_blob_path(r, bucket, chunk), filt)
            t_bloom = _time.monotonic()
            # per-task numbers ride back on the stats row (no extra job):
            # probe = dedup + Bloom probe + exact re-check, conv =
            # pandas→Arrow, pq = parquet write, bloom = blob
            # fold+write. Worker-visible time only — shuffle/Arrow-IPC
            # transfer cost is the gap between the job's wall and
            # max-per-slot sums of these.
            return pd.DataFrame({
                "slice": [sl], "bucket": [bucket], "n_rows": [n],
                "probe_ms": [int((t_probe - t_entry) * 1000)],
                "conv_ms": [int((t_conv - t_probe) * 1000)],
                "pq_ms": [int((t_pq - t_conv) * 1000)],
                "bloom_ms": [int((t_bloom - t_pq) * 1000)],
                "n_blocked": [n_blk], "n_candidates": [n_cand], "n_probe_pos": [n_pos],
                "n_probe_fp": [n_fp], "n_recheck_rows": [n_re],
            } | {k: [None] for k in PARTIALS})

        summed = ("probe_ms", "conv_ms", "pq_ms", "bloom_ms", "n_blocked", "n_candidates",
                  "n_probe_pos", "n_probe_fp", "n_recheck_rows")
        rows = rows.groupBy(*keys).applyInPandas(
            build,
            schema="slice int, bucket int, n_rows long, "
            + ", ".join(f"{k} long" for k in summed) + ", " + PARTIALS_SCHEMA,
        ).collect()
        stats = [row for row in rows if row["bucket"] >= 0]
        task = {k: sum(row[k] for row in stats) for k in summed}
        task["n_tasks"] = len(stats)
        parts = [row for row in rows if row["bucket"] < 0]
        task["payload"] = fold_partials({k: [row[k] for row in parts] for k in PARTIALS})
        # groups that wrote nothing (all rows already seen) are not stats:
        # callers take touched Bloom buckets from these tuples
        stats = [row for row in stats if row["n_rows"] > 0]
        if slice_col:
            return [(row["slice"], row["bucket"], row["n_rows"]) for row in stats], task
        return [(row["bucket"], row["n_rows"]) for row in stats], task

    def _compact_manifest(
        self, store: JobStateStore, r: int, manifest: List[list], phases: dict
    ) -> List[list]:
        """Bound the pending-frontier manifest: when a (depth, due=0)
        group exceeds cfg.frontier_compact_every entries, merge the K
        SMALLEST (by row count) into one staged file-set under round r's
        fcompact/d=<depth>/ and replace their entries with one. Runs
        pre-commit, so a crash leaves either the old manifest or the new
        one — never a half-merged view; abort_round sweeps the staging.

        Why smallest-K (LSM discipline): a politeness-throttled depth
        appends one tiny new/ entry per sub-round; merging those keeps
        each row's rewrite count O(log) while the group length stays
        ≤ K+1 regardless of how many sub-rounds the previous depth took.
        The merged copy is frontier-only — the original new/ roots remain
        live seen components (they ARE the seen deltas); vacuum sweeps an
        fcompact set once the manifest stops referencing it, and sweeps
        new/ data files only when the seen compaction also covers them.
        Politeness-deferred slices (due > 0) are never merged: each slice
        is consumed whole by its own sub-round already."""
        every = self.cfg.frontier_compact_every
        if not every:
            return manifest
        from collections import defaultdict

        groups = defaultdict(list)
        for e in manifest:
            if e[3] == 0:
                groups[e[1]].append(e)
        out = list(manifest)
        t0 = time.monotonic()
        merged_any = False
        for depth, entries in sorted(groups.items()):
            if len(entries) <= every:
                continue
            victims = sorted(entries, key=lambda e: (e[2], e[0]))[:every]
            expected = sum(e[2] for e in victims)
            df = self._read_components([os.path.join(store.dir, e[0]) for e in victims])
            dest = os.path.join(store.fcompact_path(r), f"d={depth}")
            stats, _ = self._write_bucketed(
                store, dest, df, bloom_round=None, approx_rows=expected
            )
            n = sum(s[1] for s in stats)
            if n != expected:
                raise AssertionError(
                    f"frontier compaction rewrote {n} rows, manifest said {expected}"
                )
            vic_ids = {id(e) for e in victims}
            out = [e for e in out if id(e) not in vic_ids]
            out.append([self._rel(store, dest), depth, n, 0])
            merged_any = True
        if merged_any:
            phases["fcompact_ms"] = round((time.monotonic() - t0) * 1000)
        return out

    # ------------------------------------------------------------ payload verify
    def payload_stats(self, job_id: str) -> dict:
        """round -> payload-verification stats, from each round's commit.json."""
        store = self.store(job_id)
        out: dict = {}
        for r in store.committed_rounds():
            stats = store.read_commit(r).get("payload")
            if stats is not None:
                out[r] = stats
        return out

    def unverified_rounds(self, job_id: str) -> List[int]:
        """Committed rounds that ADMITTED pages but carry no payload-verify
        stats: perfbench's safety check. Every round verifies
        its pages and commits their stats with it, and the read refuses a
        store of any earlier format, so a store written while the verify
        could be switched off can no longer be read; the list is empty
        unless a round committed without its stats."""
        store = self.store(job_id)
        verified = self.payload_stats(job_id)
        return [
            r
            for r in store.committed_rounds()
            if store.read_commit(r).get("n_admitted", 0) > 0 and r not in verified
        ]

    def _verify_stats(self, admitted_keyed: DataFrame, n_admitted: int) -> dict:
        """The last depth's payload verify: the page pass without link
        expansion, its partials rows collected and folded."""
        rows = fetch_and_verify(self.corpus_path, admitted_keyed, self.spec, n_admitted, False).collect()
        return fold_partials({k: [row[k] for row in rows] for k in PARTIALS})

    # ------------------------------------------------------------ compaction
    def compact_seen(self, job_id: str) -> dict:
        """Merge all current seen components (previous compaction + later
        per-round deltas) into ONE bucket-partitioned table and flip the
        store's compaction pointer to it — the Iceberg rewrite_data_files
        maintenance job for the seen set. Readers are unchanged during and
        after (seen_paths() swaps components for an identical row set);
        deltas stay on disk until vacuum() observes the new pointer, so a
        crash at any step leaves a consistent store. Deltas are disjoint by
        construction (a URL enters seen in exactly one round), so the merge
        is a plain union."""
        store = self.store(job_id)
        last = store.last_committed()
        paths = store.seen_paths()
        # one component with NO live tombstones is already compact; with
        # tombstones, compaction is what folds the deletes physically (and
        # lets vacuum drop the delete files), so it must proceed
        if last is None or not paths or (len(paths) == 1 and not store.tombstone_components()):
            return {"compacted": False, "n_components": len(paths)}
        # staging name is unique per attempt (see seen_compact_staging):
        # a concurrent compactor can never collide with — or delete — the
        # dir this attempt is about to flip the pointer to; crashed
        # attempts are swept by vacuum once aged
        staging = store.seen_compact_staging(last)
        df = self._seen_df(store)
        # one file per bucket (repartition BY the partition column before
        # partitionBy, else every input partition writes a file per bucket);
        # hashing puts each bucket in exactly one task, so the task count
        # is free to follow the live row count (commit arithmetic) instead
        # of paying seen_buckets tasks for a small crawl's few rows
        n_tasks = min(self.cfg.seen_buckets, sized_tasks(self.spark, _n_seen(store)))
        (
            df.repartition(n_tasks, F.col("seen_bucket"))
            .write.partitionBy("seen_bucket")
            .parquet(staging)
        )
        # flip is monotonic: if a concurrent compactor already published a
        # newer (or same-upto) generation, this attempt's staging dir is
        # left as an aged-out orphan for vacuum and readers keep the winner
        flipped = store.set_seen_compact(last, os.path.relpath(staging, store.dir))
        return {"compacted": flipped, "upto": last, "n_components": len(paths)}

    # ------------------------------------------------------------ unsee / recrawl
    def unsee_urls(self, job_id: str, urls, reseed: bool = False) -> dict:
        """Remove URLs from the job's seen set — the re-crawl primitive.
        The reference's only forget path is Redis cache-TTL expiry
        (RedisCache/cache.go:55-72: an expired entry makes the next job
        re-crawl from scratch); on a persistent 10^10-row seen table the
        analog is a targeted equality-delete, done Iceberg-style as
        merge-on-read: ONE committed tombstone round whose delete file-set
        (bucket-partitioned, same layout as new/) suppresses older seen
        rows at read time, folds physically at the next compaction, and is
        vacuumed once covered. No seen component is rewritten.

        Candidates are gated on the EXACT seen table (inner join), never
        trusted from user input. Bloom blobs cannot delete: the stale
        positive bits stay and the probe's exact re-check against the
        suppressed seen view rescues the URL as new.

        ``reseed=True`` re-enters the unseen URLs in the SAME committed
        round, at their ORIGINAL discovery depths (the tombstone rows carry
        them), so a subsequent ``run_job`` resume re-fetches their payloads
        without disturbing the crawl's depth structure (client_payload is
        depth-keyed). The reseed delta's effective round equals the
        tombstone round and the suppression rule is strict (t > c), so the
        re-added rows survive their own round's tombstone. One commit makes
        the whole operation atomic: a crash leaves either the old state or
        tombstone+reseed together — never URLs unseen but lost (a two-round
        layout would strand them, because re-running unsee gates on the
        seen set the crash already shrank). Returns
        {"round": r, "n_unseen": n, "n_reseeded": m}.

        Ownership contract: like run_job, this stages files into the next
        round's directory, so the caller must hold the job (one master) —
        the service path enforces it via ledger.reopen's CAS; two
        uncoordinated writers racing one round dir could interleave
        file-sets under a single commit. Same rule, same mechanism as
        crawl rounds."""
        import pandas as pd

        store = self.store(job_id)
        last = self._last_checked(store)
        if last is None:
            raise ValueError(f"unsee_urls: job {job_id!r} has no committed rounds")
        store.abort_round(last + 1)  # crash cleanup, same as resume
        r = last + 1
        url_list = [urls] if isinstance(urls, str) else list(urls)
        if not url_list:
            return {"round": last, "n_unseen": 0, "n_reseeded": 0}
        cand = self.spark.createDataFrame(pd.DataFrame({"url": url_list}))
        cand = self._with_keys(cand).dropDuplicates(["url_hash"]).withColumn("host", U.host_of(F.col("url")))
        # candidate buckets bound the seen scan (PartitionFilter-pruned);
        # the distinct-bucket collect is capped by cfg.seen_buckets
        bucket_list = [row[0] for row in cand.select("seen_bucket").distinct().collect()]
        seen = self._seen_df(store, buckets=bucket_list)
        if seen is None:
            raise ValueError(f"unsee_urls: job {job_id!r} has an empty seen set")
        # inner join keeps only real seen rows and carries their depth into
        # the tombstone schema; the seen view is already suppression-applied,
        # so a URL unseen twice is a no-op the second time
        tomb = cand.join(seen.select("url_hash", "depth"), "url_hash", "inner").select(
            "url", "host", "url_hash", "seen_bucket", "depth"
        )
        return self._unsee_frame(store, r, tomb, reseed)

    def unsee_matching(self, job_id: str, predicate, reseed: bool = False) -> dict:
        """Predicate form of unsee_urls — `DELETE FROM seen WHERE ...`, the
        Iceberg row-level-DML analog for deletes too big to ship as a URL
        list (recrawl a whole host, an entire depth, a URL prefix). The
        predicate (SQL string or Column over url/url_hash/depth/
        seen_bucket) is evaluated over the suppressed seen view, so the
        candidates are exact seen rows by construction (no gate join);
        everything downstream — the tombstone round, atomic reseed at
        original depths — is shared with unsee_urls. One full seen scan,
        one pass: a maintenance-op cost profile, same as compact_seen."""
        store = self.store(job_id)
        last = self._last_checked(store)
        if last is None:
            raise ValueError(f"unsee_matching: job {job_id!r} has no committed rounds")
        store.abort_round(last + 1)
        seen = self._seen_df(store)
        if seen is None:
            raise ValueError(f"unsee_matching: job {job_id!r} has an empty seen set")
        expr = F.expr(predicate) if isinstance(predicate, str) else predicate
        tomb = seen.filter(expr).withColumn("host", U.host_of(F.col("url"))).select(
            "url", "host", "url_hash", "seen_bucket", "depth"
        )
        return self._unsee_frame(store, last + 1, tomb, reseed)

    def _unsee_frame(self, store: JobStateStore, r: int, tomb: DataFrame, reseed: bool) -> dict:
        """Shared tombstone+reseed commit path; `tomb` must hold exact
        current seen rows (url, host, url_hash, seen_bucket, depth)."""
        prev = store.read_commit(r - 1)
        # the tombstone write touches no blob (bloom cannot delete; the
        # probe's exact re-check rescues stale positives). The reseed write
        # re-adds into the previous blobs, a no-op for bits already set.
        touched: List[int] = []
        stats, _ = self._write_bucketed(
            store, store.tombstones_path(r), tomb, bloom_round=None,
        )
        n = sum(s[1] for s in stats)
        # replay the crawl cursor unchanged: the loop's depth/sub-round
        # arithmetic sees the same state it would without this round
        manifest = list(prev["frontier_manifest"])
        n_rs = 0
        if reseed and n > 0:
            # the reseed rows are the tombstone rows just written: read
            # back, so the gate join is not computed twice
            rs = self._read_components([store.tombstones_path(r)])
            if self.cfg.robots is not None:
                rs = rs.filter(~blocked_expr(F.col("url")))
            # the reseed delta is written twice on purpose: new/ (flat
            # bucketed — the seen component + filter re-add) and
            # deferred/due=<depth> slices (the frontier side needs one
            # file-set PER DEPTH because manifest entries are
            # single-depth; the politeness scheduler already committed
            # this slice layout). Both are tiny — recrawl-list sized.
            rs_stats, _ = self._write_bucketed(
                store, store.new_path(r), rs, bloom_round=r, approx_rows=n
            )
            touched = sorted({s[0] for s in rs_stats})
            fr_stats, _ = self._write_bucketed(
                store, store.deferred_path(r),
                rs.withColumn("due", F.col("depth")), None,
                slice_col="due", approx_rows=n,
            )
            root = store.deferred_path(r)
            for d0, n0 in sorted(_slice_totals(fr_stats).items()):
                manifest.append([self._rel(store, os.path.join(root, f"due={d0}")), d0, n0, 0])
            n_rs = sum(s[1] for s in rs_stats)
        n_pending = sum(e[2] for e in manifest)
        # reseed entries reset the drain cursor to the seed round's
        # state (depth -1 / sub -1): the next _run_round must start the
        # min-depth's drain at sub-round 0 and re-schedule politeness
        # over ALL its entries. Replaying the old cursor verbatim would
        # deadlock when a reseed depth equals the cursor depth — the
        # sub-round would advance and the reseed slice (due tag 0)
        # would never be consumed. Without reseed the manifest is
        # untouched and the cursor replays exactly.
        reset = n_rs > 0
        store.commit_round(
            r,
            {
                "depth": -1 if reset else prev["depth"],
                "sub_round": -1 if reset else prev["sub_round"],
                "depth_limit": prev["depth_limit"],
                "n_pending_after": n_pending,
                "frontier_manifest": manifest,
                "done": n_pending == 0,
                "tombstone": n,
                "reseed": n_rs,
            },
            touched_blooms=touched,
        )
        return {"round": r, "n_unseen": n, "n_reseeded": n_rs}

    # ------------------------------------------------------------ main loop
    def run_job(
        self,
        job_id: str,
        seed_url,
        depth: int,
        max_rounds: Optional[int] = None,
        on_round=None,
    ) -> dict:
        """Run (or resume) a crawl job to completion. `max_rounds` aborts
        after N committed rounds this invocation — the kill-and-resume test
        hook (W2). Returns a summary dict."""
        assert depth >= 1
        store = self.store(job_id)
        last = self._last_checked(store)
        if last is None:
            # crash cleanup for a death BETWEEN the round-0 staging writes
            # and commit_round(0): abort_round is a no-op unless an
            # uncommitted r0 dir exists, whose leftover frontier parquet
            # would otherwise fail the seed write with path-already-exists
            store.abort_round(0)
            self._seed_round(store, seed_url, depth)
            last = 0
        else:
            store.abort_round(last + 1)  # crash cleanup: drop uncommitted staging
        info = store.read_commit(last)
        depth_limit = info["depth_limit"]
        rounds_done = 0

        while not info.get("done"):
            if max_rounds is not None and rounds_done >= max_rounds:
                return {"job_id": job_id, "done": False, "last_round": last}
            r = last + 1
            t0 = time.monotonic()
            stats = self._run_round(store, r, depth_limit)
            stats.wall_ms = int((time.monotonic() - t0) * 1000)
            self._write_round_metrics(store, r, stats)
            every = self.cfg.compact_seen_every
            if every and len(store.seen_paths()) > every:
                self.compact_seen(job_id)
            rounds_done += 1
            last = r
            info = store.read_commit(last)
            if on_round is not None:
                on_round(stats)

        return {"job_id": job_id, "done": True, "last_round": last, "n_seen": _n_seen(store)}

    def _run_round(self, store: JobStateStore, r: int, depth_limit: int) -> RoundStats:
        """One BFS round as a list of named phases, all on this thread. The
        payload verify runs in the same Python pass as the extraction (at
        the last depth, on its own) before the commit, so a committed round
        always carries its own verify stats. admit_ms includes the
        politeness schedule write of a sub-round 0; extract_write_ms times
        everything between admission and the commit: that pass with the
        fused write, or the last depth's verify. A round that fails leaves
        only staged files, which abort_round sweeps on resume."""
        rnd = _Round(store, r, depth_limit)
        self._cursor(rnd)
        self._admit(rnd)
        rnd.mark("admit_ms")
        new_rows = self._extract(rnd)
        if new_rows is not None:
            self._filter_new(rnd, new_rows)
        payload = self._finalize_verify(rnd)
        rnd.mark("extract_write_ms")
        n_pending_after = self._commit(rnd, self._next_manifest(rnd), payload)
        return RoundStats(
            round=r,
            depth=rnd.d,
            sub_round=rnd.sub,
            n_admitted=rnd.n_admitted,
            n_candidates=rnd.n_candidates,
            n_new=rnd.n_new,
            n_blocked=rnd.n_blocked,
            n_pending_after=n_pending_after,
            wall_ms=0,
            n_probe_pos=rnd.n_probe_pos,
            n_probe_fp=rnd.n_probe_fp,
            n_recheck_rows=rnd.n_recheck_rows,
        )

    def _cursor(self, rnd: _Round) -> None:
        """The depth and sub-round this round drains. The pending frontier
        is a MANIFEST of committed file-sets ([relpath, depth, n_rows,
        due_sub]); the depth cursor, the no-politeness admitted count and
        every later sub-round's admitted count are manifest arithmetic —
        zero Spark jobs — and only the file-sets the round actually drains
        are ever opened."""
        prev = rnd.store.read_commit(rnd.r - 1)
        rnd.manifest = prev["frontier_manifest"]
        rnd.d = int(min(e[1] for e in rnd.manifest))
        rnd.sub = int(prev["sub_round"] + 1 if prev["depth"] == rnd.d else 0)

    def _admit(self, rnd: _Round) -> None:
        """Admission. Under politeness, sub-round 0 ranks the depth's
        ENTIRE pending set once and writes every sub-round's slice ONCE
        (_schedule), then admits its own `due=0` slice; every later
        sub-round admits its slice purely BY MANIFEST REFERENCE — no
        politeness window re-run, no deferred-set rewrite (re-ranking and
        rewriting the remainder every sub-round would write O(M²/k) rows
        for a mega-host with M pending and budget k; this writes O(M)).
        Without politeness a round admits the drained sets whole."""
        d = rnd.d
        entries_d = [e for e in rnd.manifest if e[1] == d]
        if rnd.sub == 0:
            rnd.consumed = entries_d
        else:
            rnd.consumed = [e for e in entries_d if e[3] == rnd.sub]
            if not rnd.consumed:
                raise ValueError(
                    f"no frontier slice due at depth {d} sub-round {rnd.sub}: "
                    f"schedule slices must be contiguous ({entries_d})"
                )
        paths = [os.path.join(rnd.store.dir, e[0]) for e in rnd.consumed]
        n = sum(e[2] for e in rnd.consumed)
        if rnd.sub == 0 and self.cfg.politeness is not None:
            paths, n = self._schedule(rnd, paths, n)
        rnd.n_admitted = n
        # the page pass's fetch-index key; the extraction reads the url
        rnd.admitted = self._read_components(paths).withColumn("page_id", U.page_index(F.col("url")))

    def _schedule(self, rnd: _Round, paths: List[str], n_pending: int) -> tuple:
        """Politeness sub-round 0: rank the depth's `n_pending` rows once
        and write the whole schedule in one sliced write, partitioned by
        due sub-round (`ceil(rn/budget)-1` ≥ 0). There is NO next-frontier
        rewrite: untouched depths AND not-yet-due slices carry over in the
        manifest by reference. The `due≥1` slices become `rnd.scheduled`'s
        manifest entries; the `due=0` slice is this round's admitted set,
        never committed in a manifest (vacuum sweeps it). Returns its
        paths and rows, the rows exact from the write's stats."""
        store = rnd.store
        root = store.deferred_path(rnd.r)
        scheduled = schedule(
            self._read_components(paths), self.cfg.politeness, grade=self._grade_col()
        )
        stats, _ = self._write_bucketed(
            store, root, scheduled, None, slice_col="due", approx_rows=n_pending
        )
        totals = _slice_totals(stats)
        n_written = sum(totals.values())
        # self-check: the schedule must place every pending row exactly
        # once — a divergence (e.g. a budget expression breaking the
        # slicing) must fail loudly, not corrupt n_pending_after / done
        if n_written != n_pending:
            raise AssertionError(
                f"schedule write produced {n_written} rows, expected {n_pending}"
            )
        rnd.scheduled = [
            [self._rel(store, os.path.join(root, f"due={due}")), rnd.d, n, due]
            for due, n in sorted(totals.items()) if due > 0
        ]
        # each host's first row is due at 0: the slice exists whenever
        # rows are pending
        return [os.path.join(root, "due=0")], totals[0]

    def _extract(self, rnd: _Round) -> Optional[DataFrame]:
        """The next depth's keyed candidate rows (lazy), or None at the
        last depth (F4) or when nothing was admitted: the page pass
        (sources/fetch.py), which fetches and verifies each page before
        expanding its links. The rows keep duplicates, seen URLs and
        (under robots, flagged `_blocked`) blocked URLs — the fused write
        counts and drops the blocked rows, then dedups and probes the rest
        — plus the pass's verify-partials rows (seen_bucket -1)."""
        if rnd.d + 1 >= rnd.depth_limit or rnd.n_admitted == 0:
            return None
        # the pass runs in the frontier scan's stage, narrowed by the
        # admitted rows (CPU-bound Python stage: a small round runs as 1
        # task, a bulk round as the scan's splits up to the 2× cores cap)
        pages = fetch_and_verify(self.corpus_path, rnd.admitted, self.spec, rnd.n_admitted)
        keyed = self._with_keys(pages)
        cols = ["url", "host", "url_hash", "seen_bucket", "depth", *PARTIALS]
        if self.cfg.robots is not None:
            # blocked URLs never enter the seen set, so the filter commutes
            # with dedup and probe: the fused write counts and drops them
            keyed = keyed.withColumn("_blocked", blocked_expr(F.col("url")))
            cols.append("_blocked")
        return keyed.withColumn("depth", F.lit(rnd.d + 1)).select(*cols)

    def _finalize_verify(self, rnd: _Round) -> Optional[dict]:
        """This round's payload stats for commit.json (None when the round
        admitted nothing): the fused write's fold, or at the last depth
        the verify run here."""
        if rnd.n_admitted == 0:
            return None
        if rnd.payload is None:
            rnd.payload = self._verify_stats(rnd.admitted, rnd.n_admitted)
        return {k: (float(v) if v is not None else None) for k, v in rnd.payload.items()}

    def _next_manifest(self, rnd: _Round) -> List[list]:
        """The pending frontier after this round: the manifest minus the
        consumed entries, plus the scheduled slices and the new-URL set,
        compacted when a group outgrows cfg.frontier_compact_every."""
        consumed_ids = {id(e) for e in rnd.consumed}
        manifest = [e for e in rnd.manifest if id(e) not in consumed_ids] + rnd.scheduled
        if rnd.n_new > 0:
            manifest.append(
                [self._rel(rnd.store, rnd.store.new_path(rnd.r)), rnd.d + 1, rnd.n_new, 0]
            )
        return self._compact_manifest(rnd.store, rnd.r, manifest, rnd.phases)

    def _commit(self, rnd: _Round, manifest: List[list], payload: Optional[dict]) -> int:
        """Publish the round (the resume anchor); returns n_pending_after."""
        n_pending_after = sum(e[2] for e in manifest)
        info = {
            "depth": rnd.d,
            "sub_round": rnd.sub,
            "depth_limit": rnd.depth_limit,
            "n_admitted": rnd.n_admitted,
            "n_new": rnd.n_new,
            "n_pending_after": n_pending_after,
            "frontier_manifest": manifest,
            "done": n_pending_after == 0,
        }
        if payload:
            info["payload"] = payload
        info["phases"] = rnd.phases
        rnd.store.commit_round(rnd.r, info, touched_blooms=rnd.touched)
        return n_pending_after

    def _write_round_metrics(self, store: JobStateStore, r: int, s: RoundStats) -> None:
        """Per-round lineage/metrics row (north rule; generalizes the
        reference's status histogram, master.go:575-596 A3). One row per
        round → written driver-side with pyarrow (a Spark job for a single
        row costs seconds of scheduling); read back as a normal parquet
        table by metrics_df."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(store.metrics_path(r), exist_ok=True)
        arrow = {"int": pa.int32(), "bigint": pa.int64()}
        table = pa.table(
            {
                name: pa.array([getattr(s, name)], arrow[kind])
                for name, kind in (col.split() for col in METRICS_SCHEMA.split(", "))
            }
        )
        pq.write_table(table, os.path.join(store.metrics_path(r), "part-0.parquet"))

    # ------------------------------------------------------------ readers
    def seen_df(self, job_id: str) -> DataFrame:
        store = self.store(job_id)
        df = self._seen_df(store)
        if df is None:
            return self.spark.createDataFrame(
                [], "url_hash long, url string, depth int, seen_bucket int, seen_round int"
            )
        return df

    def seen_df_at(self, job_id: str, r: int) -> DataFrame:
        """Time-travel read — the seen table AS OF committed round `r`
        (the Iceberg snapshot-read analog; every commit_round IS a
        snapshot). Reconstructs the merge-on-read view from the round-r
        prefix of history: components with effective round <= r,
        suppressed by tombstones in rounds <= r under the same strict
        t > c rule as the live view, so `seen_df_at(last_committed)`
        equals `seen_df` row-for-row.

        Snapshot retention follows the files: a snapshot stays readable
        while its rounds' file-sets exist — compaction alone does NOT
        expire it (the covered deltas stay on disk until vacuum), but
        once vacuum() sweeps a needed round this raises, exactly
        Iceberg's expire-snapshots semantics (and the same contract as
        seen_changes / catalog CDC)."""
        store = self.store(job_id)
        last = store.last_committed()
        if last is None or not (0 <= r <= last):
            raise ValueError(
                f"seen_df_at: round {r} is not a committed round of job "
                f"{job_id!r} (last committed: {last})"
            )
        sc = store.read_seen_compact()
        comps: List[tuple] = []
        tombs: List[tuple] = []
        lo = -1
        if sc is not None and sc["upto"] <= r:
            # the live compaction is a valid prefix of this snapshot: its
            # rows and folded deletes all belong to rounds <= upto <= r
            comps.append((sc["upto"], os.path.join(store.dir, sc["path"])))
            lo = sc["upto"]
        # rounds <= lo are folded into the compaction prefix
        for rr, kind, p in _history(store, lo, r, f"seen_df_at: snapshot at round {r}"):
            (comps if kind == "insert" else tombs).append((rr, p))
        df = self._seen_view(comps, tombs)
        if df is None:
            return self.spark.createDataFrame(
                [], "url_hash long, url string, depth int, seen_bucket int, seen_round int"
            )
        return df

    def results_df(self, job_id: str) -> DataFrame:
        """Normalized D2 view: (job_id, depth, url) = first-discovery depth
        of every URL that entered the task maps (U4 includes all statuses)."""
        return self.seen_df(job_id).select(
            F.lit(job_id).alias("job_id"), F.col("depth"), F.col("url")
        )

    def seen_changes(self, job_id: str, from_round: int = -1) -> DataFrame:
        """Incremental changelog of the seen table SINCE `from_round`
        (exclusive) — the Iceberg incremental-read / changelog-scan analog
        over the crawl's main data table, and the batch counterpart of the
        reference's per-job DoneJob result push (websocketserver S6): a
        downstream consumer (e.g. a training-data pipeline ingesting crawl
        output) re-reads only the rounds it has not seen, never the table.

        Rows are `(url_hash, url, depth, seen_bucket, round, change_type)`
        with change_type `insert` (a round's new/ delta: seed, crawl
        discoveries, or reseeds) or `delete` (a round's tombstones from
        unsee_urls). Within one round a consumer must apply deletes BEFORE
        inserts — the atomic unsee+reseed round emits both for the same
        URL, and the engine's own suppression rule is strict (a tombstone
        kills only strictly-older rows), so delete-then-insert replays to
        the same state. Folding the full changelog from round -1
        reproduces seen_df exactly (tests pin this).

        History expires like any Iceberg changelog: once compact_seen has
        folded a round and vacuum() has swept its files, reading a range
        that needs that round raises — start from a later round instead
        (mirrors catalog/changes.py's expired-start contract)."""
        store = self.store(job_id)
        last = store.last_committed()
        schema = "url_hash long, url string, depth int, seen_bucket int"
        out_schema = schema + ", round int, change_type string"
        if last is None:
            return self.spark.createDataFrame([], out_schema)
        if from_round > last:
            raise ValueError(
                f"seen_changes: from_round {from_round} is beyond the newest "
                f"committed round {last}"
            )

        def read(path: str, r: int, kind: str) -> DataFrame:
            return (
                self.spark.read.schema(schema).parquet(path)
                .withColumn("round", F.lit(r))
                .withColumn("change_type", F.lit(kind))
            )

        parts = [
            read(p, r, kind)
            for r, kind, p in _history(store, from_round, last, f"seen_changes from round {from_round}")
        ]
        if not parts:
            return self.spark.createDataFrame([], out_schema)
        from functools import reduce

        return reduce(DataFrame.unionByName, parts)

    def metrics_df(self, job_id: str) -> DataFrame:
        paths = self.store(job_id).metrics_paths()
        return self.spark.read.schema(METRICS_SCHEMA).parquet(*paths)

    def client_payload(self, job_id: str, depth: int) -> List[List[str]]:
        """The reference's DoneJob.Results [][]string (transferObjects.go:17-23):
        outer index = depth, inner = sorted URLs (within-depth order is
        nondeterministic in the reference — compare as sets)."""
        rows = (
            self.results_df(job_id)
            .groupBy("depth")
            .agg(F.sort_array(F.collect_set("url")).alias("urls"))
            .collect()
        )
        by_depth = {row["depth"]: row["urls"] for row in rows}
        return [sorted(by_depth.get(i, [])) for i in range(depth)]
