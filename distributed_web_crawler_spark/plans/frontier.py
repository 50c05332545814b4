"""FrontierEngine — the BFS round loop (SURVEY.md §3.1 "Spark lifecycle").

This is the Spark-first re-expression of the reference master's drain loop
(Server/Cluster/Master/master.go:270-299, 620-686): the per-depth task maps
become a frontier table, the worker RPC fan-out becomes one vectorized
fetch-join + extraction stage per sub-round, the mutex-guarded visited maps
become a partitioned Bloom-filtered seen table probed inside the write, and the
depth barrier becomes the natural action barrier between rounds. One atomic
commit per sub-round (catalog/tables.py) is the resume anchor — strictly
better than the reference's from-scratch job reassignment
(lockServer.go:174-197; master.go:449), with identical final state because
rounds are deterministic.

Scale shape per round (what survives 1000 executors × 100 TB):

* fetch: `broadcast(admitted) ⋈ corpus` with the corpus scan pruned to the
  storage buckets the round touches — never a full corpus scan, and the
  binary `bytes` column is only read by the optional payload-verify stage
  (column pruning, SURVEY.md §7 risk (e)). The buckets are manifest
  arithmetic: each frontier file-set's write returns the corpus_mask of
  its rows, and the round ORs the masks of the entries it drains, so no
  job runs to find them.
* dedup: no stage of its own. The raw candidate stream goes straight to
  the bucketed write (ONE exchange, by seen-bucket); each write task dedups
  its group with numpy, probes the bucket's Bloom blob (no broadcast of
  blobs) and exact-checks only the positives against that bucket's seen
  hashes, so false positives are rescued and URLs are never lost. Per-round
  seen deltas are merged by compact_seen every cfg.compact_seen_every
  rounds, so both the re-check and result reads list O(1) roots regardless
  of crawl age.
* politeness window: one shuffle by host, budgets data-determined so
  local[8] and local[32] produce identical admissions.
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
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog.tables import JobStateStore
from ..fixtures import corpus as C
from ..functions import bloom as B
from ..functions import urls as U
from ..operators.extract import extract_links
from ..sources.fetch import fetch_and_verify
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

# driver-side pool for concurrent Spark actions within a round (independent
# job DAGs: payload verify ∥ extract → fused write; the deferred-slice write)
_POOL = ThreadPoolExecutor(max_workers=4, thread_name_prefix="frontier-io")


def _pool_submit(spark: SparkSession, fn, *args, group: str | None = None):
    """Submit a Spark action to _POOL under a PER-THREAD FAIR scheduler
    pool. spark.scheduler.mode=FAIR (session.py) only arbitrates BETWEEN
    pools; with no allocation file every job lands in the single default
    pool, whose internal mode is FIFO — i.e. FAIR-with-one-pool schedules
    exactly like FIFO and the long verify job still starves the short write
    job. Tagging each pool thread with its own spark.scheduler.pool local
    property puts concurrent jobs in DISTINCT auto-created pools (weight 1,
    minShare 0), which the FAIR root genuinely round-robins. Local
    properties are per-Python-thread under PySpark's pinned-thread mode and
    setting is idempotent, so re-tagging on every submit is cheap.

    `group` additionally tags the action's Spark jobs with a job-group id
    (_Round.group: kind, store, round) so a failing round can CANCEL them
    (sc.cancelJobGroup in _abandon) instead of blocking its cleanup path
    behind a full verify run; the tag is cleared when unset so a reused
    worker thread never inherits a stale group."""

    def run():
        import threading

        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", threading.current_thread().name)
        sc.setLocalProperty("spark.jobGroup.id", group)
        return fn(*args)

    return _POOL.submit(run)


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
    # per-row PSNR/phash/caption invariants: each round verifies its
    # admitted pages on _POOL alongside extract → write and commits the
    # stats in its commit.json
    verify_payloads: bool = False
    # accepted for perfbench; delete at the next benchmark change (Bloom
    # is the only seen path, so False raises; the other two are ignored)
    use_bloom: bool = True
    detailed_metrics: bool = True
    pipeline_verify: bool = False

    def __post_init__(self):
        if not self.use_bloom:
            raise ValueError("use_bloom=False: the Bloom seen path is the only one")


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
        return info.get("n_pending_after", 0)
    return info.get("n_new", 0) + info.get("reseed", 0)


def _entry_mask(entry: list) -> int:
    """A manifest entry's corpus_mask. An entry committed before entries
    carried one has 4 elements and may hold any corpus bucket."""
    return entry[4] if len(entry) > 4 else C.ALL_BUCKETS


def _or_masks(masks) -> int:
    out = 0
    for m in masks:
        out |= m
    return out


def _slice_totals(stats: List[tuple]) -> dict:
    """A sliced write's (slice, bucket, n, corpus_mask) stats folded per
    slice: {slice: (rows, corpus_mask)}."""
    out: dict = {}
    for sl, _b, n, m in stats:
        n0, m0 = out.get(sl, (0, 0))
        out[sl] = (n0 + n, m0 | m)
    return out


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
    # frames cached for this round, released before the verify wait
    persisted: List[DataFrame] = field(default_factory=list)
    # cursor: the previous commit's manifest, the depth and sub-round drained
    manifest: List[list] = field(default_factory=list)
    d: int = 0
    sub: int = 0
    # admission: the manifest entries drained, the admitted rows with
    # their fetch key, the corpus buckets they may join (the OR of the
    # drained entries' masks), and (sub-round 0 under politeness) the
    # rows scheduled for later sub-rounds
    consumed: List[list] = field(default_factory=list)
    admitted: Optional[DataFrame] = None
    n_admitted: int = 0
    corpus_buckets: List[int] = field(default_factory=list)
    deferred: Optional[DataFrame] = None
    n_deferred: int = 0
    # in-flight _POOL jobs
    verify: Optional[Future] = None
    deferred_write: Optional[Future] = None
    n_candidates: int = 0
    n_new: int = 0
    n_blocked: int = 0
    n_probe_pos: int = 0
    n_probe_fp: int = 0
    n_recheck_rows: int = 0
    touched: List[int] = field(default_factory=list)  # Bloom buckets written
    new_mask: int = 0  # corpus_mask of the new-URL set

    def mark(self, key: str) -> None:
        now = time.monotonic()
        self.phases[key] = round((now - self.t) * 1000)
        self.t = now

    def release(self) -> None:
        for df_ in self.persisted:
            df_.unpersist()
        self.persisted = []

    def group(self, kind: str) -> str:
        """Job-group id of this round's `kind` pool job (cancel handle)."""
        return f"{kind}:{self.store.dir}:r{self.r}"


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
        wrote them: blob bytes of another filter kind, bloom bits read
        under different size params, or the parquet layout read under a
        different seen_buckets yield garbage probe verdicts whose FALSE
        side is trusted as definitely-new, i.e. silent duplicate
        crawling. `kind` stays in the identity so a store written by a
        non-bloom filter is refused instead of read as bloom bits."""
        return {
            "kind": "bloom",
            "seen_buckets": self.cfg.seen_buckets,
            # stores written without the filter carry False and have no
            # blobs for their rounds, so they must still be refused
            "use_bloom": True,
            "n_bits": self.cfg.bloom.n_bits,
            "n_hashes": self.cfg.bloom.n_hashes,
        }

    def _check_filter_meta(self, info: dict) -> None:
        """Raise on resuming/mutating a job store under a seen-filter
        config other than the one that wrote it (ADVICE r7: a silent
        filter swap reinterprets the blob bytes; false positives are
        rescued by the exact re-check but false negatives duplicate
        crawls with no error). Pre-r8 stores carry no metadata — accepted
        as-is, the caller owns config continuity for those."""
        stored = info.get("seen_filter")
        if stored is None:
            return
        current = self._filter_meta()
        if stored != current:
            raise ValueError(
                f"seen-filter config mismatch: job store was written under "
                f"{stored}, engine configured with {current}; resume with "
                "the original EngineConfig (filter kind, params, "
                "seen_buckets) or start a fresh job"
            )

    def _grade_col(self):
        """cfg.politeness_grade as a Column (None when unset) — resolved
        lazily so the expression string is parsed against each round's
        pending frame."""
        return F.expr(self.cfg.politeness_grade) if self.cfg.politeness_grade else None

    def _with_keys(self, df: DataFrame) -> DataFrame:
        url = U.canonicalize(F.col("url"))
        return (
            df.withColumn("url", url)
            .withColumn("url_hash", U.url_hash(F.col("url")))
            .withColumn("seen_bucket", U.seen_bucket(F.col("url_hash"), self.cfg.seen_buckets))
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
        # up to round k (round→time via commit-file mtimes). Pre-column
        # compactions read NULL → coalesce to the compaction's upto — a
        # conservative (newer-looking) migration default.
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
        mask = _or_masks(s[2] for s in stats)
        manifest = [[self._rel(store, store.new_path(0)), 0, n, 0, mask]] if n > 0 else []
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
        counts come back with the write's stats and are folded into `rnd`."""
        # upper bound on the write's input row count (raw candidates
        # <= admitted × max out-degree): over-estimating only shrinks
        # the chunked groups, never breaks the memory guard
        stats, task = self._write_bucketed(
            rnd.store, rnd.store.new_path(rnd.r), new_rows, bloom_round=rnd.r,
            approx_rows=rnd.n_admitted * C.MAX_OUT_DEGREE, probe=True,
        )
        rnd.touched = sorted({s[0] for s in stats})
        rnd.n_new = sum(s[1] for s in stats)
        rnd.new_mask = _or_masks(s[2] for s in stats)
        rnd.n_candidates, rnd.n_blocked = task["n_candidates"], task["n_blocked"]
        rnd.n_probe_pos, rnd.n_probe_fp = task["n_probe_pos"], task["n_probe_fp"]
        rnd.n_recheck_rows = task["n_recheck_rows"]
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
        returns (bucket, n, corpus_mask). The mask (fixtures.corpus
        corpus_mask over the rows written) is what the file-set's manifest
        entry carries, so the round that drains it prunes its fetch join
        without a job. Fusing the writes replaces the three separate
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
        without its blob.

        With `slice_col` (the politeness schedule's `due` sub-round), rows
        are grouped by (slice, seen_bucket) and land under
        ``out_dir/<slice_col>=<v>/seen_bucket=<b>/`` so each slice is an
        independently-readable file-set root; stats become
        (slice, bucket, n, corpus_mask). Without it, stats are
        (bucket, n, corpus_mask).

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
        n_probe_pos, n_probe_fp, n_recheck_rows). They are returned rather
        than stashed on the engine because the deferred-slice write runs
        concurrently in a pool thread alongside the main write."""
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
            mask = 0
            if n:
                mask = C.corpus_mask(pdf["url"].to_numpy())
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
            # probe = dedup + Bloom probe + exact re-check, conv = corpus
            # mask + pandas→Arrow, pq = parquet write, bloom = blob
            # fold+write. Worker-visible time only — shuffle/Arrow-IPC
            # transfer cost is the gap between the job's wall and
            # max-per-slot sums of these.
            return pd.DataFrame({
                "slice": [sl], "bucket": [bucket], "n": [n], "corpus_mask": [mask],
                "probe_ms": [int((t_probe - t_entry) * 1000)],
                "conv_ms": [int((t_conv - t_probe) * 1000)],
                "pq_ms": [int((t_pq - t_conv) * 1000)],
                "bloom_ms": [int((t_bloom - t_pq) * 1000)],
                "n_blocked": [n_blk], "n_candidates": [n_cand], "n_probe_pos": [n_pos],
                "n_probe_fp": [n_fp], "n_recheck_rows": [n_re],
            })

        summed = ("probe_ms", "conv_ms", "pq_ms", "bloom_ms", "n_blocked", "n_candidates",
                  "n_probe_pos", "n_probe_fp", "n_recheck_rows")
        stats = rows.groupBy(*keys).applyInPandas(
            build,
            schema="slice int, bucket int, n long, corpus_mask long, "
            + ", ".join(f"{k} long" for k in summed),
        ).collect()
        task = {k: sum(row[k] for row in stats) for k in summed}
        task["n_tasks"] = len(stats)
        # groups that wrote nothing (all rows already seen) are not stats:
        # callers take touched Bloom buckets from these tuples
        stats = [row for row in stats if row["n"] > 0]
        if slice_col:
            return [(row["slice"], row["bucket"], row["n"], row["corpus_mask"]) for row in stats], task
        return [(row["bucket"], row["n"], row["corpus_mask"]) for row in stats], task

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
            if (e[3] if len(e) > 3 else 0) == 0:
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
            out.append([self._rel(store, dest), depth, n, 0, _or_masks(s[2] for s in stats)])
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
        stats. A round's stats are part of its commit, so under
        verify_payloads this is always empty; it lists the rounds a job
        committed while verify_payloads was off."""
        store = self.store(job_id)
        verified = self.payload_stats(job_id)
        return [
            r
            for r in store.committed_rounds()
            if store.read_commit(r).get("n_admitted", 0) > 0 and r not in verified
        ]

    def _verify_stats(self, admitted_keyed: DataFrame, n_admitted: int, buckets: List[int]) -> dict:
        return (
            fetch_and_verify(
                self.spark, self.corpus_path, admitted_keyed, buckets, self.spec, n_admitted
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("pixels_ok").cast("int")).alias("n_pixels_ok"),
                F.sum(F.col("phash_ok").cast("int")).alias("n_phash_ok"),
                F.sum(F.col("caption_ok").cast("int")).alias("n_caption_ok"),
                F.min("psnr").alias("min_psnr"),
            )
            .collect()[0]
            .asDict()
        )

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
        last = store.last_committed()
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
        last = store.last_committed()
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
        if reseed:
            tomb = tomb.persist()  # shared by the tombstone and reseed writes
        prev = store.read_commit(r - 1)
        self._check_filter_meta(prev)
        # the tombstone write touches no blob (bloom cannot delete; the
        # probe's exact re-check rescues stale positives). The reseed write
        # re-adds into the previous blobs, a no-op for bits already set.
        touched: List[int] = []
        try:
            stats, _ = self._write_bucketed(
                store, store.tombstones_path(r), tomb, bloom_round=None,
            )
            n = sum(s[1] for s in stats)
            # replay the crawl cursor unchanged: the loop's depth/sub-round
            # arithmetic sees the same state it would without this round
            manifest = list(prev["frontier_manifest"])
            n_rs = 0
            if reseed and n > 0:
                rs = tomb if self.cfg.robots is None else tomb.filter(
                    ~blocked_expr(F.col("url"))
                )
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
                for d0, (n0, m0) in sorted(_slice_totals(fr_stats).items()):
                    manifest.append([self._rel(store, os.path.join(root, f"due={d0}")), d0, n0, 0, m0])
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
                    "depth_limit": prev.get("depth_limit"),
                    "n_pending_after": n_pending,
                    "frontier_manifest": manifest,
                    "done": n_pending == 0,
                    "tombstone": n,
                    "reseed": n_rs,
                },
                touched_blooms=touched,
            )
        finally:
            if reseed:
                tomb.unpersist()
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
        last = store.last_committed()
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
        self._check_filter_meta(info)
        depth_limit = info.get("depth_limit", depth)
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
        """One BFS round as a list of named phases. The payload verify runs
        on _POOL alongside extract → write and is awaited before the commit,
        so a committed round always carries its own verify stats."""
        rnd = _Round(store, r, depth_limit)
        try:
            self._cursor(rnd)
            self._admit(rnd)
            rnd.mark("admit_ms")
            self._submit_verify(rnd)
            rnd.mark("fetch_submit_ms")
            new_rows = self._extract(rnd)
            sched_entries = self._writes(rnd, new_rows)
            rnd.release()
            rnd.mark("extract_write_ms")
            payload = self._finalize_verify(rnd)
            rnd.mark("fetch_verify_wait_ms")
            manifest = self._next_manifest(rnd, sched_entries)
            n_pending_after = self._commit(rnd, manifest, payload)
        except BaseException:
            self._abandon(rnd)
            raise
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
        due_sub, corpus_mask], the mask being the corpus storage buckets
        of the set's rows, fixtures.corpus.corpus_mask); the depth cursor,
        the no-politeness admitted count, every later sub-round's admitted
        count AND the fetch join's corpus buckets are manifest arithmetic —
        zero Spark jobs — and only the file-sets the round actually drains
        are ever opened."""
        prev = rnd.store.read_commit(rnd.r - 1)
        manifest = prev.get("frontier_manifest")
        if manifest is None:
            raise ValueError(
                f"job store at {rnd.store.dir!r} was committed by a pre-manifest layout "
                "(no frontier_manifest in commit.json); rerun the job in a fresh "
                "warehouse — old stores are not migrated"
            )
        rnd.manifest = manifest
        rnd.d = int(min(e[1] for e in manifest))
        rnd.sub = int(prev["sub_round"] + 1 if prev["depth"] == rnd.d else 0)

    def _admit(self, rnd: _Round) -> None:
        """Admission. Sub-round 0 ranks the depth's ENTIRE pending set once
        and schedules each future sub-round's slice by its computed due
        sub-round (`ceil(rn/budget)-1`), written ONCE by _writes; every
        later sub-round admits its slice purely BY MANIFEST REFERENCE — no
        politeness window re-run, no deferred-set rewrite (re-ranking and
        rewriting the remainder every sub-round would write O(M²/k) rows
        for a mega-host with M pending and budget k; this writes O(M))."""
        d = rnd.d
        entries_d = [e for e in rnd.manifest if e[1] == d]
        if rnd.sub == 0:
            rnd.consumed = entries_d
        else:
            rnd.consumed = [e for e in entries_d if len(e) > 3 and e[3] == rnd.sub]
            if not rnd.consumed:
                raise ValueError(
                    f"no frontier slice due at depth {d} sub-round {rnd.sub}: "
                    f"schedule slices must be contiguous ({entries_d}). A "
                    "3-element entry here means the store was committed by "
                    "the pre-due-slice layout — rerun the job in a fresh "
                    "warehouse (old stores are not migrated)."
                )
        admitted = self._read_components(
            [os.path.join(rnd.store.dir, e[0]) for e in rnd.consumed]
        )
        n_pending = sum(e[2] for e in rnd.consumed)
        # the drained sets' masks: under politeness a superset of the
        # admitted rows' buckets, which the exact fetch join makes harmless
        rnd.corpus_buckets = C.mask_buckets(_or_masks(_entry_mask(e) for e in rnd.consumed))
        if rnd.sub == 0 and self.cfg.politeness is not None:
            # persisted `ranked` ancestor: the host-window shuffle runs
            # ONCE, shared by the admitted count and the deferred write.
            # `admitted` is cached too, and the count fills the cache
            # before the verify and the extract read it. A plain frontier
            # read is not cached: both readers would race to fill it, and
            # the loser's job count varied from run to run
            admitted, rnd.deferred = schedule(
                admitted, self.cfg.politeness, rnd.persisted, grade=self._grade_col()
            )
            rnd.persisted.append(admitted.persist())
            rnd.n_admitted = admitted.count()
        else:
            rnd.n_admitted = n_pending
        rnd.n_deferred = n_pending - rnd.n_admitted
        # fetch key of the verify's bucket-pruned corpus scan ⋈
        # broadcast(admitted); the extraction reads the url
        rnd.admitted = admitted.withColumn("image_id", U.image_id_of(F.col("url")))

    def _submit_verify(self, rnd: _Round) -> None:
        """Start the payload fetch+decode+verify on _POOL, CONCURRENTLY
        with extraction and the writes — they share only the admitted
        frame (Spark actions are thread-safe; two independent job DAGs).
        The corpus buckets come from the manifest, so building the fetch
        join submits no job of its own."""
        if self.cfg.verify_payloads and rnd.n_admitted > 0:
            rnd.phases["verify_tasks"] = sized_tasks(self.spark, rnd.n_admitted)
            rnd.verify = _pool_submit(
                self.spark, self._verify_stats, rnd.admitted, rnd.n_admitted, rnd.corpus_buckets,
                group=rnd.group("verify"),
            )

    def _extract(self, rnd: _Round) -> Optional[DataFrame]:
        """The next depth's keyed candidate rows (lazy), or None at the
        last depth (F4) or when nothing was admitted. They keep duplicates,
        seen URLs and (under robots, flagged `_blocked`) blocked URLs — the
        fused write counts and drops the blocked rows, then dedups and
        probes the rest."""
        if rnd.d + 1 >= rnd.depth_limit or rnd.n_admitted == 0:
            return None
        # extraction parallelism must not be bound to the frontier's file
        # count — size it by the admitted rows (CPU-bound Python stage: a
        # small round runs as 1 task, a bulk round at the 2× cores cap)
        rnd.phases["extract_tasks"] = sized_tasks(self.spark, rnd.n_admitted)
        extract_input = rnd.admitted.repartition(rnd.phases["extract_tasks"])
        keyed = self._with_keys(extract_links(extract_input, self.spec).select("url", "host"))
        cols = ["url", "host", "url_hash", "seen_bucket", "depth"]
        if self.cfg.robots is not None:
            # blocked URLs never enter the seen set, so the filter commutes
            # with dedup and probe: the fused write counts and drops them
            keyed = keyed.withColumn("_blocked", blocked_expr(F.col("url")))
            cols.append("_blocked")
        return keyed.withColumn("depth", F.lit(rnd.d + 1)).select(*cols)

    def _writes(self, rnd: _Round, new_rows: Optional[DataFrame]) -> List[list]:
        """Stage the round's writes into its dir (visible only after
        commit): ONE fused shuffle+write job for the new URLs
        (_filter_new), so the new-URL path has one exchange; parquet +
        seen delta + bloom blobs come from the same pass, counts from its
        stats (no read-back). A second job, on _POOL, ONLY at sub-round 0 when politeness
        scheduled future slices (written once, partitioned by due
        sub-round), and NO next-frontier rewrite: untouched depths AND
        not-yet-due slices carry over in the manifest by reference.
        Returns the deferred slices' manifest entries."""
        store, r = rnd.store, rnd.r
        if rnd.n_deferred > 0:
            rnd.deferred_write = _pool_submit(
                self.spark,
                self._write_bucketed, store, store.deferred_path(r), rnd.deferred, None, "due",
                rnd.n_deferred,
                group=rnd.group("defwrite"),
            )
        if new_rows is not None:
            self._filter_new(rnd, new_rows)
        if rnd.deferred_write is None:
            return []
        def_stats, _ = rnd.deferred_write.result()
        n_written = sum(s[2] for s in def_stats)
        # self-check: the manifest records arithmetic (pending - admitted);
        # the write stats come back for free — any divergence (e.g. a
        # future budget expression breaking admit/schedule complementarity)
        # must fail loudly, not corrupt n_pending_after / the done flag
        if n_written != rnd.n_deferred:
            raise AssertionError(
                f"deferred write produced {n_written} rows, expected {rnd.n_deferred}"
            )
        root = store.deferred_path(r)
        return [
            [self._rel(store, os.path.join(root, f"due={due}")), rnd.d, n, due, m]
            for due, (n, m) in sorted(_slice_totals(def_stats).items())
        ]

    def _finalize_verify(self, rnd: _Round) -> Optional[dict]:
        """Wait for this round's payload verify and return its stats for
        commit.json (None when the round verified nothing)."""
        if rnd.verify is None:
            return None
        stats = rnd.verify.result()
        return {k: (float(v) if v is not None else None) for k, v in stats.items()}

    def _next_manifest(self, rnd: _Round, sched_entries: List[list]) -> List[list]:
        """The pending frontier after this round: the manifest minus the
        consumed entries, plus the deferred slices and the new-URL set,
        compacted when a group outgrows cfg.frontier_compact_every."""
        consumed_ids = {id(e) for e in rnd.consumed}
        manifest = [e for e in rnd.manifest if id(e) not in consumed_ids] + sched_entries
        if rnd.n_new > 0:
            manifest.append(
                [self._rel(rnd.store, rnd.store.new_path(rnd.r)), rnd.d + 1, rnd.n_new, 0, rnd.new_mask]
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

    def _abandon(self, rnd: _Round) -> None:
        """A mid-round failure must not leak the round's in-flight pool
        jobs or cached frames: CANCEL their Spark jobs first — the verify
        is the round's longest job and an interrupt (Ctrl-C, timeout) must
        not block its own cleanup behind a full verify run — then drain
        them and release the caches; the futures' own outcomes are moot
        once the round failed."""
        for g in ("verify", "defwrite"):
            try:
                self.spark.sparkContext.cancelJobGroup(rnd.group(g))
            except Exception:  # pragma: no cover - cancellation is best-effort
                pass
        for fut in (rnd.verify, rnd.deferred_write):
            if fut is not None:
                try:
                    fut.result()
                except Exception:
                    pass
        for df_ in rnd.persisted:
            try:
                df_.unpersist()
            except Exception:
                pass

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
        for rr in store.committed_rounds():
            if rr > r:
                break
            if rr <= lo:
                continue  # folded into the compaction prefix
            info = store.read_commit(rr)
            if _seen_inserts(rr, info) > 0:
                p = store.seen_delta_path(rr)
                if not os.path.isdir(p):
                    raise ValueError(
                        f"seen_df_at: snapshot at round {r} has expired — "
                        f"round {rr}'s delta files were compacted and vacuumed"
                    )
                comps.append((rr, p))
            if info.get("tombstone", 0) > 0:
                p = store.tombstones_path(rr)
                if not os.path.isdir(p):
                    raise ValueError(
                        f"seen_df_at: snapshot at round {r} has expired — "
                        f"round {rr}'s delete files were vacuumed"
                    )
                tombs.append((rr, p))
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

        parts = []
        for r in store.committed_rounds():
            if r <= from_round:
                continue
            info = store.read_commit(r)
            if _seen_inserts(r, info) > 0:
                p = store.seen_delta_path(r)
                if not os.path.isdir(p):
                    raise ValueError(
                        f"seen_changes: round {r}'s insert files have expired "
                        "(compacted and vacuumed) — start from a later round"
                    )
                parts.append(read(p, r, "insert"))
            if info.get("tombstone", 0) > 0:
                p = store.tombstones_path(r)
                if not os.path.isdir(p):
                    raise ValueError(
                        f"seen_changes: round {r}'s delete files have expired "
                        "(compacted and vacuumed) — start from a later round"
                    )
                parts.append(read(p, r, "delete"))
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
