"""Per-layer measurement from outside the program (--trace 1).

Two sources, both kept in memory and folded when the run ends:

1. Spark's own task counters. The session writes a plain JSON event log;
   every SparkListenerTaskEnd is folded into the layer GROUP of the job that
   ran it. A pool-thread job carries the engine's own spark.jobGroup.id
   (`verify:…`, `defwrite:…`). Every other job is tagged with the local
   property `perfbench.group`, set by the wrappers below on the thread that
   submits it. (A job's Python call site cannot be used for this: only
   DataFrame.collect() sets one — count(), write and localCheckpoint jobs
   arrive with "NativeMethodAccessorImpl.java:0".)
2. Timed spans around the layers' public methods (catalog.tables,
   plans.ledger, FrontierEngine.run_job/compact_seen and the round loop),
   installed by monkeypatching the classes in this process only.

Only jobs submitted inside the measured window count; a job that no wrapper
tagged is reported through spark.unattributed_share.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from typing import Dict, List, Optional

PROP = "perfbench.group"
GROUPS = ["seed", "admit", "verify", "round_write", "deferred_write", "compact", "job_end", "slices"]
GROUP_METRICS = [
    ("jobs", "count"),
    ("executor_run_ms", "ms"),
    ("executor_cpu_ms", "ms"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("task_skew", "ratio"),
    ("py_run_ms", "ms"),
    ("py_boot_ms", "ms"),
]
# engine methods -> group of the Spark jobs they submit
ENGINE_GROUPS = {
    "run_job": "job_end",
    "client_payload": "job_end",
    "_seed_round": "seed",
    "_run_round": "admit",
    "_filter_new": "round_write",
    "_write_bucketed": "round_write",
    "_verify_stats": "verify",
    "_finalize_verify": "verify",
    "_compact_manifest": "compact",
    "compact_seen": "compact",
}


OVERRIDABLE = (None, "job_end", "admit")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: Dict[str, List[float]] = defaultdict(list)
        self.rounds: List[tuple] = []  # (wall_ms, n_admitted, n_new)
        self.job_end_ms: List[float] = []
        self._last_inner_end = threading.local()
        self.window = (None, None)
        self._undo: List[tuple] = []

    # ------------------------------------------------------------ wrappers
    def _patch(self, owner, name: str, wrapper) -> None:
        # a method a refactor removed or renamed fails the run: silently
        # skipping it would fold its jobs into spark.unattributed_share
        orig = getattr(owner, name)
        self._undo.append((owner, name, orig))
        setattr(owner, name, functools.wraps(orig)(wrapper(orig)))

    def _tagged(self, group: Optional[str], span: Optional[str]):
        sc, spans = self.sc, self.spans

        def wrap(orig):
            def call(*a, **k):
                prev = sc.getLocalProperty(PROP) if group else None
                # the catch-all groups of the enclosing round / job yield to
                # a more specific inner one; the others are kept (the seed
                # round's write is seed work, not round_write)
                tag = group if prev in OVERRIDABLE else prev
                if group:
                    sc.setLocalProperty(PROP, tag)
                t0 = time.perf_counter()
                try:
                    return orig(*a, **k)
                finally:
                    if span:
                        spans[span].append((time.perf_counter() - t0) * 1000)
                    if group:
                        sc.setLocalProperty(PROP, prev)

            return call

        return wrap

    def install(self) -> None:
        from distributed_web_crawler_spark.catalog import tables
        from distributed_web_crawler_spark.plans import frontier, ledger

        E = frontier.FrontierEngine
        for name, group in ENGINE_GROUPS.items():
            if name in ("run_job", "_run_round"):
                continue
            span = {"_seed_round": "frontier.seed", "compact_seen": "catalog.compact_seen"}.get(name)
            self._patch(E, name, self._tagged(group, span))
        self._patch(E, "_run_round", self._round_wrapper)
        self._patch(E, "run_job", self._job_wrapper)
        self._patch(tables.JobStateStore, "commit_round", self._tagged(None, "catalog.commit"))
        for cls, prefix, names in (
            (ledger.JobLedger, "ledger", ("submit", "acquire", "complete")),
            (ledger.JobCache, "cache", ("get", "put_if_deeper")),
        ):
            for name in names:
                self._patch(cls, name, self._tagged(None, f"{prefix}.{name}"))
        self._patch(ledger.CrawlService, "run_next", self._tagged("job_end", None))
        self._patch(frontier, "_pool_submit", self._pool_wrapper)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo = []

    def _round_wrapper(self, orig):
        inner = self._tagged(ENGINE_GROUPS["_run_round"], None)(orig)

        def call(*a, **k):
            t0 = time.perf_counter()
            stats = inner(*a, **k)
            t1 = time.perf_counter()
            self.rounds.append(((t1 - t0) * 1000, int(stats.n_admitted), int(stats.n_new)))
            self._last_inner_end.t = t1
            return stats

        return call

    def _job_wrapper(self, orig):
        inner = self._tagged(ENGINE_GROUPS["run_job"], None)(orig)

        def call(*a, **k):
            self._last_inner_end.t = None
            out = inner(*a, **k)
            t1 = time.perf_counter()
            last = getattr(self._last_inner_end, "t", None)
            if out.get("done") and last is not None:
                self.job_end_ms.append((t1 - last) * 1000)
            return out

        return call

    def _pool_wrapper(self, orig):
        sc = self.sc

        def submit(spark, fn, *args, group=None):
            tag = sc.getLocalProperty(PROP)

            def run(*a):
                sc.setLocalProperty(PROP, tag)
                return fn(*a)

            return orig(spark, run, *args, group=group)

        return submit

    # ------------------------------------------------------------ window
    def begin(self) -> None:
        self.spans.clear()
        self.rounds.clear()
        self.job_end_ms.clear()
        self.window = (time.time() * 1000, None)

    def end(self) -> None:
        self.window = (self.window[0], time.time() * 1000)

    # ------------------------------------------------------------ fold
    def span_metrics(self) -> Dict[str, float]:
        """The wrapped layers' figures over the measured window."""
        r_ms = [r[0] for r in self.rounds]
        out = {
            "frontier.rounds": len(self.rounds),
            "frontier.urls_admitted": sum(r[1] for r in self.rounds),
            "frontier.urls_new": sum(r[2] for r in self.rounds),
            "frontier.seed_ms": _p50(self.spans["frontier.seed"]),
            "frontier.round_ms_p50": _p50(r_ms),
            "frontier.round_ms_max": max(r_ms) if r_ms else 0.0,
            "frontier.job_end_ms": _p50(self.job_end_ms),
            "catalog.commit_ms": sum(self.spans["catalog.commit"]),
            "catalog.commits": len(self.spans["catalog.commit"]),
            "catalog.compact_seen_ms": sum(self.spans["catalog.compact_seen"]),
            "catalog.compact_seen_runs": len(self.spans["catalog.compact_seen"]),
        }
        for span, name in LEDGER_SPANS.items():
            out[name] = _p50(self.spans[span])
        return out

    def spark_metrics(self, event_dir: str) -> Dict[str, float]:
        """Spark task counters of the measured window, folded by group.
        Read after the session stopped (the event log is complete then)."""
        groups, total_run = fold_event_log(event_dir, self.window)
        out: Dict[str, float] = {}
        attributed = 0.0
        for g in GROUPS:
            agg = groups.get(g, {})
            for m, _unit in GROUP_METRICS:
                out[f"spark.{g}.{m}"] = agg.get(m, 0.0)
            attributed += agg.get("executor_run_ms", 0.0)
        out["spark.total_executor_run_ms"] = total_run
        out["spark.unattributed_share"] = (total_run - attributed) / total_run if total_run else 0.0
        return out


def _p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


LEDGER_SPANS = {
    "ledger.submit": "ledger.submit_ms_p50",
    "ledger.acquire": "ledger.acquire_ms_p50",
    "ledger.complete": "ledger.complete_ms_p50",
    "cache.get": "cache.get_ms_p50",
    "cache.put_if_deeper": "cache.put_ms_p50",
}
# (name, unit) of every metric this module reports, in report order
LAYER_METRICS = (
    [
        ("frontier.rounds", "count"),
        ("frontier.urls_admitted", "count"),
        ("frontier.urls_new", "count"),
        ("frontier.seed_ms", "ms"),
        ("frontier.round_ms_p50", "ms"),
        ("frontier.round_ms_max", "ms"),
        ("frontier.job_end_ms", "ms"),
        ("catalog.commit_ms", "ms"),
        ("catalog.commits", "count"),
        ("catalog.compact_seen_ms", "ms"),
        ("catalog.compact_seen_runs", "count"),
    ]
    + [(name, "ms") for name in LEDGER_SPANS.values()]
    + [(f"spark.{g}.{m}", unit) for g in GROUPS for m, unit in GROUP_METRICS]
    + [("spark.total_executor_run_ms", "ms"), ("spark.unattributed_share", "share")]
)


def _group_of(props: dict) -> Optional[str]:
    jg = props.get("spark.jobGroup.id") or ""
    if jg.startswith("verify:"):
        return "verify"
    if jg.startswith("defwrite:"):
        return "deferred_write"
    return props.get(PROP)


def fold_event_log(event_dir: str, window) -> tuple:
    """{group: {metric: value}}, total executor run ms of the window."""
    lo, hi = window
    files = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    stage_group: Dict[int, str] = {}
    jobs: Dict[str, int] = defaultdict(int)
    acc: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    durations: Dict[str, List[float]] = defaultdict(list)
    total_run = 0.0
    for path in files:
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    e = json.loads(line)
                    if not (lo <= e.get("Submission Time", 0) <= (hi or float("inf"))):
                        continue
                    g = _group_of(e.get("Properties") or {}) or "_unattributed"
                    jobs[g] += 1
                    for s in e.get("Stage IDs", []):
                        stage_group.setdefault(s, g)
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    e = json.loads(line)
                    g = stage_group.get(e.get("Stage ID"))
                    if g is None:
                        continue
                    tm = e.get("Task Metrics") or {}
                    info = e.get("Task Info") or {}
                    run = float(tm.get("Executor Run Time", 0))
                    total_run += run
                    a = acc[g]
                    a["executor_run_ms"] += run
                    a["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    a["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    durations[g].append(float(info.get("Finish Time", 0) - info.get("Launch Time", 0)))
                    for u in info.get("Accumulables") or []:
                        name = u.get("Name")
                        if name == "time to run Python workers":
                            a["py_run_ms"] += float(u.get("Update", 0))
                        elif name in ("time to start Python workers", "time to initialize Python workers"):
                            a["py_boot_ms"] += float(u.get("Update", 0))
    out: Dict[str, Dict[str, float]] = {}
    for g in set(jobs) | set(acc):
        d = dict(acc.get(g, {}))
        d["jobs"] = jobs.get(g, 0)
        ds = durations.get(g, [])
        med = _p50(ds)
        d["task_skew"] = max(ds) / med if med > 0 else 0.0
        out[g] = d
    return out, total_run
