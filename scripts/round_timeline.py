"""Where a service crawl job's wall goes: Spark jobs or the driver.

Runs N fresh jobs of perfbench's `service_jobs` workload (its engine
config, seed picker and request, imported from perfbench/workloads.py, at
perfbench's Spark settings) after the workload's own warm-up, and prints
per job:

* wall_ms: submit + run_next;
* busy_ms: the union of the status store's job intervals inside the job;
* driver_ms: wall_ms - busy_ms, the time no Spark job was running;
* for each of FrontierEngine._schedule, _seed_round, compact_seen and
  client_payload: the Spark jobs run inside it (`<name>_jobs`) and the
  wall time spent in it (`<name>_ms`).

The job groups those counts come from are set here, by wrapping the four
methods; the engine itself sets none. The last line gives the medians.

Usage:

  python scripts/round_timeline.py [--jobs 5] [--seed 1]

The 40k-page corpus is perfbench's, built into perfbench/.cache (about
35 s) unless it is already there; everything else the run writes goes to
a temporary directory removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import harness  # noqa: E402
import workloads  # noqa: E402

GROUPED = ("_schedule", "_seed_round", "compact_seen", "client_payload")


def _grouping(sc, name, orig, spent):
    """`orig` with its Spark jobs tagged by job group `name` and its wall
    ms added to `spent[name]`; the caller's group is restored on return,
    so nested calls tag their own jobs."""

    def call(*a, **k):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", name)
        t0 = time.perf_counter()
        try:
            return orig(*a, **k)
        finally:
            spent[name] += (time.perf_counter() - t0) * 1000
            sc.setLocalProperty("spark.jobGroup.id", prev)

    return call


def _jobs(sc) -> list:
    """(submitted_ms, completed_ms, group) of every finished job in the
    status store, epoch milliseconds."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.submissionTime().isDefined() and j.completionTime().isDefined():
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            out.append((j.submissionTime().get().getTime(), j.completionTime().get().getTime(), group))
    return out


def _union_ms(intervals) -> int:
    busy, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            busy += e - s
            end = e
        elif e > end:
            busy += e - end
            end = e
    return busy


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--jobs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="round_timeline_")
    harness.prepare_env(work)
    from distributed_web_crawler_spark.plans.frontier import FrontierEngine

    wl = workloads.ServiceJobs(args.seed, work, corrupt=False)
    wl.prepare()
    spark = harness.spark_session(work, trace=False)
    rows = []
    try:
        sc = spark.sparkContext
        spent = dict.fromkeys(GROUPED, 0.0)
        for name in GROUPED:
            setattr(FrontierEngine, name, _grouping(sc, name, getattr(FrontierEngine, name), spent))
        wl.setup(spark)  # builds the engine and runs the warm-up job
        for _ in range(args.jobs):
            seed = wl._fresh_seed()
            spent.update(dict.fromkeys(GROUPED, 0.0))
            t0 = time.time() * 1000
            wl._request(seed)
            t1 = time.time() * 1000
            if wl.ops[-1]["cached"]:
                raise RuntimeError(f"{wl.ops[-1]['jid']} was served from the cache")
            inside = [j for j in _jobs(sc) if j[0] >= t0 and j[1] <= t1]
            busy = _union_ms((s, e) for s, e, _ in inside)
            per = [(sum(g == name for _, _, g in inside), round(spent[name])) for name in GROUPED]
            rows.append([round(t1 - t0), busy, round(t1 - t0) - busy, len(inside), *(v for p in per for v in p)])
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    head = ["wall_ms", "busy_ms", "driver_ms", "jobs"]
    head += [f"{g.lstrip('_')}_{u}" for g in GROUPED for u in ("jobs", "ms")]
    print(" ".join(["job", *head]))
    for n, row in enumerate(rows, 1):
        print(" ".join(str(v) for v in [f"job-{n}", *row]))
    print(" ".join(["median", *(f"{statistics.median(col):g}" for col in zip(*rows))]))


if __name__ == "__main__":
    main()
