"""The benchmark's workloads and the metrics each one reports.

Every workload has the same life cycle, driven by run():

  prepare()          untimed, excluded from setup_s (the pinned corpus build)
  setup(spark)       opening the data + one untimed warm pass of its own path
  measure(seconds)   repeat the workload's operation until `seconds` have
                     passed (operator_slices: and at least MIN_OPS passes)
  check()            outside the timed region: compare every measured
                     operation's output with its oracle

End-to-end metrics (--trace 0), reported by every workload:

  setup_s            Spark session start + opening the data + warm pass
  latency_ms         wall time of one operation: the median frontier drain
                     (bulk_drain), the median fresh client job from submit
                     to result (service_jobs), the geometric mean over
                     slices of each slice's median (operator_slices)
  throughput_per_s   URLs admitted per second of drain wall (bulk_drain),
                     client requests served per second, fresh and cached
                     (service_jobs), slices per second of a pass
                     (operator_slices)

Per-layer metrics (--trace 1) are the same for every workload (0 where the
workload does not reach the layer): layers.Tracer's layer table plus the
workload-level figures named in HEADLINE.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import statistics
import time
import traceback

import harness

CORPUS_N = 40_000
SLICE_DATA = os.path.join(harness.HERE, "data", "sf0.001")
SLICE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# the four round-9 suspects, then one slice each of operators.politeness,
# .robots, .skew and .packing. The graph, components and multimodal slices
# cost 1.5-8 s each at this size and do not fit the run budget.
SLICES = [
    "tfidf_top_terms", "ann_topk", "doc_fingerprint", "embedding_topk",
    "politeness_window", "robots_filter", "salted_host_agg", "sequence_pack",
]
HEADLINE = [
    ("urls_per_s", "1/s"),
    ("job_latency_p50_s", "s"),
    ("cache_hit_latency_p50_ms", "ms"),
    ("slices_total_s", "s"),
    ("slices_geomean_ms", "ms"),
    ("traced.latency_ms", "ms"),
    ("peak_rss_mb", "MB"),
]


def p50(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    def __init__(self, seed: int, work: str, corrupt: bool):
        self.seed = seed
        self.work = work
        self.corrupt = corrupt
        self.failed = 0
        self.traffic: dict = {}

    def prepare(self) -> None:
        pass

    def _fail(self, what: str) -> None:
        self.failed += 1
        harness.log(f"perfbench: FAILED {what}")

    def _check_payloads(self, eng, jid: str) -> None:
        """Every admitted page of every round was fetched and passed the
        pixel, phash and caption checks (the fixture's pages all do)."""
        store = eng.store(jid)
        unverified = eng.unverified_rounds(jid)
        if unverified:
            self._fail(f"{jid}: rounds {unverified} admitted pages but were never verified")
            return
        for r, s in sorted(eng.payload_stats(jid).items()):
            n_admitted = store.read_commit(r).get("n_admitted", 0)
            counts = [s["n"], s["n_pixels_ok"], s["n_phash_ok"], s["n_caption_ok"]]
            if counts != [n_admitted] * 4:
                self._fail(f"{jid} round {r}: admitted {n_admitted}, verified / pixels / phash / caption ok {counts}")
                return


class _CorpusWorkload(Workload):
    def prepare(self) -> None:
        from distributed_web_crawler_spark.fixtures.corpus import CorpusSpec

        self.spec = CorpusSpec(n=CORPUS_N)
        self.corpus = os.path.join(harness.CACHE, f"corpus_{CORPUS_N}")
        build_s = harness.ensure_corpus(self.spec, self.corpus, self.work)
        if build_s:
            harness.log(f"perfbench: built corpus n={CORPUS_N} in {build_s:.1f}s (excluded from setup_s)")


class BulkDrain(_CorpusWorkload):
    """One large multi-seed frontier drained to depth 2, politeness off,
    Bloom + payload verify (pipelined) on: BASELINE.json's headline path."""

    N_SEEDS = 8_000
    DEPTH = 2

    def setup(self, spark) -> None:
        from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine

        self.eng = FrontierEngine(
            spark,
            os.path.join(self.work, "wh"),
            self.corpus,
            self.spec,
            EngineConfig(use_bloom=True, verify_payloads=True, pipeline_verify=True, detailed_metrics=False),
        )
        self.ops = []
        self._drain("warm")

    def _drain(self, k):
        from distributed_web_crawler_spark.fixtures.corpus import url_of

        idx = sorted(random.Random(f"{self.seed}:bulk:{k}").sample(range(self.spec.n), self.N_SEEDS))
        seeds = [url_of(i, self.spec) for i in idx]
        jid = f"bulk-{k}"
        self.eng.run_job(jid, seeds, self.DEPTH, max_rounds=0)  # seed commit: not drain work
        os.sync()
        rounds: list = []
        t0 = time.perf_counter()
        self.eng.run_job(jid, seeds, self.DEPTH, on_round=rounds.append)
        return {"jid": jid, "idx": idx, "rounds": rounds, "s": time.perf_counter() - t0}

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        self.ops.append(self._drain(0))
        while time.perf_counter() - t0 < seconds:
            self.ops.append(self._drain(len(self.ops)))

    def check(self) -> None:
        import oracle

        for op in self.ops:
            pdf = self.eng.seen_df(op["jid"]).select("url", "depth").toPandas()
            got = oracle.seen_digest(zip(pdf["url"], pdf["depth"].astype(int)))
            seen, schedule = oracle.drain_oracle(op["idx"], self.DEPTH, self.spec)
            want = oracle.seen_digest(seen.items())
            if self.corrupt:
                want = oracle.corrupt(want)
            if got != want:
                self._fail(f"{op['jid']}: seen digest {got[:12]} != oracle {want[:12]}")
            elif oracle.schedule_of(op["rounds"]) != schedule:
                self._fail(f"{op['jid']}: admitted per (depth, sub-round) {oracle.schedule_of(op['rounds'])} != {schedule}")
            else:
                self._check_payloads(self.eng, op["jid"])
        self.traffic = {
            "drains": len(self.ops),
            "rounds_per_drain": [len(op["rounds"]) for op in self.ops],
            "urls_per_round": [[int(r.n_admitted) for r in op["rounds"]] for op in self.ops],
            "drain_s": [round(op["s"], 3) for op in self.ops],
        }

    @property
    def attempted(self) -> int:
        return len(self.ops)

    def _urls(self):
        return sum(int(r.n_admitted) for op in self.ops for r in op["rounds"])

    def e2e(self) -> dict:
        return {
            "latency_ms": p50([op["s"] for op in self.ops]) * 1000,
            "throughput_per_s": self._urls() / sum(op["s"] for op in self.ops),
        }

    def headline(self) -> dict:
        return {"urls_per_s": self.e2e()["throughput_per_s"]}


class ServiceJobs(_CorpusWorkload):
    """A closed loop of one client and one CrawlService: small single-seed
    depth-3 jobs, submit -> run_next, every second request repeating an
    earlier seed so JobCache serves it. Politeness, robots and seen
    compaction are on, so this workload also carries the admission layer."""

    DEPTH = 3

    def setup(self, spark) -> None:
        from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy, RobotsPolicy
        from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
        from distributed_web_crawler_spark.plans.ledger import CrawlService, JobCache, JobLedger

        self.politeness = PolitenessPolicy(round_duration_ms=4000)
        self.robots = RobotsPolicy()
        wh = os.path.join(self.work, "wh")
        eng = FrontierEngine(
            spark,
            wh,
            self.corpus,
            self.spec,
            EngineConfig(
                politeness=self.politeness,
                robots=self.robots,
                use_bloom=True,
                verify_payloads=True,
                detailed_metrics=False,
                # a job of 3 depths commits 3 seen deltas: merge them in
                # every job so the compaction path is measured
                compact_seen_every=2,
            ),
        )
        self.svc = CrawlService(engine=eng, ledger=JobLedger(wh), cache=JobCache(wh))
        self._rng = random.Random(f"{self.seed}:service")
        self._used: set = set()
        self._n = 0
        self.ops = []
        warm = self._fresh_seed()
        self._request(warm)
        self._request(warm)
        self._warm = warm
        self.ops = []

    # (depth, sub-round) of every round of a fresh job: one politeness
    # deferral, at the last depth. A deferral at depth 1 adds an extracting
    # round instead and measured ~20% slower, so it is not drawn.
    SHAPE = [(0, 0), (1, 0), (2, 0), (2, 1)]

    def _fresh_seed(self) -> int:
        """A seed whose oracle crawl has SHAPE and 20-49 URLs: every fresh
        job does comparable work."""
        from distributed_web_crawler_spark.oracle.crawler import crawl

        while True:
            i = self._rng.randrange(self.spec.n)
            if i in self._used:
                continue
            res = crawl(i, self.DEPTH, self.spec, self.politeness, self.robots)
            if [(d, s) for d, s, _ in res.schedule] == self.SHAPE and 20 <= len(res.seen) < 50:
                self._used.add(i)
                return i

    def _request(self, i: int) -> None:
        from distributed_web_crawler_spark.fixtures.corpus import url_of

        jid = f"job-{self._n}"
        self._n += 1
        t0 = time.perf_counter()
        self.svc.submit(jid, "client-0", url_of(i, self.spec), self.DEPTH)
        out = self.svc.run_next(owner="m1")
        self.ops.append(
            {"jid": jid, "i": i, "s": time.perf_counter() - t0, "cached": bool(out["from_cache"]), "results": out["results"]}
        )

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        done = [self._warm]
        while True:
            fresh = self._fresh_seed()
            self._request(fresh)
            done.append(fresh)
            self._request(self._rng.choice(done))
            if time.perf_counter() - t0 >= seconds:
                break

    def check(self) -> None:
        from distributed_web_crawler_spark.oracle.crawler import crawl

        for n, op in enumerate(self.ops):
            want = crawl(op["i"], self.DEPTH, self.spec, self.politeness, self.robots).levels_sorted()
            if self.corrupt:
                want[0] = want[0] + ["http://corrupt.test/p/0"]
            if op["results"] != want:
                self._fail(f"request {n} (seed {op['i']}, cached={op['cached']}): results differ from oracle")
            if op["cached"] != (n % 2 == 1):
                self._fail(f"request {n}: cached={op['cached']}, expected {n % 2 == 1}")
            elif not op["cached"]:
                self._check_payloads(self.svc.engine, op["jid"])
        self.traffic = {
            "requests": len(self.ops),
            "cache_hit_share": sum(op["cached"] for op in self.ops) / len(self.ops),
            "urls_per_job": [sum(map(len, op["results"])) for op in self.ops],
            "request_s": [round(op["s"], 4) for op in self.ops],
        }

    @property
    def attempted(self) -> int:
        return len(self.ops)

    def _lat(self, cached: bool):
        return [op["s"] for op in self.ops if op["cached"] == cached]

    def e2e(self) -> dict:
        return {
            "latency_ms": p50(self._lat(False)) * 1000,
            "throughput_per_s": len(self.ops) / sum(op["s"] for op in self.ops),
        }

    def headline(self) -> dict:
        return {
            "job_latency_p50_s": p50(self._lat(False)),
            "cache_hit_latency_p50_ms": p50(self._lat(True)) * 1000,
        }


class OperatorSlices(Workload):
    """Operator slices from queries.bench_queries() over the sf0.001 tables
    in perfbench/data; touches no engine code."""

    def setup(self, spark) -> None:
        from distributed_web_crawler_spark.queries import bench_queries

        self.spark = spark
        # the traced run folds these jobs into spark.slices.* (layers.py)
        spark.sparkContext.setLocalProperty("perfbench.group", "slices")
        registry = bench_queries()
        self.fns = {n: registry[n] for n in SLICES}
        self._rng = random.Random(f"{self.seed}:slices")
        self.times: dict = {n: [] for n in self.fns}
        self.last: dict = {}
        self._pass()
        self.times = {n: [] for n in self.fns}

    def _pass(self) -> None:
        order = sorted(self.fns)
        self._rng.shuffle(order)
        for name in order:
            t0 = time.perf_counter()
            self.last[name] = self.fns[name](self.spark, SLICE_DATA).toPandas()
            self.times[name].append(time.perf_counter() - t0)
            self.spark.catalog.clearCache()

    # single slices jitter by 10-20% between passes: time at least two
    MIN_OPS = 2

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        passes = 0
        while time.perf_counter() - t0 < seconds or passes < self.MIN_OPS:
            self._pass()
            passes += 1

    def check(self) -> None:
        import duckdb

        import oracle
        from distributed_web_crawler_spark.queries import oracle_sql, queries

        plain, sqls = queries(), oracle_sql()
        con = duckdb.connect()
        for t in SLICE_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SLICE_DATA}/{t}.parquet'")
        self.checked = []
        for name, pdf in sorted(self.last.items()):
            # only where the timed function IS the oracle-checked registry
            # entry (bench_queries' per-layout variants have no oracle)
            if plain.get(name) is not self.fns[name] or name not in sqls:
                continue
            self.checked.append(name)
            want = con.sql(sqls[name]).fetchdf()
            ok = sorted(pdf.columns) == sorted(want.columns) and len(pdf) == len(want)
            got_h, want_h = (oracle.canon_hash(pdf), oracle.canon_hash(want)) if ok else ("", "x")
            if self.corrupt:
                want_h = oracle.corrupt(want_h)
            if got_h != want_h:
                self.failed += len(self.times[name])
                harness.log(f"perfbench: FAILED slice {name}: rows {len(pdf)}/{len(want)}")
        con.close()
        self.traffic = {
            "passes": len(next(iter(self.times.values()))),
            "rows": {n: len(pdf) for n, pdf in sorted(self.last.items())},
            "oracle_checked": self.checked,
            "slice_s": {n: [round(t, 4) for t in ts] for n, ts in sorted(self.times.items())},
        }

    @property
    def attempted(self) -> int:
        return sum(len(ts) for ts in self.times.values())

    def _medians(self):
        return {n: p50(ts) for n, ts in self.times.items()}

    def e2e(self) -> dict:
        med = self._medians()
        return {
            "latency_ms": math.exp(statistics.fmean(math.log(v * 1000) for v in med.values())),
            "throughput_per_s": len(med) / sum(med.values()),
        }

    def headline(self) -> dict:
        med = self._medians()
        out = {
            "slices_total_s": sum(med.values()),
            "slices_geomean_ms": self.e2e()["latency_ms"],
        }
        out.update({f"slice.{n}_s": med.get(n, 0.0) for n in SLICES})
        return out


WORKLOADS = {
    "bulk_drain": BulkDrain,
    "service_jobs": ServiceJobs,
    "operator_slices": OperatorSlices,
}


def per_layer_names() -> list:
    """(name, unit) of every per-layer metric, in report order."""
    import layers

    names = list(layers.LAYER_METRICS)
    names += HEADLINE
    names += [(f"slice.{n}_s", "s") for n in SLICES]
    return names


def run(name: str, seed: int, seconds: float, trace: bool, work: str, corrupt: bool) -> dict:
    import layers

    wl = WORKLOADS[name](seed, work, corrupt)
    wl.prepare()
    t0 = time.perf_counter()
    spark = harness.spark_session(work, trace)
    session_s = time.perf_counter() - t0
    tracer = None
    layer = {}
    try:
        if trace:
            tracer = layers.Tracer(spark)
            tracer.install()
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        harness.log(f"perfbench: session {session_s:.2f}s, setup {setup_s:.2f}s")
        if tracer:
            tracer.begin()
        t1 = time.perf_counter()
        rss = harness.RssSampler() if trace else contextlib.nullcontext()
        with rss:
            wl.measure(seconds)
        harness.log(f"perfbench: measured {time.perf_counter() - t1:.2f}s")
        if tracer:
            tracer.end()
            layer = tracer.span_metrics()
        try:
            wl.check()
        except Exception:
            traceback.print_exc()
            wl._fail("output check raised")
    finally:
        if tracer:
            tracer.uninstall()
        harness.stop_spark(spark)
    harness.log("perfbench traffic: " + repr(wl.traffic))

    def metric(value, unit):
        return {"value": float(value), "unit": unit}

    if trace:
        layer.update(tracer.spark_metrics(os.path.join(work, "events")))
        headline = dict(wl.headline())
        headline["traced.latency_ms"] = wl.e2e()["latency_ms"]
        headline["peak_rss_mb"] = rss.peak_mb
        metrics = {}
        for n, unit in per_layer_names():
            metrics[n] = metric(layer.get(n, headline.get(n, 0.0)), unit)
    else:
        e2e = wl.e2e()
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "latency_ms": metric(e2e["latency_ms"], "ms"),
            "throughput_per_s": metric(e2e["throughput_per_s"], "1/s"),
        }
    return {
        "correct": wl.failed == 0,
        "attempted": int(wl.attempted),
        "failed": int(min(wl.failed, max(wl.attempted, 1))),
        "metrics": metrics,
    }
