"""Row-sized Python stages: a round's page pass (payload verify and link
extraction) and the seen compaction's write take their task count from a
row count the engine already holds (session.sized_tasks) — one task per
256 rows, at most 2× cores. The page pass runs in the stage that scans
the admitted frontier, with no exchange in front of it, so a bulk round
runs as the scan's own splits below that cap; the status store's task
counts of the stages that ran the pass check it."""

import os
import re

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.operators import components
from distributed_web_crawler_spark.plans.frontier import FRONTIER_SCHEMA, EngineConfig, FrontierEngine
from distributed_web_crawler_spark.session import ROWS_PER_TASK, sized_tasks
from distributed_web_crawler_spark.sources.corpus_source import build_corpus


def test_sized_tasks(spark):
    cap = 2 * spark.sparkContext.defaultParallelism
    assert sized_tasks(spark, 0) == sized_tasks(spark, 1) == 1
    assert sized_tasks(spark, ROWS_PER_TASK) == 1
    assert sized_tasks(spark, ROWS_PER_TASK + 1) == 2
    assert sized_tasks(spark, cap * ROWS_PER_TASK) == cap
    assert sized_tasks(spark, 10**12) == cap
    # connected_components' loop width goes through the same formula
    e = components.EDGES_PER_PARTITION
    assert [sized_tasks(spark, n, e) for n in (0, e, e + 1, 10**12)] == [1, 1, 2, cap]


def _stage_plans(spark, monkeypatch):
    """Spy on mapInPandas: {function name: [executed plan, ...]}."""
    DataFrame = type(spark.range(1))  # the concrete class, not the API base
    plans: dict = {}
    orig = DataFrame.mapInPandas

    def spy(self, func, *a, **k):
        df = orig(self, func, *a, **k)
        plans.setdefault(func.__name__, []).append(df._jdf.queryExecution().executedPlan().toString())
        return df

    monkeypatch.setattr(DataFrame, "mapInPandas", spy)
    return plans


def _status_store(spark):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _page_pass_stage_tasks(spark, after_job: int) -> list:
    """Task counts of the completed stages, of jobs after `after_job`,
    that run a MapInPandas (the page pass), from the status store's
    stage data and RDD operation graphs."""
    store = _status_store(spark)
    graph = spark.sparkContext._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    jobs = store.jobsList(None)
    stage_ids = set()
    for i in range(jobs.size()):
        if jobs.apply(i).jobId() > after_job:
            ids = jobs.apply(i).stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
    out = []
    for sid in sorted(stage_ids):
        stage = store.lastStageAttempt(sid)
        if stage.status().toString() != "COMPLETE":
            continue  # a skipped copy of a stage an earlier job ran
        if 'label="MapInPandas"' in graph.makeDotFile(store.operationGraphForStage(sid)):
            out.append(stage.numTasks())
    return out


def _last_job(spark) -> int:
    jobs = _status_store(spark).jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def _round_one(spark, tmp_path, corpus, seeds, monkeypatch):
    """Run a verifying job's first extracting round. Returns the task
    counts of the stages that ran its page pass, and the job's store."""
    spec, path = corpus
    plans = _stage_plans(spark, monkeypatch)
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec, EngineConfig()
    )
    eng.run_job("rs", seeds, 2, max_rounds=0)
    before = _last_job(spark)
    eng.run_job("rs", seeds, 2, max_rounds=1)
    c = eng.store("rs").read_commit(1)
    assert c["payload"]["n"] == c["n_admitted"] == len(seeds)
    (pages,) = plans["expand"]
    # the pass reads the frontier scan in its own stage: no exchange
    # below the MapInPandas
    assert "Exchange" not in pages.split("MapInPandas expand(", 1)[1], pages
    return _page_pass_stage_tasks(spark, before), eng.store("rs")


def test_one_seed_round_runs_few_tasks(spark, corpus_1k, tmp_path, monkeypatch):
    spec, _ = corpus_1k
    stage_tasks, _ = _round_one(
        spark, tmp_path, corpus_1k, [C.url_of(3, spec)], monkeypatch
    )
    # one task: the fused write repartitions by its own keys, so a
    # 1-partition page pass does not absorb the write's exchange
    # (test_new_url_path_has_one_exchange)
    assert stage_tasks == [1]


def test_bulk_round_keeps_the_cap(spark, tmp_path_factory, tmp_path, monkeypatch):
    cap = 2 * spark.sparkContext.defaultParallelism
    n = cap * ROWS_PER_TASK
    spec = C.CorpusSpec(n=n + 16)
    path = str(tmp_path_factory.mktemp("corpus_bulk") / "corpus")
    build_corpus(spark, spec, path)
    seeds = [C.url_of(i, spec) for i in range(n)]
    stage_tasks, store = _round_one(spark, tmp_path, (spec, path), seeds, monkeypatch)
    # the pass runs as the seed frontier's scan splits, never more than
    # the cap
    splits = spark.read.schema(FRONTIER_SCHEMA).parquet(store.new_path(0)).rdd.getNumPartitions()
    assert 1 < splits
    assert stage_tasks == [min(cap, splits)]


def test_compact_seen_writes_one_file_per_bucket_from_few_tasks(spark, corpus_1k, tmp_path):
    spec, path = corpus_1k
    nb = 16
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec,
        EngineConfig(seen_buckets=nb, compact_seen_every=None),
    )
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3)
    n_seen = eng.run_job("cs", C.url_of(seed_i, spec), 3)["n_seen"]
    want_tasks = sized_tasks(spark, n_seen)
    assert want_tasks < nb
    live = {r["seen_bucket"] for r in eng.seen_df("cs").select("seen_bucket").distinct().collect()}
    assert len(live) > want_tasks  # several buckets share a task

    assert eng.compact_seen("cs")["compacted"]
    (root,) = eng.store("cs").seen_paths()
    files = {
        d: [f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")]
        for d in os.listdir(root)
        if d.startswith("seen_bucket=")
    }
    assert {int(d.split("=")[1]) for d in files} == live
    assert all(len(fs) == 1 for fs in files.values()), files
    # a part file's name carries the index of the task that wrote it
    tasks = {int(re.match(r"part-(\d+)-", fs[0]).group(1)) for fs in files.values()}
    assert tasks <= set(range(want_tasks)), tasks
