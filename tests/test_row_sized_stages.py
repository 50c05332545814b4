"""Row-sized Python stages: the exchanges in front of a round's payload
verify and link extraction, and the seen compaction's write, take their
task count from a row count the engine already holds
(session.sized_tasks) — one task per 256 rows, 2× cores for a bulk round —
and each round's commit records the counts it ran with."""

import os
import re

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.operators import components
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
from distributed_web_crawler_spark.session import ROWS_PER_TASK, sized_tasks
from distributed_web_crawler_spark.sources.corpus_source import build_corpus

# the stage's own input exchange, first below it in the executed plan (a
# 1-partition repartition plans as SinglePartition)
_EXCHANGE = re.compile(
    r"Exchange (SinglePartition|hashpartitioning\(image_id#\d+L?, (\d+)\)"
    r"|RoundRobinPartitioning\((\d+)\))"
)


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


def _input_partitions(plan: str) -> int:
    m = _EXCHANGE.search(plan)
    assert m, plan
    return int(m.group(2) or m.group(3) or 1)


def _round_one(spark, tmp_path, corpus, seeds, monkeypatch):
    spec, path = corpus
    plans = _stage_plans(spark, monkeypatch)
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec, EngineConfig(verify_payloads=True)
    )
    eng.run_job("rs", seeds, 2, max_rounds=1)
    c = eng.store("rs").read_commit(1)
    assert c["payload"]["n"] == c["n_admitted"] == len(seeds)
    verify, extract = plans["verify"], plans["expand"]
    assert len(verify) == len(extract) == 1, plans
    return c["phases"], _input_partitions(verify[0]), _input_partitions(extract[0])


def test_one_seed_round_runs_few_tasks(spark, corpus_1k, tmp_path, monkeypatch):
    spec, _ = corpus_1k
    phases, verify_n, extract_n = _round_one(
        spark, tmp_path, corpus_1k, [C.url_of(3, spec)], monkeypatch
    )
    # one task each: the fused write repartitions by its own keys, so a
    # 1-partition extract no longer absorbs the write's exchange
    # (test_new_url_path_has_one_exchange)
    assert (verify_n, extract_n) == (1, 1)
    assert (phases["verify_tasks"], phases["extract_tasks"]) == (1, 1)


def test_bulk_round_keeps_the_cap(spark, tmp_path_factory, tmp_path, monkeypatch):
    cap = 2 * spark.sparkContext.defaultParallelism
    n = cap * ROWS_PER_TASK
    spec = C.CorpusSpec(n=n + 16)
    path = str(tmp_path_factory.mktemp("corpus_bulk") / "corpus")
    build_corpus(spark, spec, path, slices=8)
    seeds = [C.url_of(i, spec) for i in range(n)]
    phases, verify_n, extract_n = _round_one(spark, tmp_path, (spec, path), seeds, monkeypatch)
    assert verify_n == extract_n == cap
    assert phases["verify_tasks"] == phases["extract_tasks"] == cap


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
