"""pagerank() semantics: hand-computed tiny graph, dangling handling,
cache release (IterationState discipline shared with bfs)."""

from distributed_web_crawler_spark.operators.bfs import release_checkpoint
from distributed_web_crawler_spark.operators.pagerank import pagerank


def _collect_release(df):
    """Collect a checkpointed result and release its blocks — leaving them
    to the GC-timed ContextCleaner makes OTHER tests' persistent-RDD
    accounting flaky (order-dependent failure found by review)."""
    rows = df.collect()
    release_checkpoint(df)
    return rows


def test_matches_hand_computation(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    got = {r["url"]: r["rank"] for r in _collect_release(pagerank(edges, n_iters=2, damping=0.85))}
    r = {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}
    for _ in range(2):
        base = 0.15 / 3
        inflow = {"b": r["a"] / 2, "c": r["a"] / 2 + r["b"], "a": r["c"]}
        r = {v: base + 0.85 * inflow.get(v, 0.0) for v in "abc"}
    assert got.keys() == r.keys()
    for v in r:
        assert abs(got[v] - r[v]) < 1e-12


def test_dangling_mass_drops_and_sink_nodes_keep_base(spark):
    # b is a sink (no out-edges): its mass vanishes, it still receives
    # inflow; a node with no in-edges bottoms out at (1-d)/N
    edges = spark.createDataFrame([("a", "b"), ("c", "b")], ["src", "dst"])
    got = {r["url"]: r["rank"] for r in _collect_release(pagerank(edges, n_iters=3, damping=0.85))}
    base = 0.15 / 3
    assert abs(got["a"] - base) < 1e-12  # no in-edges after iter 1
    assert abs(got["c"] - base) < 1e-12
    assert got["b"] > got["a"]


def test_iteration_state_releases_caches(spark):
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    edges = spark.createDataFrame(
        [(f"u{i}", f"u{(i * 7 + 1) % 20}") for i in range(20)], ["src", "dst"]
    )
    out = pagerank(edges, n_iters=12, checkpoint_every=4)
    assert out.count() == 20
    new_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before
    assert len(new_ids) <= 1  # only the returned checkpoint remains
    release_checkpoint(out)
    assert not (set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before)


def test_empty_edges(spark):
    out = pagerank(spark.createDataFrame([], "src string, dst string"), n_iters=3)
    assert out.collect() == []
    assert out.columns == ["url", "rank"]


def test_iteration_scores_absent_sources_at_base(spark):
    """r9b/r9c support-set iteration: a src missing from the inflow frame
    has no in-edges, so its rank is exactly base — the score-side left
    join + inline rank·w product must reproduce what the old
    full-rank-frame assembly computed for it."""
    import pytest

    from distributed_web_crawler_spark.operators.pagerank import (
        iteration_contribs,
        iteration_scores,
        pagerank,
    )

    edges = spark.createDataFrame([("a", "b"), ("c", "b")], ["src", "dst"])
    wframe = spark.createDataFrame([("a", 1.0), ("c", 1.0)], "src string, w double")
    inflow = spark.createDataFrame([("a", 0.2)], "dst string, inflow double")  # c absent
    scores = {r["src"]: r["rankw"] for r in iteration_scores(wframe, inflow, 0.05, 0.85).collect()}
    # rank(a) = 0.05 + 0.85*0.2 = 0.22, rank(c) = base = 0.05; both w=1
    assert abs(scores["a"] - 0.22) < 1e-15 and abs(scores["c"] - 0.05) < 1e-15
    out = {
        r["dst"]: r["inflow"]
        for r in iteration_contribs(
            edges, iteration_scores(wframe, inflow, 0.05, 0.85)
        ).collect()
    }
    assert abs(out["b"] - (0.22 + 0.05)) < 1e-15
    assert set(out) == {"b"}

    with pytest.raises(ValueError, match="n_iters"):
        pagerank(edges, n_iters=0)


def test_raising_calls_leave_no_persisted_rdd(spark, tmp_path, monkeypatch):
    """pagerank/hits and their table forms validate n_iters before they
    persist anything, and they, bfs and connected_components release what
    they did persist when an iteration raises (compared as RDD-id sets,
    like the engine's round-failure test)."""
    import pytest

    from pyspark.sql import functions as F

    from distributed_web_crawler_spark.operators import bfs as BFS
    from distributed_web_crawler_spark.operators import components as CC
    from distributed_web_crawler_spark.operators import hits as H
    from distributed_web_crawler_spark.operators import pagerank as P

    edges = spark.createDataFrame(
        [(f"u{i}", f"u{(i * 7 + 1) % 20}") for i in range(20)], ["src", "dst"]
    )
    P.write_edges_bucketed(edges, "pr_leak", n_buckets=4, path=str(tmp_path / "pr"))
    H.write_edges_dual_bucketed(edges, "hits_leak", n_buckets=4, base_path=str(tmp_path / "h"))
    calls = [
        lambda n: P.pagerank(edges, n_iters=n),
        lambda n: P.pagerank_on_table(spark, "pr_leak", n_iters=n),
        lambda n: H.hits(edges, n_iters=n),
        lambda n: H.hits_on_tables(spark, "hits_leak", n_iters=n),
    ]

    def boom(*a, **k):
        raise RuntimeError("simulated iteration failure")

    try:
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        for call in calls:
            with pytest.raises(ValueError, match="n_iters"):
                call(0)
        assert not (set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before)
        # a failure in the second iteration, after the first step persisted
        monkeypatch.setattr(P, "iteration_scores", boom)
        monkeypatch.setattr(H, "iteration_inflow", boom)
        for call in calls:
            with pytest.raises(RuntimeError, match="simulated"):
                call(3)
        assert not (set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before)

        # bfs: a step that raises after the edge cache, the seed generation
        # and a frontier frame were persisted
        orig_step = BFS.IterationState.step

        def step_then_boom(self, df, it):
            if it > 1:
                raise RuntimeError("simulated iteration failure")
            return orig_step(self, df, it)

        monkeypatch.setattr(BFS.IterationState, "step", step_then_boom)
        with pytest.raises(RuntimeError, match="simulated"):
            BFS.bfs(edges, spark.createDataFrame([("u0",)], ["url"]), 4, checkpoint_every=8)
        assert not (set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before)

        # connected_components: an input that raises while the forward
        # edge cache materializes, and a loop that raises (no convergence)
        # after checkpointing a label generation
        chain = spark.createDataFrame([(i, i + 1) for i in range(40)], ["a_id", "b_id"])

        @F.udf("long")
        def bad(x):
            raise ValueError("simulated bad edge")

        with pytest.raises(Exception, match="simulated bad edge"):
            CC.connected_components(chain.withColumn("b_id", bad("b_id")))
        with pytest.raises(RuntimeError, match="did not converge"):
            CC.connected_components(chain, max_iters=1)
        assert not (set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before)
    finally:
        for t in ("pr_leak", "hits_leak_src", "hits_leak_dst"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
