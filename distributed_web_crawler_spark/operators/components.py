"""Connected components over an undirected edge DataFrame — the keeper
election step of a fuzzy-dedup pipeline (near-dup PAIRS are not enough: a
chain a~b~c must collapse to ONE keeper even when a~c was never compared).

Algorithm: min-label propagation with POINTER DOUBLING (hash-to-min
style) — every node starts labeled with itself; each round a node takes
the minimum label among itself and its neighbors, then additionally
adopts its label's label (label[label]), which halves the remaining path
to the component minimum. Convergence is O(log diameter) rounds instead
of O(diameter) — a 30-node path converges in ~7 rounds. Each round is
two shuffles (edges⋈labels min-agg, then the doubling self-join), the
same per-round shape as the BFS engine; lineage is truncated with
localCheckpoint like operators/bfs.py. At 10^10 edges the same loop
holds (this is the MapReduce-CC family of Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14; the large-star/small-star
variant additionally shrinks the EDGE set per round and slots in behind
the identical label fixpoint if edge-volume ever binds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import sized_tasks
from .bfs import _local_checkpoint, _release

# iteration shuffles sized to the graph: every CC round is 2 joins + an
# aggregate + a localCheckpoint, and at session-default width a TINY
# verified-pairs graph (hundreds of edges) pays ~10 rounds × 32-task
# shuffle scheduling for microseconds of work (measured: 13.5 s → 7.3 s
# on the sf0.1 cluster query just from narrowing the loop). One partition
# per EDGES_PER_PARTITION edges, capped at 2× parallelism (session.sized_tasks).
EDGES_PER_PARTITION = 500_000


def connected_components(
    edges: DataFrame, src: str = "a_id", dst: str = "b_id", max_iters: int = 25
) -> DataFrame:
    """(node long, component long) for every node appearing in `edges`;
    component = min node id reachable (a canonical, deterministic cluster
    id). Undirected: each input row is used in both directions.

    NB: the loop scopes ``spark.sql.shuffle.partitions`` to the graph size
    (restored on exit) — queries planned CONCURRENTLY on the same session
    during the fixpoint would see the narrowed value; the crawl engine
    never runs CC inside its threaded rounds, and results are unaffected
    either way (partitioning never changes CC output)."""
    spark = edges.sparkSession
    # r9: persist the FORWARD edges before symmetrizing — the union's two
    # branches are planned independently, so an expensive `edges` input
    # (e.g. the whole LSH+verify pipeline in neardup_clusters) used to be
    # computed once per direction; now the reverse branch reads the cache
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()
    sym = labels = None
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        fwd.count()  # MATERIALIZE before the union reads it twice: the
        # union's forward- and reverse-branch tasks run concurrently in one
        # stage, and a reverse task starting before its forward twin has
        # cached the partition would recompute the upstream anyway — the
        # count pins the single run
        sym = fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))).persist()
        n_edges = sym.count()  # materializes the cache — paid anyway at round 1
        fwd.unpersist()  # sym is materialized; the per-direction cache is done
        want = sized_tasks(spark, n_edges, EDGES_PER_PARTITION)
        spark.conf.set("spark.sql.shuffle.partitions", str(want))
        labels = (
            sym.select(F.col("u").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .persist()
        )
        return _propagate(sym, labels, max_iters)
    finally:
        # guaranteed on every exit path (a raising input or step, the
        # non-convergence raise): no edge or label cache outlives the
        # call. unpersist is idempotent, and the result is a checkpointed
        # frame that none of these back.
        spark.conf.set("spark.sql.shuffle.partitions", old)
        for df_ in (fwd, sym, labels):
            if df_ is not None:
                df_.unpersist()


def _propagate(sym: DataFrame, labels: DataFrame, max_iters: int) -> DataFrame:
    blocks: list = []  # checkpoint block RDDs not yet released
    try:
        for it in range(max_iters):
            # candidate labels: own + the label of every neighbor
            from_neighbors = (
                sym.join(labels.withColumnRenamed("node", "v"), "v")
                .select(F.col("u").alias("node"), "component")
            )
            propagated = (
                labels.unionByName(from_neighbors)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
            # pointer doubling: adopt label[label] — every label value is
            # some node's id, so the self-join resolves it; left+coalesce
            # guards the already-minimal rows
            lbl_of_lbl = propagated.select(
                F.col("node").alias("component"), F.col("component").alias("c2")
            )
            # one materialization per round: the doubling join AND the
            # previous label ride into the same localCheckpoint (truncating
            # lineage), so the convergence check is a scan of the cached
            # result — not an extra shuffle job per iteration
            nxt_full = _local_checkpoint(
                propagated.join(lbl_of_lbl, "component", "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"), F.coalesce(F.col("c2"), F.col("component"))
                    ).alias("component"),
                )
                .join(labels.withColumnRenamed("component", "old"), "node"),
                blocks,
            )
            converged = nxt_full.filter(F.col("component") != F.col("old")).isEmpty()
            # the eager checkpoint detached nxt_full from the previous
            # generation: its cache and blocks are superseded
            labels.unpersist()
            _release(blocks[:-1])
            del blocks[:-1]
            labels = nxt_full.drop("old")
            if converged:
                return labels
        raise RuntimeError(f"connected_components did not converge in {max_iters} rounds")
    except BaseException:
        _release(blocks)
        raise


def neardup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Every document with its near-dup cluster id: docs in no pair are
    their own singleton cluster; the cluster keeper is min(doc_id) in the
    component. Output: (doc_id, cluster_id)."""
    comp = connected_components(pairs)
    # comp is bounded by the paired-doc count (≪ corpus): broadcast it so
    # the corpus side never shuffles for the final label attach
    return (
        docs.select("doc_id")
        .join(F.broadcast(comp.withColumnRenamed("node", "doc_id")), "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id")
        )
    )
