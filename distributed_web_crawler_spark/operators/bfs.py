"""Generic BFS over an edge DataFrame — the frontier engine's core loop
(anti-join first-discovery dedup, per-depth barrier) applied to any graph,
used by the driver-harness flagship query and cross-checked against a
DuckDB recursive CTE.

Same shape as plans/frontier.py rounds (SURVEY.md §3.1): per depth, expand
the frontier through an equi-join on src, dedup within the round
(dropDuplicates ≡ U3 map-overwrite), anti-join the cumulative seen set
(U2), stop when the frontier empties or max_depth is reached (F3). The
min-depth/first-discovery equivalence is what makes a from-scratch rerun
and a mid-point resume agree (SURVEY.md §3.3).

Scale: the per-round join shuffles edges by src once; for repeated rounds a
real deployment pre-partitions (buckets) the edge table by src so every
round's join is co-located, and the seen anti-join uses the Bloom path
(functions/bloom.py). localCheckpoint truncates the growing union lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def fan_out_edges(edges: DataFrame) -> DataFrame:
    """Round-robin an edge frame across the default parallelism before an
    iterative op persists it: a small parquet input arrives as ONE split,
    which would serialize every downstream probe/join onto one task. The
    edge-frame sibling of dedup.fan_out (at 100 TB real files split by
    maxPartitionBytes and this exchange is noise). Used by bfs, whose
    broadcast-probe rounds never join the edge cache by key; the
    iterative rank ops (pagerank, hits) instead repartition their caches
    ON the join key so iteration joins move nothing (r9c)."""
    return edges.repartition(edges.sparkSession.sparkContext.defaultParallelism)


def _local_checkpoint(df: DataFrame, tracked: list) -> DataFrame:
    """Eager localCheckpoint that CAPTURES the checkpoint's block-holding
    RDD handle into `tracked`. DataFrame.unpersist releases only the
    CacheManager entry — a localCheckpoint's materialized blocks are an
    RDD-level cache that survives it — so superseded generations must be
    dropped through this handle or a deep crawl accumulates O(depth)
    checkpoint block sets. The handle is read off the checkpointed frame's
    own LogicalRDD (never by diffing the context-global persistent-RDD
    map, which would capture — and later unpersist — frames a CONCURRENT
    thread persisted; for another localCheckpoint holder those blocks are
    its only data source). Releasing a handle makes ITS frame
    unrecoverable, so callers release only strictly-superseded
    generations."""
    out = df.localCheckpoint()
    tracked.append(out._jdf.queryExecution().logical().rdd())
    return out


def _release(handles: list) -> None:
    for h in handles:
        h.unpersist(False)
    handles.clear()


def release_checkpoint(df: DataFrame) -> None:
    """Release the block RDD backing a frame returned by bfs()/pagerank()
    (any localCheckpointed frame). Those blocks are the frame's ONLY data
    source — it is unusable afterwards. Callers that are done with a
    result should release it explicitly rather than leaving it to the
    async ContextCleaner, whose GC-timed unpersist races any test or
    monitor that reads the context's persistent-RDD accounting."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


class IterationState:
    """Cache/lineage discipline for ITERATIVE DataFrame algorithms (bfs,
    pagerank, future label-propagation variants): the per-step state frame
    is persisted; every `checkpoint_every` steps it is localCheckpointed
    (eager — detaches from all earlier cached generations), the superseded
    persisted frames AND the previous checkpoint's block RDDs are
    released, and `finish()` hands back a self-contained checkpointed
    frame with every interim handle dropped. One shared implementation:
    the subtle cache-lifetime bugs of round 5 all lived in hand-rolled
    copies of this skeleton."""

    def __init__(self, checkpoint_every: int):
        self.checkpoint_every = max(1, int(checkpoint_every))
        self._handles: list = []  # persisted generations since last checkpoint
        self._cp_blocks: list = []  # live checkpoint's block RDD handles

    def track(self, df: DataFrame) -> DataFrame:
        """Register an auxiliary persisted frame for release at the next
        checkpoint (bfs's per-round `nxt`)."""
        self._handles.append(df)
        return df

    def step(self, df: DataFrame, it: int) -> DataFrame:
        """Advance to state `df` at step `it` (1-based): checkpoint +
        release superseded generations on schedule, persist otherwise.
        The returned frame is the one to build step it+1 from."""
        if it % self.checkpoint_every == 0:
            prior = list(self._cp_blocks)
            self._cp_blocks.clear()
            df = _local_checkpoint(df, self._cp_blocks)
            for h in self._handles:
                h.unpersist()
            self._handles = []
            _release(prior)
        df = df.persist()
        self._handles.append(df)
        return df

    def finish(self, df: DataFrame) -> DataFrame:
        """Materialize `df` as a self-contained checkpointed frame and
        release every interim handle — callers get a result that neither
        recomputes nor pins caches."""
        out = _local_checkpoint(df, [])
        self.close()
        return out

    def close(self) -> None:
        """Release every interim handle — finish() does this on success;
        callers also run it in a `finally`, so a step that raises leaves
        no persisted generation behind."""
        for h in self._handles:
            h.unpersist()
        self._handles = []
        _release(self._cp_blocks)


def bfs(edges: DataFrame, seed: DataFrame, max_depth: int, checkpoint_every: int = 4) -> DataFrame:
    """edges: (src string, dst string); seed: (url string) single row.
    Returns (url string, depth int) — first-discovery depth per reached node,
    depths 0..max_depth.

    Plan shape: edges are persisted once and probed with a BROADCAST of the
    (small) frontier each round — the big side never shuffles; the only
    exchanges are the frontier dedup and the anti-join against the (also
    small) seen set, both broadcast-sized. A frontier too large to broadcast
    flips to the frontier-engine path (bucketed edges + shuffled hash join
    + Bloom seen filters, plans/frontier.py)."""
    edges = fan_out_edges(edges).persist()
    st = IterationState(checkpoint_every)
    try:
        seen = st.step(seed.select(F.col("url"), F.lit(0).alias("depth")), 1)
        frontier = seen
        for d in range(1, max_depth + 1):
            nxt = st.track(
                edges.join(F.broadcast(frontier.select(F.col("url").alias("src"))), "src")
                .select(F.col("dst").alias("url"))
                .dropDuplicates(["url"])
                .join(F.broadcast(seen.select("url")), "url", "left_anti")
                .withColumn("depth", F.lit(d))
                .persist()
            )
            if nxt.isEmpty():
                break
            frontier = nxt
            was_checkpoint = d % checkpoint_every == 0
            seen = st.step(seen.unionByName(nxt), d)
            if was_checkpoint:
                # the checkpoint released `nxt` with the rest of its
                # generation: re-derive the next frontier from the (cached)
                # checkpointed seen so nothing recomputes
                frontier = seen.filter(F.col("depth") == d)
        return st.finish(seen)
    finally:
        # on every exit path, a raise included: the edge cache and every
        # tracked generation are released (finish() already closed them
        # on success; close() is idempotent)
        st.close()
        edges.unpersist()
