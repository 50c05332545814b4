"""Plan audit: dump .explain("formatted") for the headline queries and
grep the physical plans for the properties the 100 TB design depends on —
filter/partition pushdown, broadcast joins where a side is small, Arrow
evaluation for pandas stages, no Python in JVM-expressible paths.

Writes PLANS.md at the repo root. Run after operator changes; the
assertions at the bottom fail the script if a load-bearing plan property
regresses (poor man's plan-regression test, also exercised by
tests/test_plans.py)."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from distributed_web_crawler_spark import queries as Q  # noqa: E402
from distributed_web_crawler_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

AUDITS = {
    # query -> substrings the physical plan MUST contain:
    # anti-join goes broadcast; the acctbal filter reaches the parquet scan
    "frontier_anti_join": ["BroadcastHashJoin", "LeftAnti", "GreaterThan(c_acctbal,5000.0)"],
    # Spark 4 pushes the rank limit below the shuffle (WindowGroupLimit)
    "politeness_window": ["WindowGroupLimit", "Window"],
    # top-k never materializes a full sort; status filter is pushed
    "recovery_scan": ["TakeOrderedAndProject", "EqualTo(o_orderstatus,O)"],
    # column pruning: only the two grouped columns are read
    "status_histogram": ["HashAggregate", "ReadSchema: struct<o_orderstatus:string,o_orderpriority:string>"],
    "exact_dedup": ["HashAggregate", "ReadSchema: struct<doc_id:bigint,text:string>"],
    # shingling stays JVM-side: explode Generate feeding a partial agg
    "minhash_signature": ["HashAggregate", "Generate"],
    # embedding scan reads only (vec_id, embedding); top-k is DISTRIBUTED
    # (per-partition heaps + k-row merge), never a single-partition Window
    # over the full scored table (r1 verdict item 1)
    "embedding_topk": [
        "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
        "TakeOrderedAndProject",
    ],
    "ann_topk": ["TakeOrderedAndProject"],
    # the returned rank frame must be CHECKPOINTED state (bounded lineage
    # — a raw 3-iteration plan here would mean the state discipline broke);
    # the per-iteration join/agg runs eagerly inside pagerank()
    "pagerank": ["Scan ExistingRDD"],
    # same checkpointed-state discipline through the bucketed-layout path
    # (the no-edge-side-Exchange assertion itself runs in
    # audit_pagerank_bucketed below, on the raw per-iteration join)
    "pagerank_bucketed": ["Scan ExistingRDD"],
    # bucket-as-partition-key layout: the probe set must reach the scan as
    # a PARTITION filter (directory pruning), not a post-scan filter
    "ann_topk_partitioned": ["TakeOrderedAndProject", "PartitionFilters: [bucket"],
    "ivf_topk": ["TakeOrderedAndProject"],
    # cell-as-partition-key: the n_probe set must reach the scan as a
    # PARTITION filter (directory pruning), not a post-scan filter
    "ivf_topk_partitioned": ["TakeOrderedAndProject", "PartitionFilters: [cell"],
    # image near-dup: the exact Hamming verify stays JVM-side (bit_count
    # over xor — no Python); the banded candidate join must be an EQUI-join
    # (hash or sort-merge, broadcast at oracle scale) — the FORBIDDEN list
    # below rejects the cartesian/nested-loop all-pairs regression
    "image_neardup": ["bit_count"],
    # CDC chunk dedup: Arrow-batched chunker over a 2-column pruned scan;
    # chunks are fingerprinted + partially aggregated BEFORE the first
    # ENSURE_REQUIREMENTS exchange (only (doc,fp,count,sum) rows shuffle)
    "chunk_dedup": [
        "MapInPandas",
        "ReadSchema: struct<doc_id:bigint,text:string>",
        "HashAggregate",
    ],
    # tf-idf: the per-doc top-k rank must be limit-pushed below the final
    # shuffle (WindowGroupLimit), tokens stay JVM-side (explode Generate
    # feeding a partial agg), and the 1-row N aggregate broadcasts
    "tfidf_top_terms": ["WindowGroupLimit", "Generate", "HashAggregate"],
    # anchor-text index (r9 shape): the per-part token list broadcasts
    # AFTER the aggregate; the linking-page count is a two-level distinct
    # agg over raw (int, int) fact rows — the fact side never explodes
    # (Generate is FORBIDDEN below)
    "anchor_text_index": ["BroadcastHashJoin", "partial_count(distinct"],
    # hits: the returned frame must be CHECKPOINTED state (same
    # IterationState discipline as pagerank)
    "hits": ["Scan ExistingRDD"],
    "hits_bucketed": ["Scan ExistingRDD"],
    # k-means: the returned flat codebook is built on CHECKPOINTED
    # per-(cell,dim) stats (same IterationState discipline as
    # pagerank/hits — the final plan must not re-derive the Lloyd pass;
    # the in-loop scan pruning + Arrow kernel + posexplode partial agg
    # are audited by audit_kmeans_iteration below on the raw round plan)
    "kmeans_clusters": ["Scan ExistingRDD"],
    # exact quantiles run on the (lang, n_chars) HISTOGRAM (pruned scan,
    # map-side-combinable agg), never a per-language sort of the raw docs
    "length_quantiles": [
        "ReadSchema: struct<lang:string,n_chars:bigint>",
        "Window",
        "HashAggregate",
    ],
    # bigram counting: JVM-side pair explode feeding a partial agg; the
    # top-k is TakeOrderedAndProject, never a global sort
    "top_bigrams": ["Generate", "HashAggregate", "TakeOrderedAndProject"],
    # sessionization: both windows + the session aggregate share ONE
    # user_id exchange (counted in audit_session_stats below); props and
    # event_type are pruned from the scan
    "session_stats": [
        "Window",
        "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,value:double>",
    ],
}
FORBIDDEN = {
    # a cartesian/nested-loop product in the pair generators is the
    # all-pairs regression the banded designs exist to prevent
    "image_neardup": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    # tokens are a pure function of the target part — no fact-side explode
    "anchor_text_index": ["Generate", "CartesianProduct"],
    "minhash_signature": ["CartesianProduct"],
    "pagerank": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "pagerank_bucketed": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "chunk_dedup": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "hits": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "hits_bucketed": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "kmeans_clusters": ["CartesianProduct", "BroadcastNestedLoopJoin"],
}


def audit_hits_bucketed(spark, sections, failures):
    """The HITS 100-TB layout claim: with the edges written twice —
    bucketed+sorted by src and by dst — NEITHER per-iteration join has an
    edge-side Exchange: the inflow step joins the src copy BY src, the
    outflow step the dst copy BY dst; exactly two exchanges each (score
    side + aggregate). Same treatment pagerank_bucketed_iteration got."""
    import re

    from distributed_web_crawler_spark.operators.hits import (
        iteration_inflow,
        iteration_outflow,
        write_edges_dual_bucketed,
    )
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    edges = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    write_edges_dual_bucketed(
        edges, "plan_audit_hits_edges", n_buckets=16, base_path="/tmp/plan_audit_hits_edges"
    )
    from distributed_web_crawler_spark.operators.bfs import release_checkpoint

    outflow = edges.select("src").distinct().select("src", F.lit(1.0).alias("hub")).localCheckpoint()
    inflow = edges.select("dst").distinct().select("dst", F.lit(1.0).alias("auth")).localCheckpoint()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_ord = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        plans = {
            "inflow(src copy)": iteration_inflow(spark.table("plan_audit_hits_edges_src"), outflow),
            "outflow(dst copy)": iteration_outflow(spark.table("plan_audit_hits_edges_dst"), inflow),
        }
        raws = {k: df._jdf.queryExecution().executedPlan().toString() for k, df in plans.items()}
        dumps = {k: plan_of(df) for k, df in plans.items()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", old_ord)
        spark.sql("DROP TABLE IF EXISTS plan_audit_hits_edges_src")
        spark.sql("DROP TABLE IF EXISTS plan_audit_hits_edges_dst")
        release_checkpoint(outflow)
        release_checkpoint(inflow)
    missing = []
    for k, raw in raws.items():
        if "Bucketed: true" not in raw:
            missing.append(f"{k}: edge scan not bucketed")
        n_ex = len(re.findall(r"Exchange hashpartitioning", raw))
        if n_ex != 2:
            missing.append(f"{k}: expected exactly 2 exchanges, saw {n_ex}")
    if missing:
        failures.append(("hits_bucketed_iteration", missing))
    body = "\n".join(f"### {k}\n\n```\n{d.strip()}\n```\n" for k, d in dumps.items())
    sections.append(
        f"## hits_bucketed_iteration — {'OK' if not missing else 'MISSING ' + str(missing)}\n\n"
        "Per-iteration inflow/outflow joins over the dual src/dst-bucketed edge\n"
        "copies: no edge-side Exchange on either join; only score frames move.\n\n"
        + body
    )


def audit_session_stats(spark, sections, failures):
    """session_stats' load-bearing property is a COUNT, not a substring:
    exactly ONE shuffle Exchange — lag window, running-sum window, and the
    session aggregate all reuse the user_id partitioning (the aggregate's
    (user_id, sess_id) clustering is satisfied by the user_id-only
    partitioning, so no second exchange appears)."""
    import re

    from distributed_web_crawler_spark.queries import q_session_stats

    plan = plan_of(q_session_stats(spark, SF_DIR))
    n_ex = len(re.findall(r"\+- Exchange \(\d+\)", plan))
    missing = [] if n_ex == 1 else [f"expected exactly 1 Exchange, saw {n_ex}"]
    if missing:
        failures.append(("session_stats_single_exchange", missing))
    sections.append(
        f"## session_stats_single_exchange — {'OK' if not missing else 'MISSING ' + str(missing)}\n\n"
        "Both windows and the session aggregate share one user_id exchange.\n"
    )


def audit_kmeans_iteration(spark, sections, failures):
    """One raw Lloyd round (pre-checkpoint — the checkpointed result plan
    is audited under kmeans_clusters): scan pruned to (vec_id, embedding),
    assignment is the Arrow kernel (MapInPandas), the posexplode update
    partial-aggregates (HashAggregate below the exchange)."""
    from pyspark.sql import functions as F

    from distributed_web_crawler_spark.operators.similarity import (
        _kmeans_assign,
        ivf_centroids,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    cents = [list(map(float, c)) for c in ivf_centroids(64, 16)]
    assigned = _kmeans_assign(emb.select("vec_id", "embedding"), cents)
    stats = (
        assigned.select("cell", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("cell", "dim")
        .agg(F.round(F.avg("v") * 1e6).cast("long").alias("cvu"), F.count("*").alias("n"))
    )
    plan = plan_of(stats)
    checks = [
        "MapInPandas",
        "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
        "HashAggregate",
        "Generate",
    ]
    missing = [c for c in checks if c not in plan]
    if missing:
        failures.append(("kmeans_iteration", missing))
    sections.append(
        f"## kmeans_iteration — {'OK' if not missing else 'MISSING ' + str(missing)}\n\n"
        "One raw Lloyd round: pruned scan, Arrow assignment kernel, posexplode\n"
        "partial-aggregated update.\n\n"
        f"```\n{plan.strip()}\n```\n"
    )


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit_crawl_plans(spark, sections, failures):
    """Plan properties of the crawl round's hot paths: the fetch join must
    broadcast the frontier and prune corpus buckets at the scan; the slim
    metadata scan must never read the bytes column."""
    import pandas as pd

    from distributed_web_crawler_spark.fixtures.corpus import CorpusSpec, bucket_of, url_of
    from distributed_web_crawler_spark.functions import urls as UU
    from distributed_web_crawler_spark.sources.corpus_source import build_corpus
    from distributed_web_crawler_spark.sources.fetch import fetch_join
    from pyspark.sql import functions as F

    spec = CorpusSpec(n=2000)
    corpus = build_corpus(spark, spec, "/tmp/plan_audit_corpus")
    idx = (3, 7, 35)
    adm = spark.createDataFrame(pd.DataFrame({"url": [url_of(i, spec) for i in idx]}))
    adm = adm.withColumn("image_id", UU.image_id_of(F.col("url")))
    plan = plan_of(fetch_join(spark, corpus, adm, sorted({bucket_of(i) for i in idx})))
    checks = {
        "fetch join broadcasts the (small) frontier": "BroadcastHashJoin",
        "corpus scan pruned to touched buckets": "PartitionFilters: [bucket",
        "bytes column never read by the fetch join": "blob_offset",  # slim cols present…
    }
    missing = [label for label, frag in checks.items() if frag not in plan]
    if "ReadSchema" in plan and "bytes" in plan.split("ReadSchema", 1)[1].split("\n", 2)[0]:
        missing.append("bytes column leaked into the fetch-join scan")
    if missing:
        failures.append(("crawl_fetch_join", missing))
    sections.append(
        f"## crawl_fetch_join — {'OK' if not missing else 'MISSING ' + str(missing)}\n\n```\n{plan.strip()}\n```\n"
    )


def audit_pagerank_bucketed(spark, sections, failures):
    """The pagerank 100-TB layout claim (r5 VERDICT Next #4): with the
    contribution edges bucketed+sorted by src, the per-iteration join scan
    is `Bucketed: true` with NO edge-side Exchange — exactly two
    exchanges remain (rank side + dst aggregate) — and with the sorted
    bucketed scan enabled, only the rank side sorts."""
    import re

    from distributed_web_crawler_spark.operators.pagerank import (
        iteration_contribs,
        write_edges_bucketed,
    )
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    fwd = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    write_edges_bucketed(edges, "plan_audit_pr_edges", n_buckets=16, path="/tmp/plan_audit_pr_edges")
    # localCheckpoint: the score frame in a real iteration derives from
    # checkpointed state (IterationState) — a lineage-free Scan
    # ExistingRDD, so the exchange count below measures only the
    # join/agg, as in production. r9c: the iteration join consumes the
    # per-src (src, rankw = rank·w) scores built by iteration_scores;
    # the edge side streams raw (src, dst) pairs
    scores = (
        edges.select(F.col("src")).distinct()
        .select("src", F.lit(0.1).alias("rankw"))
        .localCheckpoint()
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_ord = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        df = iteration_contribs(spark.table("plan_audit_pr_edges"), scores)
        plan = plan_of(df)
        raw = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", old_ord)
        spark.sql("DROP TABLE IF EXISTS plan_audit_pr_edges")
    missing = []
    if "Bucketed: true" not in raw:
        missing.append("edge scan not bucketed")
    n_ex = len(re.findall(r"Exchange hashpartitioning", raw))
    if n_ex != 2:
        missing.append(f"expected exactly 2 exchanges (rank side + dst agg), saw {n_ex}")
    if "ShuffledHashJoin" not in raw:
        missing.append("iteration join is not shuffled-hash (r9: SHJ on the rank side)")
    if raw.count("Sort [src") != 0:
        missing.append("r9 shape has NO sorts: SHJ builds on the rank side, edges stream")
    if missing:
        failures.append(("pagerank_bucketed_iteration", missing))
    sections.append(
        f"## pagerank_bucketed_iteration — {'OK' if not missing else 'MISSING ' + str(missing)}\n\n"
        "Per-iteration contribs join over the src-bucketed contribution-edge\n"
        "table: no edge-side Exchange, shuffled-hash build on the rank side\n"
        "(no Sort anywhere); only the rank side moves.\n\n"
        f"```\n{plan.strip()}\n```\n"
    )


def main():
    spark = get_spark(app="explain-audit", cores=8, shuffle_partitions=8)
    qs = Q.bench_queries()
    sections, failures = [], []
    audit_crawl_plans(spark, sections, failures)
    audit_pagerank_bucketed(spark, sections, failures)
    audit_hits_bucketed(spark, sections, failures)
    audit_session_stats(spark, sections, failures)
    audit_kmeans_iteration(spark, sections, failures)
    for name in sorted(qs):
        plan = plan_of(qs[name](spark, SF_DIR))
        checks = AUDITS.get(name, [])
        missing = [c for c in checks if c not in plan]
        present = [c for c in FORBIDDEN.get(name, []) if c in plan]
        if missing or present:
            failures.append((name, missing + [f"FORBIDDEN:{c}" for c in present]))
        status = "OK" if not (missing or present) else f"MISSING {missing} FORBIDDEN {present}"
        sections.append(f"## {name} — {status}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS.md — physical-plan audit (generated by scripts/explain_audit.py)\n\n"
            f"SF dir: {SF_DIR}\n\n" + "\n".join(sections)
        )
    spark.stop()
    if failures:
        print("PLAN AUDIT FAILURES:", failures)
        sys.exit(1)
    print(f"plan audit OK — {len(AUDITS)} audited, {len(qs)} plans dumped to PLANS.md")


if __name__ == "__main__":
    main()
