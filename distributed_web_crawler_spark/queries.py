"""Driver-harness queries: one entry per implemented operator
(SURVEY.md §2 + the training-data pipeline ops), each with an ANSI-SQL
DuckDB oracle over the same parquet tables. Column names and types are
aligned on both sides — the driver compares row counts, schema, and an
order-insensitive value hash (see __spark_entry__.py).

Crawl-engine slices run on the TPC-H-ish tables:
  bfs_frontier        — the flagship: FrontierEngine BFS semantics over the
                        order↔part graph vs a recursive-CTE oracle (U2/U3/
                        F3/F4 first-discovery min-depth equivalence)
  frontier_anti_join  — U2/J1 seen-set anti-membership
  depth_collect       — U4 per-depth collect_set assembly
  recovery_scan       — O1 oldest-first recovery ORDER BY/LIMIT
  politeness_window   — W5 per-key budget window
  status_histogram    — A3 task-status histogram
  late_requeue        — W1 staleness predicate
  cache_truncation    — O2 first-k-per-key ordered slice

Training-data ops run on documents/embeddings:
  exact_dedup, token_count, quality_score, lang_id, doc_fingerprint,
  minhash_signature, minhash_lsh_pairs, text_dedup_pairs (shingle-Jaccard
  + exact-substring union row; individually jaccard_verified_pairs and
  substring_dedup in bench), simhash, embedding_topk, label_centroids
"""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .functions.portable_hash import hash60_sql
from .operators import dedup as D
from .operators import similarity as S
from .operators import textstats as T
from .operators.bfs import bfs

BFS_DEPTH = 3


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Queries that persist an intermediate projection (shingles, phashes) hand
# the handles here, keyed by query name: the NEXT invocation of the same
# query unpersists the previous generation's frames first, so repeated
# bench/correctness trials hold at most ONE cached generation per query
# instead of accumulating one per call. The last generation stays cached
# until the session ends (the returned DataFrame still references it).
_PERSISTED_BY_QUERY: Dict[str, list] = {}


def _swap_persisted(query: str) -> list:
    for h in _PERSISTED_BY_QUERY.pop(query, []):
        try:
            h.unpersist()
        except Exception:
            pass  # session already stopped / frame already freed
    handles: list = []
    _PERSISTED_BY_QUERY[query] = handles
    return handles


# --------------------------------------------------------------- crawl slices

def _order_part_edges(li: DataFrame) -> DataFrame:
    """Bidirectional order↔part edge set shared by bfs_frontier and
    pagerank (one definition — the two queries' 'same graph' claim must
    not be able to drift). No global edge dedup: bfs's per-round target
    dedup makes it redundant (duplicate edges cannot change
    first-discovery depths), and pagerank counts multiplicity by design
    (matching its oracle's UNION ALL).

    r9: node keys are INTEGER-ENCODED (order k → 2k, part k → 2k+1;
    guide §2.3 "narrower types") — every per-iteration shuffle, sort and
    hash in bfs/pagerank then runs on 8-byte longs instead of 'o123'
    strings; _url_of decodes back to the exact url strings once, in the
    O(nodes) final projection, so results are unchanged."""
    fwd = li.select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    return fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _url_of(key):
    """Decode the integer node key back to the public url string
    ('o<orderkey>' / 'p<partkey>') — applied once in final projections."""
    k = F.col(key) if isinstance(key, str) else key
    return F.concat(
        F.when(k.bitwiseAND(F.lit(1)) == 0, F.lit("o")).otherwise(F.lit("p")),
        F.shiftright(k, 1).cast("string"),
    )


def q_bfs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _order_part_edges(_t(spark, sf_dir, "lineitem"))
    seed_key = _t(spark, sf_dir, "orders").agg(F.min("o_orderkey")).collect()[0][0]
    seed = spark.createDataFrame([(int(seed_key) * 2,)], "url long")
    return bfs(edges, seed, BFS_DEPTH).select(
        _url_of("url").alias("url"), F.col("depth").cast("int").alias("depth")
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier prioritization signal: 3-step PageRank power iteration
    over the same bidirectional order↔part graph as bfs_frontier
    (operators/pagerank.py; the oracle renders the identical iteration as
    chained CTEs). A production crawler drains high-rank pages first —
    this rank column is the drop-in replacement for the url_hash order
    key in a priority-drain variant of the politeness schedule."""
    from .operators.pagerank import pagerank

    edges = _order_part_edges(_t(spark, sf_dir, "lineitem"))
    pr = pagerank(edges, n_iters=PAGERANK_ITERS, damping=PAGERANK_D)
    return pr.select(_url_of("url").alias("url"), F.round("rank", 6).alias("rank"))


_STAGE_SEQ = iter(range(1, 1 << 30))


def q_pagerank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the src-BUCKETED contribution-edge layout — the
    100-TB shape whose per-iteration join has no edge-side Exchange
    (machine-asserted in tests/test_pagerank_bucketed.py and PLANS.md).
    Same graph, same oracle as `pagerank`: the layout must not change a
    single value. The layout is written ONCE per sf_dir (a one-time
    layout job at 100 TB) through _ensure_layout — content-fingerprinted
    (a regenerated sf_dir rebuilds) and published by atomic rename
    (concurrent builders can't interleave) — then registered as an
    external bucketed table with the same CLUSTERED/SORTED spec; the
    table name carries the content tag so stale registrations of
    replaced data are never reused."""
    from .operators.pagerank import pagerank_on_table, write_edges_bucketed

    def build(staging):
        # saveAsTable needs a catalog name; write under a throwaway one
        # bound to the staging path, then drop it (external — files stay)
        stage_name = f"pr_edges_stage_{os.getpid()}_{next(_STAGE_SEQ)}"
        edges = _order_part_edges(_t(spark, sf_dir, "lineitem"))
        write_edges_bucketed(
            edges, stage_name, n_buckets=16, path=os.path.join(staging, "e")
        )
        spark.sql(f"DROP TABLE IF EXISTS {stage_name}")
        open(os.path.join(staging, "_SUCCESS"), "w").close()

    # layout name carries the i64 key encoding (r9): a schema change must
    # never silently reuse a cached layout built with the old string keys
    path = _ensure_layout(spark, sf_dir, "pr_bucketed_i64", build, src_table="lineitem")
    tag = os.path.basename(path).rsplit("_", 1)[-1]
    name = f"pr_edges_i64_{tag}"
    if not spark.catalog.tableExists(name):
        spark.sql(
            f"CREATE TABLE {name} (src BIGINT, dst BIGINT, w DOUBLE) USING parquet "
            f"CLUSTERED BY (src) SORTED BY (src) INTO 16 BUCKETS "
            f"LOCATION '{os.path.join(path, 'e')}'"
        )
    pr = pagerank_on_table(spark, name, n_iters=PAGERANK_ITERS, damping=PAGERANK_D)
    return pr.select(_url_of("url").alias("url"), F.round("rank", 6).alias("rank"))


PAGERANK_ITERS = 3
PAGERANK_D = 0.85
HITS_ITERS = 2


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub/authority ranking over the DIRECTED order→part graph
    (operators/hits.py) — the second frontier-prioritization signal next
    to pagerank: orders are pure hubs, parts pure authorities, and either
    score column, quantized, drops into politeness.schedule(grade=). The
    iteration is integer-exact until one final max-normalization, so the
    chained-CTE oracle matches without pagerank's association-noise
    margin."""
    from .operators.hits import hits

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    h = hits(edges, n_iters=HITS_ITERS)
    return h.select(
        _url_of("url").alias("url"),
        F.round("hub", 6).alias("hub"),
        F.round("auth", 6).alias("auth"),
    )


def q_hits_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the dual src/dst-BUCKETED edge layout — the 100-TB shape
    where NEITHER per-iteration join moves the edge side (machine-asserted
    in tests/test_hits_bucketed.py and PLANS.md). Same graph, same oracle
    as `hits`: the integer-exact iteration means the layout must produce
    bit-identical scores. Layout written once per sf_dir and cached like
    pagerank_bucketed's (content-fingerprinted _ensure_layout with atomic
    publish); fresh sessions re-register the files as external bucketed
    tables under the content-tagged name."""
    from .operators.hits import hits_on_tables, write_edges_dual_bucketed

    def build(staging):
        stage_name = f"hits_edges_stage_{os.getpid()}_{next(_STAGE_SEQ)}"
        li = _t(spark, sf_dir, "lineitem")
        edges = li.select(
            (F.col("l_orderkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        write_edges_dual_bucketed(
            edges, stage_name, n_buckets=16, base_path=os.path.join(staging, "e")
        )
        for sfx in ("_src", "_dst"):
            spark.sql(f"DROP TABLE IF EXISTS {stage_name}{sfx}")
        open(os.path.join(staging, "_SUCCESS"), "w").close()

    # i64 layout name: see q_pagerank_bucketed
    path = _ensure_layout(spark, sf_dir, "hits_bucketed_i64", build, src_table="lineitem")
    tag = os.path.basename(path).rsplit("_", 1)[-1]
    base = f"hits_edges_i64_{tag}"
    for sfx in ("_src", "_dst"):
        key = sfx[1:]
        if not spark.catalog.tableExists(base + sfx):
            spark.sql(
                f"CREATE TABLE {base}{sfx} (src BIGINT, dst BIGINT) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 16 BUCKETS "
                f"LOCATION '{os.path.join(path, 'e')}{sfx}'"
            )
    h = hits_on_tables(spark, base, n_iters=HITS_ITERS)
    return h.select(
        _url_of("url").alias("url"),
        F.round("hub", 6).alias("hub"),
        F.round("auth", 6).alias("auth"),
    )


def _layout_union(variants) -> Callable[[SparkSession, str], DataFrame]:
    """Merge physical-layout variants of one query into a single
    correctness row: each variant must return IDENTICAL rows by design
    (same oracle), so the union tagged by a `layout` column asserts
    flat == bucketed/partitioned == oracle in one hash. Exists because
    the driver checks at most 50 queries() rows — the variants stay
    individually timed in bench_queries() and individually plan-asserted
    in tests/test_plans.py + scripts/explain_audit.py."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for label, fn in variants:
            df = fn(spark, sf_dir).withColumn("layout", F.lit(label))
            out = df if out is None else out.unionByName(df)
        return out

    return run


def _layout_union_oracle(base_sql: str, labels) -> str:
    """Cross-join the single-layout oracle with the layout labels —
    DuckDB allows a WITH-clause query as a FROM subquery."""
    values = ", ".join(f"('{lb}')" for lb in labels)
    return (
        f"SELECT b.*, l.layout FROM (\n{base_sql}\n) b "
        f"CROSS JOIN (VALUES {values}) l(layout)"
    )


q_pagerank_layouts = _layout_union(
    [("flat", q_pagerank), ("bucketed", q_pagerank_bucketed)]
)
q_hits_layouts = _layout_union([("flat", q_hits), ("bucketed", q_hits_bucketed)])


def q_frontier_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("cust_id")).distinct()
    seen = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("cust_id")
    )
    return orders.join(seen, "cust_id", "left_anti")


def q_depth_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # collect LONG ids and stringify in the final projection (r9, guide
    # §2.3 narrower types): the two-level collect_set aggregation then
    # buffers/merges/exchanges 8-byte longs instead of boxed strings;
    # sorting the string-transformed array afterwards is byte-identical
    # to collecting strings (same lexicographic order, same join).
    # r9b (guide §2.2 partial aggregation): n_users derives from the SAME
    # distinct set as size(collect_set) — the former separate
    # countDistinct forced an Expand that pushed every event row through
    # the aggregate twice (one projection per distinct group); one
    # aggregate now computes both columns from one pass. size() is the
    # exact distinct count (collect_set IS the distinct set), cast to
    # long to keep the oracle's count(distinct) BIGINT dtype.
    uset = F.collect_set("user_id")
    return ev.groupBy("event_type").agg(
        F.size(uset).cast("long").alias("n_users"),
        F.array_join(
            F.sort_array(F.transform(uset, lambda x: x.cast("string"))),
            ",",
        ).alias("users_csv"),
    )


def q_recovery_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", F.unix_timestamp("o_orderdate").alias("order_epoch"))
    )


def q_politeness_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return (
        _t(spark, sf_dir, "lineitem")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "rn")
    )


def q_politeness_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carry-over fairness of budgeted admission (W5 analytics): with a
    per-key budget of 3 per sub-round, an item ranked rn waits
    ceil(rn/3)-1 sub-rounds. Per key: queue length, worst wait, mean wait —
    the starvation report a crawl operator reads per host."""
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    waits = (
        _t(spark, sf_dir, "lineitem")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("wait", F.ceil(F.col("rn") / 3) - 1)
    )
    return waits.groupBy("l_suppkey").agg(
        F.count("*").alias("n_queued"),
        F.max("wait").cast("long").alias("max_wait"),
        F.round(F.avg("wait"), 4).alias("avg_wait"),
    )


def q_status_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )


def q_late_requeue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("max_ts"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") < F.col("max_ts") - F.expr("INTERVAL 1 HOUR"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_late"))
    )


def q_cache_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ordered = F.sort_array(F.collect_list(F.struct("ts", "event_id")))
    first3 = F.transform(F.slice(ordered, 1, 3), lambda x: x["event_id"].cast("string"))
    return ev.groupBy("user_id").agg(F.array_join(first3, ",").alias("first3_csv"))


# --------------------------------------------------------- training-data ops

def q_exact_dedup(spark, sf_dir):
    return D.exact_dedup(_t(spark, sf_dir, "documents"))


def q_token_count(spark, sf_dir):
    return T.token_count(_t(spark, sf_dir, "documents"))


TOP_BIGRAMS_K = 100


def q_length_quantiles(spark, sf_dir):
    """Exact per-language length order statistics over the histogram-
    cumsum shape (textstats.length_quantiles) — integer-only rank
    arithmetic, so the oracle is bit-exact."""
    return T.length_quantiles(_t(spark, sf_dir, "documents"))


def q_top_bigrams(spark, sf_dir):
    """Corpus top-k bigrams (textstats.top_bigrams): JVM-side pair
    construction, map-side-combinable count, TakeOrderedAndProject
    top-k with deterministic (count, bigram) tie-break."""
    return T.top_bigrams(_t(spark, sf_dir, "documents"), k=TOP_BIGRAMS_K)


def q_quality_score(spark, sf_dir):
    return T.quality_score(_t(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    return T.lang_id(_t(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    return T.fingerprint(_t(spark, sf_dir, "documents"))


def q_minhash_signature(spark, sf_dir):
    return D.minhash_signatures(_t(spark, sf_dir, "documents"))


def q_minhash_lsh_pairs(spark, sf_dir):
    return D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        persisted=_swap_persisted("minhash_lsh_pairs"),
    )


def q_jaccard_verified_pairs(spark, sf_dir):
    return D.jaccard_verified_pairs(
        _t(spark, sf_dir, "documents"),
        persisted=_swap_persisted("jaccard_verified_pairs"),
    )


def q_substring_dedup(spark, sf_dir):
    return D.substring_dedup_pairs(_t(spark, sf_dir, "documents"))


def q_substring_clean(spark, sf_dir):
    """ExactSubstr-cleaned corpus stats (Lee et al. 2022's pipeline
    OUTPUT — bench/plan entry; exact span/clean semantics are pinned by
    tests/test_substring_dedup.py's planted corpora). Aggregated so the
    bench row is small and stable."""
    cleaned = D.substring_dedup_clean(_t(spark, sf_dir, "documents"))
    return cleaned.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_removed_tokens").alias("tokens_removed"),
        F.sum((F.col("n_removed_tokens") > 0).cast("long")).alias("docs_touched"),
    )


def q_text_dedup_pairs(spark, sf_dir):
    """Correctness-window union of the two text-pair dedup modes (same
    trick as _layout_union, harmonized to (kind, a_id, b_id, score)): the
    shingle-Jaccard pairs and the exact-substring pairs (Lee et al. 2022)
    share one registry row so both keep oracle coverage inside the
    driver's 50-row cap. Individually timed in bench_queries(); the full
    substring output (n_matches) is oracle-checked by the standalone
    ORACLE_SQL['substring_dedup'] in tests and pinned by the
    planted-overlap recall test."""
    j = q_jaccard_verified_pairs(spark, sf_dir).select(
        F.lit("jaccard").alias("kind"), "a_id", "b_id",
        F.col("jaccard").alias("score"),
    )
    s = q_substring_dedup(spark, sf_dir).select(
        F.lit("substring").alias("kind"), "a_id", "b_id",
        F.col("max_run_tokens").cast("double").alias("score"),
    )
    return j.unionByName(s)


def q_simhash(spark, sf_dir):
    return D.simhash16(_t(spark, sf_dir, "documents"))


def q_winnow_fingerprint(spark, sf_dir):
    return D.winnow_fingerprints(_t(spark, sf_dir, "documents"))


def q_chunk_dedup(spark, sf_dir):
    return D.cdc_chunk_stats(_t(spark, sf_dir, "documents"))


def q_tfidf_top_terms(spark, sf_dir):
    return T.tfidf_top_terms(_t(spark, sf_dir, "documents"))


def q_robots_filter(spark, sf_dir):
    """Robots path-prefix blocking (operators/robots.py blocked_expr,
    reference-quirk rule: hosts ≡ 7 mod 16 disallow prefix /p/3) as an
    oracle slice: synthesize candidate URLs from orders (host = o_custkey
    mod 64, path = /p/<orderkey>), run the REAL URL parse + predicate —
    host_num regex with NULL-safe try_cast, path_of, blocked_expr — and
    report the per-host admission histogram a frontier round reads.
    Pure Catalyst end to end (no UDF, no Python)."""
    from .functions import urls as U
    from .operators.robots import blocked_expr

    url = F.concat(
        F.lit("http://h"),
        F.lpad((F.col("o_custkey") % 64).cast("string"), 4, "0"),
        F.lit(".test/p/"),
        F.col("o_orderkey").cast("string"),
    )
    cand = _t(spark, sf_dir, "orders").select(url.alias("url"))
    return (
        cand.withColumn("host_num", U.host_num(F.col("url")))
        .withColumn("blocked", blocked_expr(F.col("url")))
        .groupBy("host_num")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(F.col("blocked").cast("int")).cast("long").alias("n_blocked"),
        )
    )


def q_repetition_stats(spark, sf_dir):
    return T.repetition_stats(_t(spark, sf_dir, "documents"))


def q_contamination_report(spark, sf_dir):
    return T.contamination_report(_t(spark, sf_dir, "documents"))


PACK_SEQ_LEN = 64  # tokens per packed training sequence (fixture scale)
MIX_TARGETS = {"en": 0.4, "de": 0.3, "fr": 0.2, "es": 0.1}


def q_sequence_pack(spark, sf_dir):
    """GPT-style packing manifest: documents concatenated in doc_id order
    and sliced into PACK_SEQ_LEN-token sequences — each doc's global token
    prefix, spanned sequence range, and offset in its first sequence
    (operators/packing.py; the global prefix-sum is range-chunk
    decomposed, never a single-task window). Oracle: the identical SQL
    window cumsum."""
    from .operators.packing import sequence_pack

    return sequence_pack(_t(spark, sf_dir, "documents"), seq_len=PACK_SEQ_LEN)


def q_domain_mix_weights(spark, sf_dir):
    """Data-mixture reweighting: per-doc sampling weight =
    target_share / actual_share of the doc's guessed language, so
    weighted sampling reproduces MIX_TARGETS (strata not in the target
    get 0). One tiny broadcast aggregate — no corpus shuffle."""
    from .operators.packing import domain_mix_weights

    return domain_mix_weights(
        _t(spark, sf_dir, "documents"), MIX_TARGETS,
        persisted=_swap_persisted("domain_mix_weights"),
    )


def q_stratified_sample(spark, sf_dir):
    return T.stratified_sample(_t(spark, sf_dir, "documents"))


# the driver documents have no natural line structure (one period-free
# sentence per doc), so the line-dedup query plants a shared boilerplate
# footer on every 5th doc in BOTH engines — same pattern as the planted
# embedding near-dups — and the operator must flag exactly those lines
BOILERPLATE = "all rights reserved copyright footer"


def q_line_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(5)) == 0,
            F.concat(F.col("text"), F.lit(f". {BOILERPLATE}")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return T.line_dedup_stats(docs)


def q_neardup_clusters(spark, sf_dir):
    """Fuzzy-dedup keeper election: connected components over the
    LSH-verified Jaccard pairs (a chain a~b~c collapses to one cluster
    even though a~c was never compared); singletons keep themselves."""
    from .operators.components import neardup_clusters

    docs = _t(spark, sf_dir, "documents")
    return neardup_clusters(
        docs,
        D.jaccard_verified_pairs(docs, persisted=_swap_persisted("neardup_clusters")),
    )


def _query_vec(spark, sf_dir):
    row = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    return list(row["embedding"])


def q_embedding_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, _query_vec(spark, sf_dir), k=10)


def q_label_centroids(spark, sf_dir):
    return S.label_centroid_norms(_t(spark, sf_dir, "embeddings"))


KMEANS_ITERS = 2


def q_kmeans_clusters(spark, sf_dir):
    """Lloyd's k-means over the embedding table (similarity.kmeans_fit):
    the codebook trainer whose output slots into ivf_assign /
    write_cell_partitioned. Assignment is a BLAS matmul per Arrow batch;
    the update is a posexplode partial agg; the oracle replays both
    rounds as chained CTEs over the inlined md5 init codebook. The
    exchange format is the FLAT (cell, n, dim, c_micro) codebook —
    scalar integer micro-units, one row per coordinate — because the
    driver's canonicalizer cannot sort array<double> cells
    (CORRECTNESS_r06 red row: unhashable list in sort_values)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.kmeans_fit_flat(
        emb, EMB_DIM, n_centroids=N_CENTROIDS, n_iters=KMEANS_ITERS
    )


EMB_DIM = 64
N_PLANES = 8


N_FLIP = 1  # multi-probe radius: query bucket + all 1-bit-adjacent buckets


def q_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_topk(emb, _query_vec(spark, sf_dir), EMB_DIM, k=10, n_planes=N_PLANES, n_flip=N_FLIP)


def _ensure_layout(spark, sf_dir: str, name: str, build, src_table: str = "embeddings") -> str:
    """Materialize a derived table layout once per sf_dir into a temp
    cache (the one-time rewrite_data_files analog) and return its path.
    Cache key = source identity + CONTENT fingerprint (mtime+size): a
    regenerated sf_dir at the same path must rebuild, not silently score
    against the old layout. Build into a unique staging dir and publish
    by atomic rename so concurrent processes never overwrite each other
    (loser discards its staging)."""
    import glob
    import hashlib
    import shutil
    import tempfile
    import time

    src = os.path.join(sf_dir, f"{src_table}.parquet")
    st = os.stat(src)
    tag = hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"{name}_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # sweep staging dirs orphaned by crashed builders of this same tag
        # (age-guarded: a LIVE concurrent builder's staging is recent)
        for orphan in glob.glob(f"{path}.tmp*"):
            try:
                if time.time() - os.path.getmtime(orphan) > 3600:
                    shutil.rmtree(orphan, ignore_errors=True)
            except FileNotFoundError:
                pass
        staging = f"{path}.tmp{os.getpid()}"
        build(staging)
        try:
            os.rename(staging, path)
        except OSError:
            # only a concurrent winner justifies discarding the build; any
            # other rename failure (permissions, cross-device tempdir)
            # must surface, not silently throw the layout away and then
            # fail the read with an opaque missing-path error
            shutil.rmtree(staging, ignore_errors=True)
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                raise
    return path


def q_ann_topk_partitioned(spark, sf_dir):
    """ann_topk with the bucket as the vector table's PARTITION KEY — the
    scan prunes to the probe set's directories instead of mapping every
    row through the sign matmul (operators/similarity.py
    ann_topk_partitioned); the oracle is ann_topk's — identical results,
    different physical plan."""
    path = _ensure_layout(
        spark, sf_dir, f"ann_bucketed_p{N_PLANES}",
        lambda staging: S.write_bucket_partitioned(
            _t(spark, sf_dir, "embeddings"), staging, EMB_DIM, N_PLANES
        ),
    )
    return S.ann_topk_partitioned(
        spark, path, _query_vec(spark, sf_dir), EMB_DIM, k=10, n_planes=N_PLANES, n_flip=N_FLIP
    )


def q_ivf_topk_partitioned(spark, sf_dir):
    """ivf_topk with the inverted-list CELL as the vector table's
    partition key — the n_probe restriction becomes a partition filter
    (operators/similarity.py ivf_topk_partitioned), completing the layout
    triad (ANN sign-LSH buckets, pagerank src buckets, IVF cells). Oracle
    is ivf_topk's — identical results, different physical plan."""
    path = _ensure_layout(
        spark, sf_dir, "ivf_cells",
        lambda staging: S.write_cell_partitioned(
            _t(spark, sf_dir, "embeddings"), staging, EMB_DIM
        ),
    )
    return S.ivf_topk_partitioned(
        spark, path, _query_vec(spark, sf_dir), k=10,
        n_centroids=N_CENTROIDS, n_probe=N_PROBE,
    )


# near-dup augmentation: the driver's embeddings are random unit vectors
# (no natural near-dups at 0.9), so the query plants deterministic ones —
# vec_id < N_DUP re-enters as vec_id+1e6 with +0.02 on every component
# (cos ≈ 0.99) — and the banded-LSH result is checked non-trivially against
# the oracle doing the identical augmentation in SQL.
N_DUP = 16
DUP_EPS = "0.02"


def _augmented_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"))
    dups = emb.filter(F.col("vec_id") < N_DUP).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr(f"transform(embedding, x -> CAST(x AS DOUBLE) + {DUP_EPS}D)").alias("embedding"),
    )
    return base.unionByName(dups)


def q_embedding_dedup_pairs(spark, sf_dir):
    return S.embedding_dedup_pairs(_augmented_embeddings(spark, sf_dir), EMB_DIM, 0.9)


N_CENTROIDS = 16
N_PROBE = 4


def q_ivf_topk(spark, sf_dir):
    return S.ivf_topk(
        _t(spark, sf_dir, "embeddings"),
        _query_vec(spark, sf_dir),
        EMB_DIM,
        k=10,
        n_centroids=N_CENTROIDS,
        n_probe=N_PROBE,
    )


q_ann_topk_layouts = _layout_union(
    [("flat", q_ann_topk), ("partitioned", q_ann_topk_partitioned)]
)
q_ivf_topk_layouts = _layout_union(
    [("flat", q_ivf_topk), ("partitioned", q_ivf_topk_partitioned)]
)


def q_salted_host_agg(spark, sf_dir):
    from .operators.skew import salted_host_counts

    return salted_host_counts(_t(spark, sf_dir, "lineitem"))


def q_clean_corpus_stats(spark, sf_dir):
    """Composite training-data pipeline: exact-dedup keepers → quality gate
    → per-language corpus stats — the shape of a real pretraining-data
    cleaning job (each stage is an operator tested on its own)."""
    docs = _t(spark, sf_dir, "documents")
    keepers = D.exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    # r9b (guide §1.2): the quality gate is a narrow per-row projection of
    # docs, so gating in place (with_quality_cols) drops the former
    # docs ⋈ quality doc_id self-join — one join (keepers) remains; same
    # rows (doc_id is unique, the gate is 1:1), same n_tokens values
    kept = (
        T.with_quality_cols(docs)
        .filter(F.col("quality_ok"))
        .join(keepers, "doc_id")
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 3).alias("avg_tokens"),
        F.sum(F.col("n_chars")).cast("long").alias("total_chars"),
    )


def q_anchor_text_index(spark, sf_dir):
    """Anchor-text index build — the classic crawl post-processing op
    (anchor words of incoming links describe the TARGET page; search
    rankers index them next to pagerank): over the o→p link graph, per
    target URL collect the lexicographically-first 5 distinct anchor
    tokens (words of l_comment, lowercased, ≥3 letters) and the count of
    distinct linking pages that contributed ≥1 qualifying token.

    The fixture's anchor text is the target's p_name words (the testdata
    carries no per-link text column) — the OPERATOR shape is the point:
    per-target distinct-token aggregation across incoming links.

    100-TB shape (r9 rewrite — guide §2.3/§2.4 "shuffle fewer bytes /
    remove shuffles"): the anchor text here is a pure FUNCTION OF THE
    TARGET (the fixture's per-link text is the target's p_name words),
    so the per-(url, src_page, token) explode over the fact side is
    algebraically redundant — every lineitem row of a part contributes
    the identical token set. The query therefore (a) tokenizes once per
    PART on the dim side and keeps only parts with ≥1 qualifying token,
    (b) counts distinct linking pages per part over the RAW fact rows
    (two-level countDistinct agg, no Generate in the plan, the exchange
    carries (int, int) pairs instead of exploded token strings — ~5×
    fewer exchange rows), and (c) broadcast-joins the per-part token
    list back AFTER the aggregate, rendering the top-5 as the same
    comma-joined STRING (arrays can't cross the driver's pandas
    canonicalizer — the kmeans r6 lesson). Identical results: a url row
    exists iff the part has ≥1 token of length ≥3 (otherwise the old
    explode emitted nothing), n_link_pages never depended on WHICH
    token qualified, and sort_array(collect_set(token)) over identical
    per-row token sets is exactly the sorted distinct token list.
    Plan-asserted in tests/test_plans.py."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_orderkey")
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.filter(
            F.array_distinct(F.split(F.lower(F.col("p_name")), "[^a-z]+")),
            lambda t: F.length(t) >= 3,
        ).alias("_toks"),
    ).filter(F.size("_toks") > 0)
    cnt = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_link_pages")
    )
    return cnt.join(F.broadcast(part), cnt.l_partkey == part.p_partkey).select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("url"),
        "n_link_pages",
        F.array_join(F.slice(F.sort_array("_toks"), 1, 5), ",").alias("top_tokens"),
    )


# ------------------------------------------------- multimodal (audio/video)
#
# The driver testdata has no audio/video tables, so these queries
# synthesize their input deterministically (pure functions of (seed, i),
# fixtures/corpus.py) and run the REAL operators over the binary columns:
# Spark decodes actual RIFF/WAVE bytes with the stdlib wave module /
# walks actual FVID containers, while the DuckDB oracle is an
# independently-computed VALUES table derived straight from the sample
# generators (never through the codec round-trip) — a genuine two-path
# check of the distributed decode pipeline.

N_CLIPS = 64
N_VIDS = 16
FRAME_EVERY = 10


def _gen_distributed(spark, n, make_row, id_col):
    """Synthesize fixture blobs INSIDE workers from an index range — a
    driver-side pandas list would ship every payload in the task binary
    (Spark warns at >1 MiB tasks), and at any real count would bottleneck
    on the driver; this is the corpus-builder pattern."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [make_row(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[id_col, "bytes"])

    return (
        spark.range(n)
        .repartition(8)
        .mapInPandas(gen, schema=f"{id_col} string, bytes binary")
    )


def q_audio_features(spark, sf_dir):
    from .fixtures import corpus as C
    from .operators.multimodal import audio_features

    spec = C.CorpusSpec(n=N_CLIPS)
    df = _gen_distributed(
        spark, N_CLIPS, lambda i: C.make_audio_row(i, spec), "clip_id"
    )
    f = audio_features(df)
    return f.select(
        "clip_id",
        F.round("duration_s", 6).alias("duration_s6"),
        "sample_rate",
        "n_channels",
        F.round("rms", 6).alias("rms6"),
        F.round("peak", 6).alias("peak6"),
    )


def q_video_frame_sample(spark, sf_dir):
    from .fixtures import corpus as C
    from .operators.multimodal import sample_video_frames

    spec = C.CorpusSpec(n=N_VIDS)
    df = _gen_distributed(
        spark, N_VIDS, lambda i: C.make_video_row(i, spec), "video_id"
    )
    sampled = sample_video_frames(df, every_n=FRAME_EVERY)
    return sampled.select(
        "video_id", "frame_idx", "n_frames", F.sha2(F.col("bytes"), 256).alias("frame_sha")
    )


# image near-dup plant: IMG_N base images from the corpus pixel generator
# plus IMG_PLANT perturbed copies (copy j of base j*32, additive noise in
# [-IMG_AMP, IMG_AMP]); at IMG_AMP=4 most copies land at phash Hamming 0-2
# and at least one at 4 — exercising BOTH sides of the <=3 verify filter —
# while the 512 base images have zero natural pairs within 3
IMG_N = 512
IMG_PLANT = 16
IMG_AMP = 4


def _neardup_image_pixels(i: int, spec):
    import numpy as np

    from .fixtures import corpus as C

    if i < IMG_N:
        return C.raw_pixels(i, spec)
    base = C.raw_pixels((i - IMG_N) * 32, spec)
    rng = np.random.Generator(np.random.PCG64(777000 + i))
    noise = rng.integers(-IMG_AMP, IMG_AMP + 1, size=base.shape)
    return np.clip(base.astype(np.int16) + noise, 0, 255).astype(np.uint8)


def _make_neardup_image_row(i: int, spec) -> dict:
    from .fixtures import corpus as C

    return {
        "image_id": f"img{i:05d}",
        "bytes": C.encode_image(_neardup_image_pixels(i, spec), "png"),
    }


def q_image_neardup(spark, sf_dir):
    """Image near-dup pairs over DECODED payloads: distributed generation →
    lossless FPNG encode → image_features (decode + 8×8-DCT phash) →
    Manku-banded Hamming-<=3 pairing (operators/multimodal.py). The oracle
    computes the phashes generator-side (pixels → phash64, never touching
    the codec) and re-derives the banding + bit_count verify relationally —
    the two paths meet only at the phash values."""
    from .fixtures import corpus as C
    from .operators.multimodal import image_features, phash_neardup_pairs

    spec = C.CorpusSpec(n=IMG_N + IMG_PLANT)
    df = _gen_distributed(
        spark, IMG_N + IMG_PLANT, lambda i: _make_neardup_image_row(i, spec), "image_id"
    )
    ph = image_features(df).select("image_id", "phash")
    return phash_neardup_pairs(
        ph, max_hamming=3, n_bands=4, persisted=_swap_persisted("image_neardup")
    )


IMG_FEAT_N = 128  # image-feature/resize query corpus (base images only)


def q_image_features(spark, sf_dir):
    """Image decode + feature extraction over the full Spark path
    (distributed generation → FPNG encode → decode → channel means / luma /
    DCT phash); the oracle computes the same features straight from the
    generator's pixel arrays (no codec round-trip)."""
    from .fixtures import corpus as C
    from .operators.multimodal import image_features

    spec = C.CorpusSpec(n=IMG_FEAT_N)
    df = _gen_distributed(
        spark, IMG_FEAT_N, lambda i: _make_neardup_image_row(i, spec), "image_id"
    )
    f = image_features(df)
    return f.select(
        "image_id",
        "w",
        "h",
        F.round("mean_r", 4).alias("mean_r4"),
        F.round("mean_g", 4).alias("mean_g4"),
        F.round("mean_b", 4).alias("mean_b4"),
        F.round("luma", 4).alias("luma4"),
        "phash",
    )


def q_image_resize(spark, sf_dir):
    """Nearest-neighbor batch resize to 16×16, re-encoded lossless; the
    oracle resizes the generator's pixel arrays with the same index rule
    driver-side and compares payload sha256 (decode(encode(x)) == x for
    the lossless fake codec, so the codec round-trip is the only thing the
    Spark path adds)."""
    from .fixtures import corpus as C
    from .operators.multimodal import resize_images

    spec = C.CorpusSpec(n=IMG_FEAT_N)
    df = _gen_distributed(
        spark, IMG_FEAT_N, lambda i: _make_neardup_image_row(i, spec), "image_id"
    )
    return resize_images(df, 16, 16).select(
        "image_id", "w", "h", F.sha2(F.col("bytes"), 256).alias("payload_sha")
    )


SESSION_GAP_MS = 43_200_000  # 12 h — the sf events' median per-user gap is ~7.4 h


def q_session_stats(spark, sf_dir):
    """Gap-based batch sessionization of the event log
    (streaming/sessions.session_stats) — the relational twin of the
    applyInPandasWithState reaper. Exact-integer epoch-ms arithmetic, one
    user_id Exchange shared by both windows and the aggregate."""
    from .streaming.sessions import session_stats

    return session_stats(_t(spark, sf_dir, "events"), gap_ms=SESSION_GAP_MS)


def q_windowed_metrics(spark, sf_dir):
    from .streaming.windows import windowed_counts

    return windowed_counts(_t(spark, sf_dir, "events"), "1 hour").select(
        F.unix_timestamp("w_start").alias("w_epoch"), "event_type", "n", "sum_value"
    )


def q_cdc_changes(spark, sf_dir):
    """Changelog read over the AtomicTable CAS snapshot chain
    (catalog/changes.py — Delta-CDF op vocabulary over the control-plane
    tables, the reference's Postgres-WAL-tailing analog,
    Server/LockServer/lockServer.go job-state mutations). The query
    materializes two deterministic snapshots of an orders-derived control
    table (v1 = keys ≡ 0 mod 40; v2 deletes multiples of 120, flips
    o_orderstatus to 'X' on multiples of 80, inserts keys ≡ 20 mod 40) in a
    fresh AtomicTable and reads the (start=v1] incremental changeset; the
    oracle derives the identical diff relationally from the same mod
    classes."""
    import tempfile

    import pandas as pd

    from .catalog.changes import changes_df, snapshots
    from .catalog.tables import AtomicTable
    from .plans.ledger import Delta, _PandasTable

    import shutil

    base = pd.read_parquet(
        os.path.join(sf_dir, "orders.parquet"), columns=["o_orderkey", "o_orderstatus"]
    )
    wh = tempfile.mkdtemp(prefix="cdc_wh_")
    try:
        t = _PandasTable(wh, "orders_cdc", {"o_orderkey": "int64", "o_orderstatus": "object"})

        def commit(new):
            # replace the table's rows by `new`, as one keyed delta
            t.mutate(lambda df: (Delta(ups=new, dels=sorted(set(df.o_orderkey) - set(new.o_orderkey))), None))

        v1 = base[base.o_orderkey % 40 == 0].sort_values("o_orderkey").reset_index(drop=True)
        commit(v1)
        v2 = v1[v1.o_orderkey % 120 != 0].copy()
        v2.loc[v2.o_orderkey % 80 == 0, "o_orderstatus"] = "X"
        v2 = (
            pd.concat([v2, base[base.o_orderkey % 40 == 20]])
            .sort_values("o_orderkey")
            .reset_index(drop=True)
        )
        commit(v2)
        snaps = snapshots(AtomicTable(wh, "orders_cdc"))
        assert snaps == [1, 2], snaps  # fresh dir -> the oracle's literal _version
        # changes_df materializes the diff driver-side (createDataFrame from
        # pandas), so the scratch warehouse can be removed immediately
        df = changes_df(spark, wh, "orders_cdc", key="o_orderkey", start_version=snaps[0])
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return df.select(
        F.col("_version").cast("long"),
        "_op",
        F.col("o_orderkey").cast("long"),
        "o_orderstatus",
    )


# ------------------------------------------------------------------- oracles

_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"
_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, ws[k] || ' ' || ws[k+1] || ' ' || ws[k+2] AS s
  FROM toks, UNNEST(range(1, len(ws) - 1)) t(k)
)"""


# the (a_i, b_i) literals and modulus are the very values the Spark operator
# uses (operators/dedup.py mh_coeffs) — both engines hash identically
_SHB_CTE = f"shb AS (SELECT doc_id, ({hash60_sql('s')} & {D._MH_MASK}) AS h30 FROM sh)"


def _minhash_cols() -> str:
    parts = []
    for i, (a, b) in enumerate(D.mh_coeffs(D.N_MINHASHES)):
        parts.append(f"min(({a} * h30 + {b}) % {D._MH_P}) AS h{i}")
    return ", ".join(parts)


def _minhash_select() -> str:
    return f"WITH {_SHINGLES_CTE}, {_SHB_CTE} SELECT doc_id, {_minhash_cols()} FROM shb GROUP BY doc_id"


def _bkeys_sql() -> str:
    """Band-key projection of the sig CTE, one SELECT per band."""
    selects = []
    for b in range(D.N_MINHASHES // D.ROWS_PER_BAND):
        key = " || '_' || ".join(
            f"CAST(h{b * D.ROWS_PER_BAND + j} AS VARCHAR)" for j in range(D.ROWS_PER_BAND)
        )
        selects.append(f"SELECT doc_id, {b} AS band, {key} AS key FROM sig")
    return " UNION ALL ".join(selects)


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(16)
    )
    bits = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
tok AS (SELECT DISTINCT doc_id, w FROM toks, UNNEST(ws) t(w)),
hashed AS (SELECT doc_id, {hash60_sql('w')} AS h FROM tok),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes"""


def _bucket_sql(vec_expr: str) -> str:
    """Sign-LSH bucket of a DOUBLE[] expression: the hyperplanes are the
    SAME Python-computed ±1 vectors the Spark operator uses, inlined as
    list literals — both engines bucket identically by construction."""
    from .operators.similarity import hyperplane

    terms = []
    for p in range(N_PLANES):
        lit = "[" + ", ".join(str(x) for x in hyperplane(EMB_DIM, p)) + "]"
        terms.append(f"(CASE WHEN round(list_dot_product({vec_expr}, {lit}), 6) > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _lang_markers_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.LANG_MARKERS[lang])
    return f"len(list_filter({_TOKS}, x -> x IN ({words})))"


ORACLE_SQL: Dict[str, str] = {
    "bfs_frontier": f"""
WITH RECURSIVE edges AS (
  SELECT concat('o', l_orderkey) AS src, concat('p', l_partkey) AS dst FROM lineitem
  UNION
  SELECT concat('p', l_partkey), concat('o', l_orderkey) FROM lineitem
), seed AS (SELECT concat('o', min(o_orderkey)) AS u FROM orders),
bfs(url, depth) AS (
  SELECT u, 0 FROM seed
  UNION
  SELECT e.dst, b.depth + 1 FROM bfs b JOIN edges e ON e.src = b.url WHERE b.depth < {BFS_DEPTH}
)
SELECT url, CAST(min(depth) AS INT) AS depth FROM bfs GROUP BY url""",
    "frontier_anti_join": """
SELECT DISTINCT o_custkey AS cust_id FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)""",
    "depth_collect": """
SELECT event_type, count(DISTINCT user_id) AS n_users,
       string_agg(DISTINCT CAST(user_id AS VARCHAR), ',' ORDER BY CAST(user_id AS VARCHAR)) AS users_csv
FROM events GROUP BY event_type""",
    "recovery_scan": """
SELECT o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch FROM orders
WHERE o_orderstatus = 'O' ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 10""",
    "politeness_window": """
SELECT l_suppkey, l_orderkey, l_linenumber, CAST(rn AS INT) AS rn FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
  FROM lineitem
) WHERE rn <= 3""",
    "politeness_fairness": """
WITH waits AS (
  SELECT l_suppkey,
         CAST(ceil(row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) / 3.0) AS BIGINT) - 1 AS wait
  FROM lineitem
)
SELECT l_suppkey, count(*) AS n_queued, max(wait) AS max_wait, round(avg(wait), 4) AS avg_wait
FROM waits GROUP BY l_suppkey""",
    "status_histogram": """
SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders GROUP BY 1, 2""",
    "late_requeue": """
SELECT event_type, count(*) AS n_late FROM events
WHERE ts < (SELECT max(ts) - INTERVAL 1 HOUR FROM events) GROUP BY event_type""",
    "cache_truncation": """
WITH ranked AS (
  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS first3_csv
FROM ranked WHERE rn <= 3 GROUP BY user_id""",
    "exact_dedup": """
SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_copies FROM documents GROUP BY 1""",
    "token_count": f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_bpeish_tokens,
       CAST(length(text) AS INT) AS n_chars_measured
FROM documents""",
    "quality_score": f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS INT) AS n_tokens,
       round(CAST(len(list_filter({_TOKS}, x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
             / len({_TOKS}), 4) AS stopword_ratio,
       round(CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE) / length(text), 4) AS punct_ratio,
       (len({_TOKS}) BETWEEN 20 AND 2000)
         AND (CAST(len(list_filter({_TOKS}, x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
              / len({_TOKS}) < 0.5) AS quality_ok
FROM documents""",
    "lang_id": f"""
SELECT doc_id, lang,
  CASE
    WHEN {_lang_markers_sql('en')} > 0 AND {_lang_markers_sql('en')} >= {_lang_markers_sql('de')}
         AND {_lang_markers_sql('en')} >= {_lang_markers_sql('fr')} AND {_lang_markers_sql('en')} >= {_lang_markers_sql('es')} THEN 'en'
    WHEN {_lang_markers_sql('de')} > 0 AND {_lang_markers_sql('de')} >= {_lang_markers_sql('fr')}
         AND {_lang_markers_sql('de')} >= {_lang_markers_sql('es')} THEN 'de'
    WHEN {_lang_markers_sql('fr')} > 0 AND {_lang_markers_sql('fr')} >= {_lang_markers_sql('es')} THEN 'fr'
    WHEN {_lang_markers_sql('es')} > 0 THEN 'es'
    ELSE 'unknown'
  END AS lang_guess
FROM documents""",
    "doc_fingerprint": """
SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp FROM documents""",
    "sequence_pack": f"""
WITH toks AS (
  SELECT doc_id, CAST(len({_TOKS}) AS INT) AS n_tokens FROM documents
),
pre AS (
  -- CAST: DuckDB's window sum(BIGINT) returns HUGEINT, which pandas
  -- materializes as float64 — the driver's dtype-sensitive hash then
  -- sees 123.0 vs Spark's 123 (CORRECTNESS_r06 red row)
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(CAST(n_tokens AS BIGINT))
                  OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
  FROM toks
)
SELECT doc_id, n_tokens, tok_start,
       tok_start // {PACK_SEQ_LEN} AS seq_first,
       greatest((tok_start + n_tokens - 1) // {PACK_SEQ_LEN}, tok_start // {PACK_SEQ_LEN}) AS seq_last,
       tok_start % {PACK_SEQ_LEN} AS offset_in_first
FROM pre""",
    "domain_mix_weights": f"""
WITH lang AS (
  SELECT doc_id,
  CASE
    WHEN {_lang_markers_sql('en')} > 0 AND {_lang_markers_sql('en')} >= {_lang_markers_sql('de')}
         AND {_lang_markers_sql('en')} >= {_lang_markers_sql('fr')} AND {_lang_markers_sql('en')} >= {_lang_markers_sql('es')} THEN 'en'
    WHEN {_lang_markers_sql('de')} > 0 AND {_lang_markers_sql('de')} >= {_lang_markers_sql('fr')}
         AND {_lang_markers_sql('de')} >= {_lang_markers_sql('es')} THEN 'de'
    WHEN {_lang_markers_sql('fr')} > 0 AND {_lang_markers_sql('fr')} >= {_lang_markers_sql('es')} THEN 'fr'
    WHEN {_lang_markers_sql('es')} > 0 THEN 'es'
    ELSE 'unknown'
  END AS language
  FROM documents
),
shares AS (
  SELECT language, CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM lang) AS actual_share
  FROM lang GROUP BY 1
),
tgt(language, target_share) AS (VALUES ('de', 0.3), ('en', 0.4), ('es', 0.1), ('fr', 0.2))
SELECT l.doc_id, l.language,
       round(coalesce(t.target_share / s.actual_share, 0.0), 6) AS weight
FROM lang l JOIN shares s USING (language) LEFT JOIN tgt t USING (language)""",
    "minhash_signature": _minhash_select(),
    "minhash_lsh_pairs": f"""
WITH {_SHINGLES_CTE}, {_SHB_CTE},
sig AS (SELECT doc_id, {_minhash_cols()} FROM shb GROUP BY doc_id),
bkeys AS ({_bkeys_sql()})
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM bkeys a JOIN bkeys b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id < b.doc_id""",
    "jaccard_verified_pairs": f"""
WITH {_SHINGLES_CTE}, {_SHB_CTE},
sig AS (SELECT doc_id, {_minhash_cols()} FROM shb GROUP BY doc_id),
bkeys AS ({_bkeys_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bkeys a JOIN bkeys b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.a_id, c.b_id, count(*) AS inter
  FROM cand c JOIN sh a ON a.doc_id = c.a_id JOIN sh b ON b.doc_id = c.b_id AND b.s = a.s
  GROUP BY 1, 2
)
SELECT a_id, b_id, round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) >= 0.25""",
    "simhash": _simhash_sql(),
    "embedding_topk": """
WITH scored AS (
  SELECT vec_id,
         list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS cos
  FROM embeddings
), ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY round(cos, 6) DESC, vec_id ASC) AS INT) AS rank, vec_id, round(cos, 2) AS sim_bucket
  FROM scored
)
SELECT rank, vec_id, sim_bucket FROM ranked WHERE rank <= 10""",
    "label_centroids": """
SELECT label, count(*) AS n,
       round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 3) AS avg_norm
FROM embeddings GROUP BY label""",
    "salted_host_agg": """
SELECT l_suppkey, count(*) AS n_rows,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem GROUP BY l_suppkey""",
    "windowed_metrics": """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS w_epoch, event_type,
       count(*) AS n, round(sum(value), 3) AS sum_value
FROM events GROUP BY 1, 2""",
}

ORACLE_SQL["clean_corpus_stats"] = f"""
WITH keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), quality AS (
  SELECT doc_id, CAST(len({_TOKS}) AS INT) AS n_tokens
  FROM documents
  WHERE (len({_TOKS}) BETWEEN 20 AND 2000)
    AND (CAST(len(list_filter({_TOKS}, x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
         / len({_TOKS}) < 0.5)
)
SELECT d.lang, count(*) AS n_docs, round(avg(q.n_tokens), 3) AS avg_tokens,
       CAST(sum(d.n_chars) AS BIGINT) AS total_chars
FROM documents d JOIN keepers k ON d.doc_id = k.doc_id JOIN quality q ON q.doc_id = d.doc_id
GROUP BY d.lang"""

def _probe_masks_sql() -> str:
    from .operators.similarity import probe_masks

    return "(" + ", ".join(str(m) for m in probe_masks(N_PLANES, N_FLIP)) + ")"


ORACLE_SQL["ann_topk"] = f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, {_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
  FROM embeddings
), q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0),
scored AS (
  SELECT vec_id, list_cosine_similarity(e, (SELECT qe FROM q)) AS cos
  FROM b WHERE xor(bucket, (SELECT qb FROM q)) IN {_probe_masks_sql()}
), ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY round(cos, 6) DESC, vec_id ASC) AS INT) AS rank, vec_id, round(cos, 2) AS sim_bucket
  FROM scored
)
SELECT rank, vec_id, sim_bucket FROM ranked WHERE rank <= 10"""

# identical result set, different physical plan (partition pruning instead
# of a per-row bucket map) — the oracle is deliberately shared
ORACLE_SQL["ann_topk_partitioned"] = ORACLE_SQL["ann_topk"]


def _pagerank_oracle_sql(n_iters: int, d: float) -> str:
    """The pagerank() iteration rendered as chained CTEs: same node set,
    same per-edge 1/outdeg weights, same (1-d)/N + d*inflow update, same
    dangling-mass-drop semantics, rounded to 6 dp at the end."""
    sql = f"""WITH edges AS (
  SELECT concat('o', l_orderkey) AS src, concat('p', l_partkey) AS dst FROM lineitem
  UNION ALL
  SELECT concat('p', l_partkey), concat('o', l_orderkey) FROM lineitem
),
nodes AS (SELECT DISTINCT src AS url FROM edges UNION SELECT DISTINCT dst FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
ce AS (
  SELECT e.src, e.dst, 1.0 / dg.c AS w
  FROM edges e JOIN (SELECT src, CAST(count(*) AS DOUBLE) AS c FROM edges GROUP BY src) dg USING (src)
),
r0 AS (SELECT url, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    for t in range(1, n_iters + 1):
        sql += f""",
r{t} AS (
  SELECT no.url,
         (1 - {d}) / (SELECT n FROM nn)
         + {d} * coalesce(sum(ce.w * r{t - 1}.rank), 0) AS rank
  FROM nodes no
  LEFT JOIN ce ON ce.dst = no.url
  LEFT JOIN r{t - 1} ON r{t - 1}.url = ce.src
  GROUP BY no.url
)"""
    return sql + f"\nSELECT url, round(rank, 6) AS rank FROM r{n_iters}"


ORACLE_SQL["pagerank"] = _pagerank_oracle_sql(PAGERANK_ITERS, PAGERANK_D)
# the bucketed-layout path must produce the identical ranks
ORACLE_SQL["pagerank_bucketed"] = ORACLE_SQL["pagerank"]


def _hits_oracle_sql(n_iters: int) -> str:
    """operators/hits.py rendered as chained CTEs over the DIRECTED
    order→part edges: hub_0 ≡ 1, auth_t = inflow of hub_{t-1} (join by
    dst), hub_t = outflow of auth_t (join by src), one max-normalization
    + 6-dp round at the end. Every interim value is an exact integer in
    double precision, so this matches the Spark side bit-for-bit."""
    sql = """WITH edges AS (
  SELECT concat('o', l_orderkey) AS src, concat('p', l_partkey) AS dst FROM lineitem
),
nodes AS (SELECT DISTINCT src AS url FROM edges UNION SELECT DISTINCT dst FROM edges),
h0 AS (SELECT url, CAST(1.0 AS DOUBLE) AS hub FROM nodes)"""
    for t in range(1, n_iters + 1):
        sql += f""",
a{t} AS (
  SELECT no.url, coalesce(sum(h.hub), CAST(0 AS DOUBLE)) AS auth
  FROM nodes no
  LEFT JOIN edges e ON e.dst = no.url
  LEFT JOIN h{t - 1} h ON h.url = e.src
  GROUP BY no.url
),
h{t} AS (
  SELECT no.url, coalesce(sum(a.auth), CAST(0 AS DOUBLE)) AS hub
  FROM nodes no
  LEFT JOIN edges e ON e.src = no.url
  LEFT JOIN a{t} a ON a.url = e.dst
  GROUP BY no.url
)"""
    return sql + f"""
SELECT h.url,
       round(h.hub / (SELECT max(hub) FROM h{n_iters}), 6) AS hub,
       round(a.auth / (SELECT max(auth) FROM a{n_iters}), 6) AS auth
FROM h{n_iters} h JOIN a{n_iters} a ON a.url = h.url"""


ORACLE_SQL["hits"] = _hits_oracle_sql(HITS_ITERS)
# the dual-bucketed layout path must produce the identical scores
ORACLE_SQL["hits_bucketed"] = ORACLE_SQL["hits"]

def _ivf_dots_sql(vec_expr: str) -> str:
    """Per-centroid rounded dot products of a DOUBLE[] expression — the
    centroids are the SAME md5-derived codebook the Spark operator uses
    (operators/similarity.py ivf_centroids), inlined as literals."""
    from .operators.similarity import ivf_centroids

    dots = []
    for cvec in ivf_centroids(EMB_DIM, N_CENTROIDS):
        lit = "[" + ", ".join(str(x) for x in cvec) + "]"
        dots.append(f"round(list_dot_product({vec_expr}, {lit}), 6)")
    return "[" + ", ".join(dots) + "]"


ORACLE_SQL["ivf_topk"] = f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
cells AS (
  SELECT vec_id, e, (list_position(ds, list_max(ds)) - 1) AS cell
  FROM (SELECT vec_id, e, {_ivf_dots_sql('e')} AS ds FROM b)
),
q AS (SELECT e AS qe FROM b WHERE vec_id = 0),
qcells AS (
  SELECT i - 1 AS cell
  FROM (SELECT unnest({_ivf_dots_sql('(SELECT qe FROM q)')}) AS v,
               unnest(range(1, {N_CENTROIDS} + 1)) AS i)
  ORDER BY v DESC, i ASC LIMIT {N_PROBE}
),
scored AS (
  SELECT c.vec_id, list_cosine_similarity(c.e, (SELECT qe FROM q)) AS cos
  FROM cells c JOIN qcells ON c.cell = qcells.cell
),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY round(cos, 6) DESC, vec_id ASC) AS INT) AS rank,
         vec_id, round(cos, 2) AS sim_bucket
  FROM scored
)
SELECT rank, vec_id, sim_bucket FROM ranked WHERE rank <= 10"""
# the cell-partitioned layout path must produce identical results
ORACLE_SQL["ivf_topk_partitioned"] = ORACLE_SQL["ivf_topk"]

ORACLE_SQL["anchor_text_index"] = """
WITH tok AS (
  SELECT concat('p', l.l_partkey) AS url, l.l_orderkey AS src_page,
         unnest(list_distinct(string_split_regex(lower(p.p_name), '[^a-z]+'))) AS token
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
)
SELECT url, CAST(count(DISTINCT src_page) AS BIGINT) AS n_link_pages,
       array_to_string(list_sort(list_distinct(list(token)))[1:5], ',') AS top_tokens
FROM tok WHERE length(token) >= 3 GROUP BY url"""

# exact substring dedup (Lee et al. 2022): pairs sharing >= 1 exact
# L-token gram, with max shared run recovered via gaps-and-islands on
# each (pa - pb) diagonal — identical logic to the Spark operator
# (operators/dedup.py substring_dedup_pairs), same _TOKS tokenization as
# every other text oracle. list_slice is 1-based inclusive; range() is
# end-exclusive and empty when the doc is shorter than L tokens (the
# Spark side's explicit size guard).
_SS_L = 15
ORACLE_SQL["substring_dedup"] = f"""
WITH toksS AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
gramsS AS (
  SELECT doc_id, CAST(k AS INT) AS pos, array_to_string(list_slice(ws, k, k + {_SS_L - 1}), ' ') AS gram
  FROM toksS, UNNEST(range(1, len(ws) - {_SS_L - 2})) t(k)
),
sharedS AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS pa, b.pos AS pb
  FROM gramsS a JOIN gramsS b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
islS AS (
  SELECT a_id, b_id, pa - pb AS diag,
         pa - row_number() OVER (PARTITION BY a_id, b_id, pa - pb ORDER BY pa) AS grp
  FROM sharedS
),
runsS AS (SELECT a_id, b_id, diag, grp, count(*) AS iln FROM islS GROUP BY 1, 2, 3, 4)
SELECT a_id, b_id, CAST(sum(iln) AS BIGINT) AS n_matches,
       CAST({_SS_L} - 1 + max(iln) AS BIGINT) AS max_run_tokens
FROM runsS GROUP BY 1, 2"""

# correctness-window union row (see q_text_dedup_pairs)
ORACLE_SQL["text_dedup_pairs"] = (
    "SELECT 'jaccard' AS kind, a_id, b_id, jaccard AS score FROM (\n"
    + ORACLE_SQL["jaccard_verified_pairs"]
    + "\n)\nUNION ALL\nSELECT 'substring' AS kind, a_id, b_id, "
    "CAST(max_run_tokens AS DOUBLE) AS score FROM (\n"
    + ORACLE_SQL["substring_dedup"]
    + "\n)"
)

# merged layout-union oracles: every physical layout must reproduce the
# single-layout oracle exactly (see _layout_union)
ORACLE_SQL["pagerank"] = _layout_union_oracle(ORACLE_SQL["pagerank"], ["flat", "bucketed"])
ORACLE_SQL["hits"] = _layout_union_oracle(ORACLE_SQL["hits"], ["flat", "bucketed"])
ORACLE_SQL["ann_topk"] = _layout_union_oracle(ORACLE_SQL["ann_topk"], ["flat", "partitioned"])
ORACLE_SQL["ivf_topk"] = _layout_union_oracle(ORACLE_SQL["ivf_topk"], ["flat", "partitioned"])



def _band_key_sql(vec_expr: str, band: int, band_planes: int = 6) -> str:
    """One band's sign-LSH key — SAME hyperplanes + 6-dp rounding as the
    Spark operator (operators/similarity.py band_key), inlined literally."""
    from .operators.similarity import hyperplane

    terms = []
    for j in range(band_planes):
        lit = "[" + ", ".join(str(x) for x in hyperplane(EMB_DIM, band * band_planes + j)) + "]"
        terms.append(
            f"(CASE WHEN round(list_dot_product({vec_expr}, {lit}), 6) > 0 THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _banded_dedup_sql(n_bands: int = 4, band_planes: int = 6) -> str:
    bands = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {_band_key_sql('e', b, band_planes)} AS key FROM aug"
        for b in range(n_bands)
    )
    return f"""
WITH aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, list_transform(CAST(embedding AS DOUBLE[]), x -> x + {DUP_EPS})
  FROM embeddings WHERE vec_id < {N_DUP}
),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id, round(list_cosine_similarity(ea.e, eb.e), 2) AS sim_bucket2
FROM cand c JOIN aug ea ON ea.vec_id = c.a_id JOIN aug eb ON eb.vec_id = c.b_id
WHERE round(list_cosine_similarity(ea.e, eb.e), 2) >= 0.9"""


ORACLE_SQL["embedding_dedup_pairs"] = _banded_dedup_sql()


def _audio_oracle_sql() -> str:
    """Expected audio features computed DIRECTLY from the sample generator
    (numpy over audio_samples), never through the WAV encode/decode path
    the Spark operator exercises — inlined as a VALUES table."""
    import numpy as np

    from .fixtures import corpus as C

    spec = C.CorpusSpec(n=N_CLIPS)
    vals = []
    for i in range(N_CLIPS):
        s = C.audio_samples(i, spec)
        x = s.astype(np.float64) / 32768.0
        vals.append(
            f"('{C.clip_id(i)}', {round(len(s) / C.AUDIO_RATE, 6)!r}, {C.AUDIO_RATE}, 1, "
            f"{round(float(np.sqrt(np.mean(x * x))), 6)!r}, {round(float(np.abs(x).max()), 6)!r})"
        )
    return (
        "SELECT clip_id, CAST(duration_s6 AS DOUBLE) AS duration_s6, "
        "CAST(sample_rate AS INT) AS sample_rate, CAST(n_channels AS INT) AS n_channels, "
        "CAST(rms6 AS DOUBLE) AS rms6, CAST(peak6 AS DOUBLE) AS peak6 "
        "FROM (VALUES " + ", ".join(vals)
        + ") AS t(clip_id, duration_s6, sample_rate, n_channels, rms6, peak6)"
    )


def _video_oracle_sql() -> str:
    """Expected sampled frames: frame payload sha256 computed from the
    generator's per-frame FPNG blob (the container walk is Spark's job)."""
    import hashlib

    from .fixtures import corpus as C

    spec = C.CorpusSpec(n=N_VIDS)
    vals = []
    for i in range(N_VIDS):
        n = C.n_frames_of(i, spec)
        for k in range(0, n, FRAME_EVERY):
            blob = C.encode_image(C.video_frame(i, k, spec), "png")
            sha = hashlib.sha256(blob).hexdigest()
            vals.append(f"('{C.video_id(i)}', {k}, {n}, '{sha}')")
    return (
        "SELECT video_id, CAST(frame_idx AS INT) AS frame_idx, "
        "CAST(n_frames AS INT) AS n_frames, frame_sha "
        "FROM (VALUES " + ", ".join(vals) + ") AS t(video_id, frame_idx, n_frames, frame_sha)"
    )


def _image_neardup_oracle_sql() -> str:
    """Expected phashes computed generator-side (pixels → phash64, no codec
    round-trip); the banding + Hamming verify is re-derived relationally:
    band key b = (phash >> 16b) & 0xFFFF (the & masks off arithmetic-shift
    sign bits, so signed BIGINT shifts match Spark's shiftrightunsigned),
    candidates share any band, verify bit_count(xor) <= 3."""
    from .fixtures import corpus as C

    spec = C.CorpusSpec(n=IMG_N + IMG_PLANT)
    vals = ", ".join(
        f"('img{i:05d}', CAST({int(C.phash64(_neardup_image_pixels(i, spec)))} AS BIGINT))"
        for i in range(IMG_N + IMG_PLANT)
    )
    return f"""
WITH ph AS (SELECT * FROM (VALUES {vals}) AS t(image_id, phash)),
bands AS (
  SELECT image_id, b.b AS band, (phash >> (b.b * 16)) & 65535 AS key
  FROM ph, (VALUES (0), (1), (2), (3)) AS b(b)
),
cand AS (
  SELECT DISTINCT a.image_id AS a_id, b.image_id AS b_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.image_id < b.image_id
)
SELECT a_id, b_id, CAST(bit_count(xor(pa.phash, pb.phash)) AS INT) AS hamming
FROM cand
JOIN ph pa ON pa.image_id = cand.a_id
JOIN ph pb ON pb.image_id = cand.b_id
WHERE bit_count(xor(pa.phash, pb.phash)) <= 3"""


def _r4(x: float) -> float:
    """Spark's F.round semantics (BigDecimal HALF_UP over the double's
    shortest decimal representation) — python's built-in round is
    HALF_EVEN and diverges on the exact .xxxN5 halfway values that pixel
    means (integers / power-of-two pixel counts) hit routinely."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def _image_features_oracle_sql() -> str:
    """Expected features computed from the generator's pixel arrays (same
    numpy ops, no codec round-trip) — VALUES table."""
    from .fixtures import corpus as C

    spec = C.CorpusSpec(n=IMG_FEAT_N)
    vals = []
    for i in range(IMG_FEAT_N):
        arr = _neardup_image_pixels(i, spec)
        m = arr.reshape(-1, 3).mean(axis=0)
        luma = 0.2126 * m[0] + 0.7152 * m[1] + 0.0722 * m[2]
        vals.append(
            f"('img{i:05d}', {arr.shape[1]}, {arr.shape[0]}, {_r4(m[0])!r}, "
            f"{_r4(m[1])!r}, {_r4(m[2])!r}, {_r4(luma)!r}, "
            f"CAST({int(C.phash64(arr))} AS BIGINT))"
        )
    return (
        "SELECT image_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h, "
        "CAST(mean_r4 AS DOUBLE) AS mean_r4, CAST(mean_g4 AS DOUBLE) AS mean_g4, "
        "CAST(mean_b4 AS DOUBLE) AS mean_b4, CAST(luma4 AS DOUBLE) AS luma4, phash "
        "FROM (VALUES " + ", ".join(vals)
        + ") AS t(image_id, w, h, mean_r4, mean_g4, mean_b4, luma4, phash)"
    )


def _image_resize_oracle_sql() -> str:
    """Expected resized payload sha256: the same nearest-neighbor index
    rule applied to the generator's pixels, encoded with the same lossless
    codec, hashed driver-side."""
    import hashlib

    import numpy as np

    from .fixtures import corpus as C

    spec = C.CorpusSpec(n=IMG_FEAT_N)
    vals = []
    for i in range(IMG_FEAT_N):
        arr = _neardup_image_pixels(i, spec)
        h, w, _ = arr.shape
        yi = (np.arange(16) * h // 16).astype(np.intp)
        xi = (np.arange(16) * w // 16).astype(np.intp)
        blob = C.encode_image(arr[np.ix_(yi, xi)], "png")
        vals.append(f"('img{i:05d}', 16, 16, '{hashlib.sha256(blob).hexdigest()}')")
    return (
        "SELECT image_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h, payload_sha "
        "FROM (VALUES " + ", ".join(vals) + ") AS t(image_id, w, h, payload_sha)"
    )


# the multimodal VALUES oracles are EXPENSIVE to render (64 audio clips,
# 16 videos, 528+128 generator pixel arrays + DCT phashes + PNG encodes —
# seconds of driver CPU): build them lazily on the first oracle_sql()
# call instead of at import, so entry()/bench paths that never compare
# against an oracle don't pay for them. Cached into ORACLE_SQL once built.
def _kmeans_oracle_sql() -> str:
    """similarity.kmeans_fit replayed as chained CTEs: c0 = the inlined
    md5 init codebook; per round, assignment = row_number over the
    6-dp-rounded (x·c − |c|²/2) score (ties to the lowest cell — numpy
    argmax first-max), update = per-dim means quantized to integer
    MICRO-units (engines disagree by 1 ulp on round(x, 6) of a double but
    agree on integer rounding) with keep-previous for empty cells; the
    micro/1e6 division re-materializing doubles is correctly rounded in
    both engines, so centroid bits are IDENTICAL and association noise
    cannot compound."""
    from .operators.similarity import ivf_centroid_micros

    # exact rational literals, not printed doubles (see ivf_centroid_micros)
    lits = ", ".join(
        f"({c}, [{', '.join(f'({m} / 1000000.0 - 1.0)' for m in row)}])"
        for c, row in enumerate(ivf_centroid_micros(EMB_DIM, N_CENTROIDS))
    )
    sql = f"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
c0(cell, cen) AS (VALUES {lits})"""
    for r in range(1, KMEANS_ITERS + 1):
        sql += f""",
a{r} AS (
  SELECT vec_id, e, cell FROM (
    SELECT b.vec_id, b.e, c.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             round(list_dot_product(b.e, c.cen) - list_dot_product(c.cen, c.cen) / 2, 6) DESC,
             c.cell ASC) AS rn
    FROM b CROSS JOIN c{r - 1} c) WHERE rn = 1
),
u{r} AS (
  SELECT cell, i - 1 AS dim, CAST(round(avg(v) * 1000000) AS BIGINT) AS cvu, count(*) AS n
  FROM (SELECT cell, unnest(e) AS v, unnest(range(1, {EMB_DIM} + 1)) AS i FROM a{r})
  GROUP BY cell, i
)"""
        if r < KMEANS_ITERS:
            sql += f""",
c{r} AS (
  SELECT c{r - 1}.cell, coalesce(l.cen, c{r - 1}.cen) AS cen
  FROM c{r - 1} LEFT JOIN (
    SELECT cell, list(CAST(cvu AS DOUBLE) / 1000000.0 ORDER BY dim) AS cen
    FROM u{r} GROUP BY cell
  ) l ON l.cell = c{r - 1}.cell
)"""
    last_c, last_u = KMEANS_ITERS - 1, KMEANS_ITERS
    # flat scalar projection (cell, n, dim, c_micro): unnest the final
    # input codebook for empty-cell fallback — its entries are cvu/1e6 or
    # the initial m/1e6 - 1.0, both within << 0.5 micro of an integer, so
    # round(pv * 1e6) recovers the exact micro-unit
    return sql + f""",
p AS (
  SELECT cell, unnest(cen) AS pv, unnest(range(1, {EMB_DIM} + 1)) AS i FROM c{last_c}
),
nn AS (SELECT cell, max(n) AS n FROM u{last_u} GROUP BY cell)
SELECT p.cell, CAST(coalesce(nn.n, 0) AS BIGINT) AS n,
       CAST(p.i - 1 AS INT) AS dim,
       CAST(coalesce(u.cvu, round(p.pv * 1000000)) AS BIGINT) AS c_micro
FROM p
LEFT JOIN u{last_u} u ON u.cell = p.cell AND u.dim = p.i - 1
LEFT JOIN nn ON nn.cell = p.cell"""


_LAZY_ORACLE_BUILDERS: Dict[str, Callable[[], str]] = {
    "audio_features": _audio_oracle_sql,
    "video_frame_sample": _video_oracle_sql,
    "image_neardup": _image_neardup_oracle_sql,
    "image_features": _image_features_oracle_sql,
    "image_resize": _image_resize_oracle_sql,
    "kmeans_clusters": _kmeans_oracle_sql,
}

ORACLE_SQL["length_quantiles"] = """
WITH h AS (SELECT lang, n_chars, count(*) AS cnt FROM documents GROUP BY lang, n_chars),
c AS (SELECT lang, n_chars,
             sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cum
      FROM h),
t AS (SELECT lang, sum(cnt) AS n_docs FROM h GROUP BY lang)
SELECT t.lang, CAST(t.n_docs AS BIGINT) AS n_docs,
       min(CASE WHEN c.cum >= (t.n_docs - 1) * 1 // 2 + 1 THEN c.n_chars END) AS p50,
       min(CASE WHEN c.cum >= (t.n_docs - 1) * 9 // 10 + 1 THEN c.n_chars END) AS p90,
       min(CASE WHEN c.cum >= (t.n_docs - 1) * 99 // 100 + 1 THEN c.n_chars END) AS p99
FROM t JOIN c ON c.lang = t.lang
GROUP BY t.lang, t.n_docs"""

ORACLE_SQL["top_bigrams"] = f"""
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
bg AS (
  SELECT t[i] || ' ' || t[i + 1] AS bigram
  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
)
SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
ORDER BY n DESC, bigram LIMIT {TOP_BIGRAMS_K}"""

ORACLE_SQL["session_stats"] = f"""
WITH o AS (
  SELECT user_id, ts, event_id, value, epoch_ms(ts) AS ms,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pms
  FROM events
),
s AS (
  SELECT user_id, value, ms,
         CAST(sum(CASE WHEN pms IS NULL OR ms - pms > {SESSION_GAP_MS} THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
  FROM o
)
SELECT user_id, sess_id, count(*) AS n_events,
       min(ms) AS start_ms, max(ms) AS end_ms,
       max(ms) - min(ms) AS duration_ms,
       round(sum(value), 3) AS sum_value
FROM s GROUP BY user_id, sess_id"""

# connected components as a recursive transitive closure over the SAME
# verified-pair SQL (fine at oracle scale; the Spark side is the
# shuffle-per-round label propagation that survives 10^10 edges)
ORACLE_SQL["neardup_clusters"] = f"""
WITH RECURSIVE pairs AS (
  SELECT a_id, b_id FROM ({{jvp}})
),
edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
labels AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN labels l USING (doc_id)""".replace(
    "{jvp}", ORACLE_SQL["jaccard_verified_pairs"]
)

def _ngram_cte(n: int) -> str:
    """toksC/shC CTEs: distinct n-word shingles (generalizes _SHINGLES_CTE;
    range(1, len-(n-2)) is empty for docs shorter than n words, matching
    the Spark-side guard)."""
    terms = " || ' ' || ".join("ws[k]" if j == 0 else f"ws[k+{j}]" for j in range(n))
    return f"""toksC AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
shC AS (SELECT DISTINCT doc_id, {terms} AS s FROM toksC, UNNEST(range(1, len(ws) - {n - 2})) t(k))"""


ORACLE_SQL["repetition_stats"] = f"""
WITH toksR AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
gramsR AS (
  SELECT doc_id, ws[k] || ' ' || ws[k+1] AS s
  FROM toksR, UNNEST(range(1, len(ws))) t(k)
),
per AS (SELECT doc_id, s, count(*) AS c FROM gramsR GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS mx
  FROM per GROUP BY 1
)
SELECT d.doc_id,
       coalesce(a.n_grams, 0) AS n_grams,
       coalesce(a.n_distinct, 0) AS n_distinct,
       round(CASE WHEN coalesce(a.n_grams, 0) > 0
                  THEN 1 - CAST(a.n_distinct AS DOUBLE) / a.n_grams ELSE 0 END, 4) AS dup_gram_frac,
       round(CASE WHEN coalesce(a.n_grams, 0) > 0
                  THEN CAST(a.mx AS DOUBLE) / a.n_grams ELSE 0 END, 4) AS top_gram_frac
FROM documents d LEFT JOIN agg a USING (doc_id)"""


ORACLE_SQL["line_dedup"] = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || '. {BOILERPLATE}' ELSE text END AS text
  FROM documents
),
sents AS (
  SELECT doc_id, {hash60_sql('s')} AS h
  FROM (SELECT doc_id, trim(x) AS s FROM aug, UNNEST(string_split(text, '.')) t(x))
  WHERE s <> ''
),
counts AS (SELECT h, count(*) AS c FROM sents GROUP BY h),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate
  FROM sents JOIN counts USING (h) GROUP BY doc_id
)
SELECT d.doc_id, coalesce(p.n_lines, 0) AS n_lines,
       coalesce(p.n_boilerplate, 0) AS n_boilerplate,
       round(CASE WHEN coalesce(p.n_lines, 0) > 0
                  THEN CAST(p.n_boilerplate AS DOUBLE) / p.n_lines ELSE 0 END, 4) AS boilerplate_frac
FROM documents d LEFT JOIN per p USING (doc_id)"""


ORACLE_SQL["contamination_report"] = f"""
WITH {_ngram_cte(T.CONTAM_N)},
g AS (SELECT doc_id, {hash60_sql('s')} AS g FROM shC),
eval_g AS (SELECT DISTINCT g FROM g WHERE doc_id % {T.EVAL_MOD} = 0),
hits AS (
  SELECT doc_id, count(DISTINCT g.g) AS n_hits
  FROM g JOIN eval_g USING (g) WHERE doc_id % {T.EVAL_MOD} <> 0 GROUP BY doc_id
)
SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits, coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {T.EVAL_MOD} <> 0"""


def _sample_case_sql() -> str:
    whens = " ".join(f"WHEN '{lang}' THEN {pct}" for lang, pct in sorted(T.SAMPLE_RATES.items()))
    return f"CASE lang {whens} ELSE {T.SAMPLE_DEFAULT} END"


ORACLE_SQL["stratified_sample"] = f"""
WITH b AS (
  SELECT doc_id, lang,
         CAST({hash60_sql("concat('sample:', CAST(doc_id AS VARCHAR))")} % 100 AS INT) AS sample_bucket
  FROM documents
)
SELECT doc_id, lang, sample_bucket FROM b
WHERE sample_bucket < {_sample_case_sql()}"""


# winnowing: same polynomial (Karp-Rabin) k-gram hashes as the operator —
# winnow_hash_sql renders the identical two-channel mod-2^31-1 arithmetic
# as plain BIGINT SQL — window minima via a frame'd window function;
# i <= greatest(n-w+1, 1) keeps exactly the complete windows, degenerating
# to the single all-grams window when a doc has < w grams (matching the
# operator's n <= w branch)
ORACLE_SQL["winnow_fingerprint"] = f"""
WITH t AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS tn FROM documents
),
grams AS (
  SELECT doc_id, i, {D.winnow_hash_sql('tn', 'i')} AS h
  FROM t, UNNEST(range(1, length(tn) - {D.WINNOW_K} + 2)) u(i)
  WHERE length(tn) >= {D.WINNOW_K}
),
wins AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {D.WINNOW_W - 1} FOLLOWING) AS mn,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM grams
)
SELECT DISTINCT doc_id, mn AS fp_hash FROM wins
WHERE i <= greatest(n - {D.WINNOW_W} + 1, 1)"""


# CDC chunk dedup: the oracle re-derives the content-defined boundary set
# relationally — cut position 1 plus every 1-based gram position i >= 2 whose
# B2-channel hash is 0 mod CDC_MOD (cdc_anchor_sql renders the identical
# BIGINT arithmetic) — then tiles chunks with lead(i), fingerprints them with
# the same hash60 md5 construction, and reproduces the distinct-(doc,fp) /
# window-count-by-fp / per-doc rollup of cdc_chunk_stats. CASTs: DuckDB
# sum(INTEGER) widens to HUGEINT, Spark to BIGINT.
ORACLE_SQL["chunk_dedup"] = f"""
WITH t AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS tn FROM documents
),
cuts AS (
  SELECT doc_id, tn, 1 AS i FROM t WHERE length(tn) >= {D.CDC_K}
  UNION ALL
  SELECT doc_id, tn, i
  FROM t, UNNEST(range(2, length(tn) - {D.CDC_K} + 2)) u(i)
  WHERE length(tn) >= {D.CDC_K} AND {D.cdc_anchor_sql('tn', 'i')} = 0
),
chunks AS (
  SELECT doc_id,
         substr(tn, CAST(i AS INT),
                CAST(COALESCE(lead(i) OVER (PARTITION BY doc_id ORDER BY i),
                              length(tn) + 1) - i AS INT)) AS chunk
  FROM cuts
),
occ AS (
  SELECT doc_id, {hash60_sql('chunk')} AS fp,
         count(*) AS n_occ, sum(length(chunk)) AS occ_chars
  FROM chunks GROUP BY doc_id, fp
),
w AS (SELECT *, count(*) OVER (PARTITION BY fp) AS n_docs FROM occ)
SELECT doc_id,
       CAST(sum(n_occ) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END) AS BIGINT) AS dup_chunks,
       CAST(sum(CASE WHEN n_docs >= 2 THEN occ_chars ELSE 0 END) AS BIGINT) AS dup_chars,
       CAST(sum(occ_chars) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN n_docs >= 2 THEN occ_chars ELSE 0 END) AS DOUBLE)
         / CAST(sum(occ_chars) AS DOUBLE) AS dup_frac
FROM w GROUP BY doc_id"""


# tf-idf top terms: rational idf (tf * N / df) keeps the score
# transcendental-free so the doubles match bit-for-bit; the oracle uses the
# window form of df (equivalent to the operator's agg+join on the distinct
# (doc_id, term) rows); same \\s+ tokenization as token_count/_TOKS
ORACLE_SQL["tfidf_top_terms"] = f"""
WITH tok AS (
  SELECT doc_id, x AS term FROM documents, UNNEST({_TOKS}) t(x) WHERE x <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
d AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
s AS (
  SELECT doc_id, term, tf, df,
         round(CAST(tf * (SELECT count(DISTINCT doc_id) FROM tf) AS DOUBLE) / df, 6) AS score
  FROM d
),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM s)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score,
       CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= 5"""


# robots filter: the oracle re-renders the URL round-trip (build -> regex
# parse -> NULL-safe prefix predicate) in DuckDB; pmod == % here because
# host_num is non-negative by construction
ORACLE_SQL["robots_filter"] = r"""
WITH cand AS (
  SELECT 'http://h' || lpad(CAST(o_custkey % 64 AS VARCHAR), 4, '0')
         || '.test/p/' || CAST(o_orderkey AS VARCHAR) AS url
  FROM orders
),
p AS (
  SELECT TRY_CAST(regexp_extract(url, '^https?://h(\d+)\.test', 1) AS INT) AS host_num,
         regexp_replace(url, '^https?://[^/]+', '') AS path
  FROM cand
)
SELECT host_num,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN COALESCE(host_num % 16 = 7 AND path LIKE '/p/3%', FALSE)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
FROM p GROUP BY host_num"""


# CDC changelog: the oracle re-derives the v1 -> v2 diff relationally from
# the same deterministic mod-class snapshot definitions the Spark query
# materializes through the AtomicTable version chain; _version is literal 2
# (fresh table: snapshots are exactly [1, 2], asserted in q_cdc_changes)
ORACLE_SQL["cdc_changes"] = """
WITH v1 AS (
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 40 = 0
),
v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 80 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus
  FROM orders WHERE o_orderkey % 40 = 0 AND o_orderkey % 120 <> 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 40 = 20
)
SELECT CAST(2 AS BIGINT) AS _version, 'insert' AS _op,
       CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus
FROM v2 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v1)
UNION ALL
SELECT 2, 'delete', v1.o_orderkey, v1.o_orderstatus
FROM v1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v2)
UNION ALL
SELECT 2, 'update_pre', a.o_orderkey, a.o_orderstatus
FROM v1 a JOIN v2 b USING (o_orderkey) WHERE a.o_orderstatus <> b.o_orderstatus
UNION ALL
SELECT 2, 'update_post', b.o_orderkey, b.o_orderstatus
FROM v1 a JOIN v2 b USING (o_orderkey) WHERE a.o_orderstatus <> b.o_orderstatus"""


def queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver-checked registry — AT MOST 50 entries (CORRECTNESS_r06
    recorded exactly the first 50 of r6's 53, dropping the tail: the
    driver caps the checked window). Physical-layout variants are merged
    into single layout-union rows (see _layout_union) so every operator
    keeps oracle coverage inside the window; the image trio sits at the
    top so the §2.X8 rows can never fall off the end again. Per-variant
    timings live in bench_queries()."""
    return {
        "bfs_frontier": q_bfs_frontier,
        "image_neardup": q_image_neardup,
        "image_features": q_image_features,
        "image_resize": q_image_resize,
        "pagerank": q_pagerank_layouts,
        "hits": q_hits_layouts,
        "frontier_anti_join": q_frontier_anti_join,
        "depth_collect": q_depth_collect,
        "recovery_scan": q_recovery_scan,
        "politeness_window": q_politeness_window,
        "politeness_fairness": q_politeness_fairness,
        "status_histogram": q_status_histogram,
        "late_requeue": q_late_requeue,
        "cache_truncation": q_cache_truncation,
        "exact_dedup": q_exact_dedup,
        "token_count": q_token_count,
        "length_quantiles": q_length_quantiles,
        "top_bigrams": q_top_bigrams,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "minhash_signature": q_minhash_signature,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "text_dedup_pairs": q_text_dedup_pairs,
        "simhash": q_simhash,
        "winnow_fingerprint": q_winnow_fingerprint,
        "chunk_dedup": q_chunk_dedup,
        "tfidf_top_terms": q_tfidf_top_terms,
        "robots_filter": q_robots_filter,
        "line_dedup": q_line_dedup,
        "neardup_clusters": q_neardup_clusters,
        "repetition_stats": q_repetition_stats,
        "contamination_report": q_contamination_report,
        "stratified_sample": q_stratified_sample,
        "sequence_pack": q_sequence_pack,
        "domain_mix_weights": q_domain_mix_weights,
        "embedding_topk": q_embedding_topk,
        "label_centroids": q_label_centroids,
        "kmeans_clusters": q_kmeans_clusters,
        "ann_topk": q_ann_topk_layouts,
        "ivf_topk": q_ivf_topk_layouts,
        "embedding_dedup_pairs": q_embedding_dedup_pairs,
        "salted_host_agg": q_salted_host_agg,
        "session_stats": q_session_stats,
        "windowed_metrics": q_windowed_metrics,
        "clean_corpus_stats": q_clean_corpus_stats,
        "anchor_text_index": q_anchor_text_index,
        "audio_features": q_audio_features,
        "video_frame_sample": q_video_frame_sample,
        "cdc_changes": q_cdc_changes,
    }


def bench_queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Per-variant registry for bench.py and the plan audits: the merged
    layout-union rows of queries() are replaced by their individual
    variants under the SAME names as BENCH_r06.json, so round-over-round
    like-for-like timing comparisons survive the correctness-window
    merge."""
    q = queries()
    for merged in ("pagerank", "hits", "ann_topk", "ivf_topk", "text_dedup_pairs"):
        del q[merged]
    q.update(
        {
            "pagerank": q_pagerank,
            "pagerank_bucketed": q_pagerank_bucketed,
            "hits": q_hits,
            "hits_bucketed": q_hits_bucketed,
            "ann_topk": q_ann_topk,
            "ann_topk_partitioned": q_ann_topk_partitioned,
            "ivf_topk": q_ivf_topk,
            "ivf_topk_partitioned": q_ivf_topk_partitioned,
            "jaccard_verified_pairs": q_jaccard_verified_pairs,
            "substring_dedup": q_substring_dedup,
            "substring_clean": q_substring_clean,
        }
    )
    return q


def oracle_sql() -> Dict[str, str]:
    for k, build in _LAZY_ORACLE_BUILDERS.items():
        if k not in ORACLE_SQL:
            ORACLE_SQL[k] = build()
    return dict(ORACLE_SQL)
