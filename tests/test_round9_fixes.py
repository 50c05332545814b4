"""Round-9 optimization regression guards: the behavioral contracts of the
internals that were restructured for performance (each is oracle-covered
end-to-end elsewhere; these pin the specific equivalences the rewrites rely
on)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


# --------------------------------------------- embedding dedup (bucket-local)

def test_embedding_dedup_multiband_duplicates_collapse(spark):
    """Two identical vectors share EVERY band key — the bucket-local verify
    emits the pair once per band, and the final distinct must collapse them
    to exactly one output row (the old candidate-distinct guarantee)."""
    from distributed_web_crawler_spark.operators.similarity import embedding_dedup_pairs

    v = [float((i * 37 % 19) - 9) / 10 for i in range(64)]
    rows = [(1, v), (2, list(v)), (3, [-x for x in v])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_dedup_pairs(emb, 64, 0.9).collect()
    assert [(r["a_id"], r["b_id"], r["sim_bucket2"]) for r in out] == [(1, 2, 1.0)]


def test_embedding_dedup_left_fold_values_match_jvm(spark):
    """Surviving cosines must be BIT-identical to the old JVM left-fold
    expression: recompute dot/(norm·norm) with F.aggregate over the same
    pair and compare the rounded bucket exactly."""
    from distributed_web_crawler_spark.operators.similarity import (
        _dot,
        _norm,
        embedding_dedup_pairs,
    )

    base = [((i * 29 % 23) - 11) / 11.0 for i in range(64)]
    near = [x + 0.02 for x in base]
    emb = spark.createDataFrame(
        [(10, base), (11, near)], "vec_id long, embedding array<double>"
    )
    got = embedding_dedup_pairs(emb, 64, 0.9).collect()
    assert len(got) == 1 and (got[0]["a_id"], got[0]["b_id"]) == (10, 11)
    jvm = (
        emb.filter(F.col("vec_id") == 10)
        .select(F.col("embedding").alias("ea"))
        .crossJoin(emb.filter(F.col("vec_id") == 11).select(F.col("embedding").alias("eb")))
        .select(
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb"))), 2
            ).alias("s")
        )
        .collect()[0]["s"]
    )
    assert got[0]["sim_bucket2"] == jvm


# --------------------------------------------------- hashed shingle pipeline

def test_shingles_hashed_equals_hash_of_shingles(spark):
    """shingles_hashed (hash before distinct) must produce exactly the
    hash60 image of the distinct string shingles — the equivalence the
    jaccard/minhash/contamination rewrites rely on."""
    from distributed_web_crawler_spark.functions.portable_hash import hash60
    from distributed_web_crawler_spark.operators.dedup import shingles, shingles_hashed

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "a b c a b c a b c"),
            (3, "x y"),  # shorter than a shingle -> empty
            (4, "one two three four"),
        ],
        "doc_id long, text string",
    )
    via_strings = {
        (r["doc_id"], r["h"])
        for r in shingles(docs).select("doc_id", hash60(F.col("s")).alias("h")).collect()
    }
    direct = {(r["doc_id"], r["h"]) for r in shingles_hashed(docs).collect()}
    assert direct == via_strings


def test_minhash_signatures_same_via_hashed_shingles(spark):
    """The shh= path (cached hashed shingles) must reproduce the raw-path
    signatures exactly (MIN over the distinct hashed set == MIN over the
    raw stream)."""
    from distributed_web_crawler_spark.operators.dedup import (
        minhash_signatures,
        shingles_hashed,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    raw = {r["doc_id"]: tuple(r[i] for i in range(1, 33)) for r in minhash_signatures(docs).collect()}
    shh = shingles_hashed(docs)
    via = {
        r["doc_id"]: tuple(r[i] for i in range(1, 33))
        for r in minhash_signatures(docs, shh=shh).collect()
    }
    assert raw == via


# ------------------------------------------------------ lang staging parity

def test_with_lang_guess_matches_expression_form(spark):
    """The staged projection must agree with the one-shot lang_guess_col
    expression on every doc (same guess, same tie-breaks)."""
    from distributed_web_crawler_spark.operators.textstats import (
        lang_guess_col,
        with_lang_guess,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {
        r["doc_id"]: r["g"]
        for r in docs.select("doc_id", lang_guess_col(F.col("text")).alias("g")).collect()
    }
    b = {r["doc_id"]: r["g"] for r in with_lang_guess(docs, "g").select("doc_id", "g").collect()}
    assert a == b


# ------------------------------------------------- verify schedule (engine)

def test_one_verify_per_admitting_round(spark, tmp_path):
    """Each admitting round runs exactly one payload verify, under its
    own round number, including the final depth's round (which does no
    extraction), and every admitting round commits its stats."""
    import distributed_web_crawler_spark.plans.frontier as FR
    from distributed_web_crawler_spark.fixtures.corpus import CorpusSpec, url_of, out_links
    from distributed_web_crawler_spark.sources.corpus_source import build_corpus

    spec = CorpusSpec(n=400)
    corpus = build_corpus(spark, spec, str(tmp_path / "corpus"))
    eng = FR.FrontierEngine(
        spark, str(tmp_path / "wh"), corpus, spec,
        FR.EngineConfig(),
    )
    rounds, verifies = [], []
    orig_round, orig_verify = FR.FrontierEngine._run_round, FR.fetch_and_verify

    def round_spy(self, store, r, depth_limit):
        rounds.append(r)
        return orig_round(self, store, r, depth_limit)

    def verify_spy(*a, **kw):
        verifies.append(rounds[-1])
        return orig_verify(*a, **kw)

    FR.FrontierEngine._run_round, FR.fetch_and_verify = round_spy, verify_spy
    try:
        seed = url_of(next(i for i in range(spec.n) if len(out_links(i, spec)) >= 2), spec)
        res = eng.run_job("j9", [seed], 2)
    finally:
        FR.FrontierEngine._run_round, FR.fetch_and_verify = orig_round, orig_verify
    assert res["done"]
    store = eng.store("j9")
    admitting = [r for r in store.committed_rounds() if store.read_commit(r).get("n_admitted", 0) > 0]
    assert len(admitting) == 2  # depth 0, then the final depth
    assert verifies == admitting, verifies
    assert eng.unverified_rounds("j9") == []
    assert sorted(eng.payload_stats("j9")) == admitting
