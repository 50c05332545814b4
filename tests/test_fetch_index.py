"""The corpus's per-bucket fetch index (sources/corpus_source.py) and the
page pass that fetches by key through it (sources/fetch.py): the index is
the parquet metadata row for row, a missing index fails loudly, pages
outside the corpus are dropped exactly as an inner join with the corpus
dropped them, and no crawl plan scans or broadcast-joins the corpus."""

import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.functions import urls as U
from distributed_web_crawler_spark.oracle.crawler import crawl
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
from distributed_web_crawler_spark.sources import fetch
from distributed_web_crawler_spark.sources.corpus_source import (
    FORMATS, blob_path, build_corpus, index_path, open_index,
)


def test_fetch_index_equals_parquet_metadata(corpus_1k):
    _check_index_equals_metadata(*corpus_1k)


def _check_index_equals_metadata(spec, path):
    n = 0
    for b in range(C.N_BUCKETS):
        meta = pq.read_table(
            os.path.join(path, f"bucket={b}"),
            columns=["image_id", "fmt", "caption", "phash", "blob_offset", "blob_len"],
        ).to_pandas()
        meta = meta.assign(id=meta["image_id"].map(C.page_index)).sort_values("id")
        rec, blob = open_index(path, b)
        assert rec["id"].tolist() == meta["id"].tolist() == list(range(b, spec.n, C.N_BUCKETS))
        assert [FORMATS[f] for f in rec["fmt"]] == meta["fmt"].tolist()
        assert rec["phash"].tolist() == meta["phash"].tolist()
        assert rec["blob_offset"].tolist() == meta["blob_offset"].tolist()
        assert rec["blob_len"].tolist() == meta["blob_len"].tolist()
        caps = [
            str(blob[o : o + ln], "utf-8")
            for o, ln in zip(rec["caption_off"].tolist(), rec["caption_len"].tolist())
        ]
        assert caps == meta["caption"].tolist()
        n += len(rec)
    assert n == spec.n


def test_buckets_without_pages_have_empty_indexes(spark, tmp_path):
    """A corpus smaller than N_BUCKETS still has an index for every
    bucket, so a page id in a bucket without pages is past its (empty)
    index and dropped, never a missing-index error."""
    spec = C.CorpusSpec(n=20)
    path = build_corpus(spark, spec, str(tmp_path / "corpus"))
    assert all(os.path.exists(index_path(path, b)) for b in range(C.N_BUCKETS))
    pos, rec, captions = fetch._lookup([3, 19, 20, 25, 57], path, {})
    assert pos.tolist() == [0, 1] and rec["id"].tolist() == [3, 19]
    assert captions == [C.caption_of(3, spec), C.caption_of(19, spec)]


def test_missing_index_raises(spark, corpus_1k, tmp_path):
    """A corpus with a bucket's index missing (an older layout, or a
    damaged copy) must fail the page pass with an error that names the
    corpus, never read as an empty bucket that silently drops its pages."""
    spec, src = corpus_1k
    path = str(tmp_path / "corpus")
    shutil.copytree(src, path)
    shutil.copytree(src + "_blobs", path + "_blobs")
    seed = C.url_of(7, spec)
    os.remove(index_path(path, C.bucket_of(7)))
    eng = FrontierEngine(spark, str(tmp_path / "wh"), path, spec, EngineConfig())
    with pytest.raises(Exception) as err:
        eng.run_job("nx", seed, 2)
    msg = str(err.value)
    assert repr(path) in msg and "rebuild" in msg, msg


def _copy_corpus(src: str, path: str) -> str:
    shutil.copytree(src, path)
    shutil.copytree(src + "_blobs", path + "_blobs")
    return path


def test_build_corpus_rebuilds_a_missing_index(spark, corpus_1k, tmp_path):
    """A corpus whose _SPEC stamp matches but whose index file is gone is
    rebuilt, not returned as is."""
    spec, src = corpus_1k
    path = _copy_corpus(src, str(tmp_path / "corpus"))
    os.remove(index_path(path, 5))
    assert build_corpus(spark, spec, path) == path
    assert os.path.exists(index_path(path, 5))
    _check_index_equals_metadata(spec, path)


def test_build_corpus_rebuilds_torn_files(spark, corpus_1k, tmp_path):
    """A torn index (its count no longer fits the file) or a torn shard
    (shorter than its index's last record reaches) rebuilds the corpus;
    an intact one is kept."""
    spec, src = corpus_1k
    path = _copy_corpus(src, str(tmp_path / "corpus"))
    assert build_corpus(spark, spec, path) == path
    assert os.path.getmtime(index_path(path, 0)) == os.path.getmtime(index_path(src, 0))
    sizes = {p: os.path.getsize(p) for p in (index_path(path, 9), blob_path(path, 12))}
    for p in sizes:
        with open(p, "r+b") as f:
            f.truncate(sizes[p] - 100)
    build_corpus(spark, spec, path)
    assert {p: os.path.getsize(p) for p in sizes} == sizes
    _check_index_equals_metadata(spec, path)


def test_pages_outside_the_corpus_are_dropped(spark, corpus_1k, tmp_path):
    """Seeds a verifying crawl cannot fetch — a foreign host, a page past
    the corpus — verify nothing, while a corpus-scheme URL on the wrong
    host and one ending in "\\r" verify their page, as the inner join did:
    each round's payload n is the number of its admitted URLs whose
    page_index lies in [0, n), and the seen set is the oracle's plus the
    odd seeds."""
    spec, path = corpus_1k
    good = [i for i in range(40) if len(C.out_links(i, spec)) >= 2][:4]
    wrong_host = C.host_name((C.host_of(11, spec) + 1) % spec.n_hosts)
    odd = [
        "http://nonsense.example/p/33",
        f"http://h0000.test/p/{spec.n + 5}",
        f"http://{wrong_host}/p/11",
        C.url_of(12, spec) + "\r",
    ]
    eng = FrontierEngine(spark, str(tmp_path / "wh"), path, spec, EngineConfig())
    assert eng.run_job("odd", [C.url_of(i, spec) for i in good] + odd, 2)["done"]

    want = set().union(*(crawl(i, 2, spec).seen for i in good))
    odd_seen = spark.createDataFrame(pd.DataFrame({"url": odd})).select(U.canonicalize(F.col("url")))
    want |= {r[0] for r in odd_seen.collect()}
    assert {r["url"] for r in eng.seen_df("odd").collect()} == want

    store = eng.store("odd")
    changes = eng.seen_changes("odd").select("round", "url", U.page_index(F.col("url")).alias("i"))
    by_round: dict = {}
    for row in changes.collect():
        by_round.setdefault(row["round"], []).append(row["i"])
    rounds = [r for r in store.committed_rounds() if store.read_commit(r).get("n_admitted", 0) > 0]
    assert rounds == [1, 2]
    for r in rounds:
        c = store.read_commit(r)
        admitted = by_round[r - 1]  # a plain round drains the previous round's new URLs
        assert c["n_admitted"] == len(admitted)
        in_corpus = sum(i is not None and 0 <= i < spec.n for i in admitted)
        assert c["payload"]["n"] == c["payload"]["n_pixels_ok"] == in_corpus, (r, c["payload"])
    assert store.read_commit(1)["payload"]["n"] == len(good) + 2


def test_verifying_crawl_plans_read_no_corpus(spark, corpus_1k, tmp_path):
    """No SQL execution of a 2-round verifying crawl broadcasts a frame or
    scans the corpus's parquet root: the page pass reads the fetch index
    and the shards itself."""
    spec, path = corpus_1k
    sql = spark._jsparkSession.sharedState().statusStore()

    def executions() -> dict:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        xs = sql.executionsList()
        return {xs.apply(k).executionId(): xs.apply(k).physicalPlanDescription() for k in range(xs.size())}

    before = max(executions(), default=-1)
    eng = FrontierEngine(spark, str(tmp_path / "wh"), path, spec, EngineConfig())
    seeds = [C.url_of(i, spec) for i in range(0, 60, 3)]
    assert eng.run_job("pl", seeds, 2)["done"]
    assert eng.store("pl").last_committed() == 2
    plans = [p for x, p in executions().items() if x > before]
    assert len(plans) == 3 and all("MapInPandas" in p for p in plans[1:]), plans
    root = os.path.abspath(path)
    for p in plans:
        assert "BroadcastExchange" not in p, p
        assert "BroadcastHashJoin" not in p, p
        assert root not in p, p
    assert eng.store("pl").read_commit(2)["payload"]["n"] > 0
