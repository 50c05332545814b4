import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_web_crawler_spark.catalog.tables import STORE_FORMAT  # noqa: E402
from distributed_web_crawler_spark.session import get_spark  # noqa: E402


def _check_payloads(eng, job_id) -> None:
    """Every commit of the job carries the store format stamp, and every
    round that admitted pages fetched and verified each of them: its
    committed payload stats count n_admitted pages, all passing the pixel,
    phash and caption checks (the fixture's pages all do), and no
    admitting round lacks stats."""
    assert eng.unverified_rounds(job_id) == []
    store = eng.store(job_id)
    for r in store.committed_rounds():
        c = store.read_commit(r)
        assert c["format"] == STORE_FORMAT, (r, c.get("format"))
        if c.get("n_admitted", 0) > 0:
            p = c["payload"]
            counts = [p["n"], p["n_pixels_ok"], p["n_phash_ok"], p["n_caption_ok"]]
            assert counts == [c["n_admitted"]] * 4, (r, p)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_1k(spark, tmp_path_factory):
    """Shared 1,000-page corpus (FIXTURES.md unit-test size)."""
    from distributed_web_crawler_spark.fixtures.corpus import CorpusSpec
    from distributed_web_crawler_spark.sources.corpus_source import build_corpus

    spec = CorpusSpec(n=1000)
    path = str(tmp_path_factory.mktemp("corpus1k") / "corpus")
    build_corpus(spark, spec, path)
    return spec, path


@pytest.fixture
def fused_probe(spark):
    """Run a Bloom engine's fused new-URL write (dedup → Bloom probe →
    exact re-check → part + blob) over `urls`, duplicates allowed, as the
    uncommitted round `r` of `store`; the staged round is dropped again.
    Returns (urls written, the write's task counters)."""
    import pandas as pd
    from pyspark.sql import functions as F

    def run(eng, store, urls, r):
        df = eng._with_keys(spark.createDataFrame(pd.DataFrame({"url": list(urls)})))
        df = df.withColumn("host", F.lit("")).withColumn("depth", F.lit(1))
        out = store.new_path(r)
        try:
            _, task = eng._write_bucketed(store, out, df, bloom_round=r, probe=True)
            got = (
                [row["url"] for row in spark.read.schema("url string").parquet(out).collect()]
                if os.path.isdir(out)
                else []
            )
        finally:
            store.abort_round(r)
        return got, task

    return run
