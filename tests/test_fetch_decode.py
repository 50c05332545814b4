"""fetch_and_decode — the production fetch workload (decode + features, no
generator oracle in the loop): the decoded phash must equal the corpus
metadata phash for every fetched row, and luma must match a per-image
recompute from raw pixels."""

import pandas as pd
from pyspark.sql import functions as F

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.functions import urls as U
from distributed_web_crawler_spark.sources.fetch import fetch_and_decode


def test_decode_features_match_metadata(spark, corpus_1k, tmp_path):
    spec, corpus_path = corpus_1k
    idx = [3, 7, 35, 64, 128, 255, 511, 999]
    adm = spark.createDataFrame(pd.DataFrame({"url": [C.url_of(i, spec) for i in idx]}))
    adm = adm.withColumn("image_id", U.image_id_of(F.col("url")))
    buckets = sorted({C.bucket_of(i) for i in idx})
    feats = {r["url"]: r for r in fetch_and_decode(spark, corpus_path, adm, buckets, len(idx)).collect()}
    assert set(feats) == {C.url_of(i, spec) for i in idx}
    for i in idx:
        row = feats[C.url_of(i, spec)]
        raw = C.raw_pixels(i, spec)
        data = C.encode_image(raw, C.fmt_of(i))
        dec = C.decode_image(data)[0]
        assert row["phash_dec"] == C.phash64(dec), i  # decoded-pixel phash parity
        means = dec.reshape(-1, 3).mean(axis=0)
        want_luma = 0.2126 * means[0] + 0.7152 * means[1] + 0.0722 * means[2]
        assert abs(row["luma"] - want_luma) < 1e-9, i
