"""Corpus table builder/reader (the engine's S4 "web" — SURVEY.md §2.1).

Storage layout (the 100 TB-honest design):

* ``<path>/bucket=K/*.parquet`` — metadata partition per storage bucket
  (``bucket = i % N_BUCKETS``): all scalar columns, the payload bytes, AND
  the payload's (blob_offset, blob_len) within the bucket's packed shard.
* ``<path>/blobs/bucket_K.bin`` — packed binary shard: every page's encoded
  payload back-to-back, in page-id order.

Why both: analytic operators (multimodal features, dedup) read the parquet
`bytes` column with ordinary column pruning, while the CRAWL FETCH path
(sources/fetch.py) point-reads byte ranges from the shards — a round that
fetches 0.01% of a 100 TB corpus must do O(fetched bytes) IO, not a full
scan of the bytes column. Profiling at 200k pages showed the full-column
scan costing ~10 s/round vs ~0.3 s of actual decode work; the shard reads
make fetch IO proportional to the frontier. This mirrors the public
WebDataset/tar-shard + index pattern used for large image corpora.

Generation is one shuffle of page IDS only (ids → bucket groups), then each
bucket task deterministically generates its rows, writes its shard, and
emits the metadata rows with offsets. At 10^10 pages a bucket becomes
(bucket, part) sub-shards; the offset columns generalize unchanged.
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..fixtures import corpus as C

CORPUS_SCHEMA = (
    "image_id string, w int, h int, fmt string, caption string, "
    "bucket int, bytes binary, phash bigint, blob_offset bigint, blob_len int"
)

_MARKER_VERSION = "v5"  # v5: counter-SplitMix64 raw_pixels; v4: phash kernel revision (8×32 two-GEMM DCT)


def blob_path(corpus_path: str, bucket: int) -> str:
    # sibling dir: the parquet root must contain only bucket=K partitions
    # (and Spark's overwrite would wipe anything inside it)
    return os.path.join(corpus_path.rstrip("/") + "_blobs", f"bucket_{bucket:05d}.bin")


def build_corpus(spark: SparkSession, spec: C.CorpusSpec, path: str, slices: int | None = None) -> str:
    """Distributed deterministic generation. Idempotent via a spec marker."""
    marker = os.path.join(path, "_SPEC")
    stamp = f"{_MARKER_VERSION}:{spec.n}:{spec.seed}:{spec.n_hosts}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == stamp:
                return path

    def gen_bucket(key, pdf):
        import pandas as pd

        bucket = int(key[0])
        ids = sorted(int(i) for i in pdf["id"])
        rows = [C.make_row(i, spec) for i in ids]
        # pack the shard + record offsets
        shard = blob_path(path, bucket)
        os.makedirs(os.path.dirname(shard), exist_ok=True)
        tmp = shard + ".tmp"
        off = 0
        with open(tmp, "wb") as f:
            for row in rows:
                data = row["bytes"]
                row["blob_offset"] = off
                row["blob_len"] = len(data)
                f.write(data)
                off += len(data)
        os.replace(tmp, shard)
        return pd.DataFrame(rows)

    ids = spark.range(0, spec.n).withColumn("bucket", F.pmod(F.col("id"), F.lit(C.N_BUCKETS)).cast("int"))
    df = ids.groupBy("bucket").applyInPandas(gen_bucket, schema=CORPUS_SCHEMA)
    df.write.mode("overwrite").partitionBy("bucket").parquet(path)
    with open(marker, "w") as f:
        f.write(stamp)
    return path


def read_corpus(spark: SparkSession, path: str, buckets: Iterable[int] | None = None) -> DataFrame:
    """Read corpus metadata+bytes, pruned to the given storage buckets when
    known (`.explain` shows them as PartitionFilters)."""
    df = spark.read.schema(CORPUS_SCHEMA).parquet(path)
    if buckets is not None:
        df = df.filter(F.col("bucket").isin(list(buckets)))
    return df
