"""Corpus table generation (the engine's S4 "web" — SURVEY.md §2.1).

Storage layout (the 100 TB-honest design, WebDataset-style shard + index):

* ``<path>/bucket=K/*.parquet`` — metadata partition per storage bucket
  (``bucket = i % N_BUCKETS``): all scalar columns, the payload bytes, AND
  the payload's (blob_offset, blob_len) within the bucket's packed shard.
* ``<path>_blobs/bucket_K.bin`` — packed binary shard: every page's encoded
  payload back-to-back, in page-id order.
* ``<path>_blobs/bucket_K.idx`` — the shard's fetch index: an int64 row
  count, then one INDEX_DTYPE record per page in page-id order (id,
  blob_offset, blob_len, phash, fmt code into FORMATS, and the caption's
  offset and length in the caption blob), then the captions back-to-back
  as UTF-8 (no fixed width, nothing truncated). Page i is record
  ``i // N_BUCKETS`` of bucket ``i % N_BUCKETS``'s index; every bucket has
  one, empty when the corpus has no page in it.

Why both: analytic operators (multimodal features, dedup) read the parquet
`bytes` column with ordinary column pruning, while the CRAWL FETCH path
(sources/fetch.py) looks each page up by id in the memory-mapped index and
point-reads its byte range from the shard — a round that fetches 0.01% of
a 100 TB corpus must do O(fetched bytes) IO, not a scan. Profiling at 200k
pages showed the full-column scan costing ~10 s/round vs ~0.3 s of actual
decode work; the index and shard reads make fetch IO proportional to the
frontier, with no Spark job to find the pages.

Generation is one shuffle of page IDS only (ids → bucket groups), then each
bucket task deterministically generates its rows, writes its shard and its
index, and emits the metadata rows with offsets. At 10^10 pages a bucket
becomes (bucket, part) sub-shards; the offset columns generalize unchanged.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import SparkSession, functions as F

from ..fixtures import corpus as C

CORPUS_SCHEMA = (
    "image_id string, w int, h int, fmt string, caption string, "
    "bucket int, bytes binary, phash bigint, blob_offset bigint, blob_len int"
)

# v6: per-bucket fetch index; v5: counter-SplitMix64 raw_pixels; v4: phash
# kernel revision (8×32 two-GEMM DCT)
_MARKER_VERSION = "v6"

FORMATS = ("png", "jpeg")
INDEX_DTYPE = np.dtype([
    ("id", "<i8"), ("blob_offset", "<i8"), ("blob_len", "<i8"), ("phash", "<i8"),
    ("fmt", "u1"), ("caption_off", "<i8"), ("caption_len", "<i8"),
])


def blob_path(corpus_path: str, bucket: int) -> str:
    # sibling dir: the parquet root must contain only bucket=K partitions
    # (and Spark's overwrite would wipe anything inside it)
    return os.path.join(corpus_path.rstrip("/") + "_blobs", f"bucket_{bucket:05d}.bin")


def index_path(corpus_path: str, bucket: int) -> str:
    return blob_path(corpus_path, bucket)[: -len(".bin")] + ".idx"


def _write_index(corpus_path: str, bucket: int, rows: list) -> None:
    """Write bucket's fetch index from its rows (page-id order), through a
    tmp file and os.replace like the shard."""
    caps = [r["caption"].encode() for r in rows]
    lens = np.array([len(c) for c in caps], np.int64)
    rec = np.array([
        (C.page_index(r["image_id"]), r["blob_offset"], r["blob_len"], r["phash"], FORMATS.index(r["fmt"]), o, n)
        for r, o, n in zip(rows, (np.cumsum(lens) - lens).tolist(), lens.tolist())
    ], INDEX_DTYPE)
    path = index_path(corpus_path, bucket)
    with open(path + ".tmp", "wb") as f:
        f.write(np.int64(len(rows)).tobytes() + rec.tobytes() + b"".join(caps))
    os.replace(path + ".tmp", path)


def open_index(corpus_path: str, bucket: int) -> tuple:
    """Memory-map one bucket's fetch index: (records, caption blob). A
    missing index raises: read as empty it would silently drop every page
    of the bucket."""
    import mmap

    path = index_path(corpus_path, bucket)
    try:
        with open(path, "rb") as f:
            mm = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"corpus {corpus_path!r} has no fetch index for bucket {bucket} ({path}): "
            "it was built by an older layout or is incomplete; rebuild it "
            "(delete it and run build_corpus)"
        ) from None
    n = int(np.frombuffer(mm, "<i8", 1)[0])
    rec = np.frombuffer(mm, INDEX_DTYPE, n, 8)
    return rec, memoryview(mm)[8 + rec.nbytes :]


def _blobs_intact(corpus_path: str, n: int) -> bool:
    """Every bucket's fetch index opens whole, holds the bucket's page
    count and its last caption, and every shard holds the bytes its
    index's last record points to."""
    for b in range(C.N_BUCKETS):
        try:
            rec, captions = open_index(corpus_path, b)
            if len(rec) != len(range(b, n, C.N_BUCKETS)):
                return False
            if len(rec) and (
                len(captions) < rec["caption_off"][-1] + rec["caption_len"][-1]
                or os.path.getsize(blob_path(corpus_path, b)) < rec["blob_offset"][-1] + rec["blob_len"][-1]
            ):
                return False
        except (OSError, ValueError):  # missing, empty or shorter than its count
            return False
    return True


def build_corpus(spark: SparkSession, spec: C.CorpusSpec, path: str) -> str:
    """Distributed deterministic generation. Idempotent via a spec marker:
    a corpus stamped with this spec is returned as is, unless a shard or
    fetch index is missing or torn, which rebuilds it."""
    marker = os.path.join(path, "_SPEC")
    stamp = f"{_MARKER_VERSION}:{spec.n}:{spec.seed}:{spec.n_hosts}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == stamp and _blobs_intact(path, spec.n):
                return path
    # a stale shard or index of another build must never be read as this one's
    blob_dir = os.path.dirname(blob_path(path, 0))
    shutil.rmtree(blob_dir, ignore_errors=True)
    os.makedirs(blob_dir)

    def gen_bucket(key, pdf):
        import pandas as pd

        bucket = int(key[0])
        ids = sorted(int(i) for i in pdf["id"])
        rows = [C.make_row(i, spec) for i in ids]
        # pack the shard + record offsets
        shard = blob_path(path, bucket)
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
        _write_index(path, bucket, rows)
        return pd.DataFrame(rows)

    ids = spark.range(0, spec.n).withColumn("bucket", F.pmod(F.col("id"), F.lit(C.N_BUCKETS)).cast("int"))
    df = ids.groupBy("bucket").applyInPandas(gen_bucket, schema=CORPUS_SCHEMA)
    df.write.mode("overwrite").partitionBy("bucket").parquet(path)
    # buckets no page falls in (spec.n < N_BUCKETS) ran no task
    for b in range(spec.n, C.N_BUCKETS):
        _write_index(path, b, [])
    with open(marker, "w") as f:
        f.write(stamp)
    return path
