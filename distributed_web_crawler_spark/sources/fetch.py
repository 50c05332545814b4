"""Keyed payload fetch — the crawl's S4 "HTTP GET" stand-in, IO-proportional
to the frontier (SURVEY.md J5).

Joins the admitted frontier against the corpus' SLIM metadata columns
(image_id, fmt, caption, phash, blob_offset, blob_len — the bytes column is
never touched), then point-reads each payload's byte range from the bucket's
packed shard in an Arrow-batched pandas stage. The scan is pruned to the
storage buckets the caller names: the engine holds them as manifest
arithmetic (each frontier file-set's corpus_mask), so building the join
submits no Spark job, and the explicit schema skips footer inference.
Rows are exchanged by image_id hash (_exchange says why not by bucket),
and each batch is read in offset order per shard, seeking forward — the
access pattern of ranged GETs against tar/WebDataset shards on object
storage. A fetched row's bytes are decoded in the same stage (no second
pass over binary data).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..fixtures import corpus as C
from ..functions.images import decode_any
from ..session import sized_tasks
from .corpus_source import CORPUS_SCHEMA, blob_path

SLIM_COLS = ["image_id", "fmt", "caption", "phash", "bucket", "blob_offset", "blob_len"]
SLIM_SCHEMA = ", ".join(f for f in CORPUS_SCHEMA.split(", ") if f.split()[0] in SLIM_COLS)

VERIFY_SCHEMA = (
    "url string, psnr double, phash_ok boolean, caption_ok boolean, pixels_ok boolean"
)
FEATURES_SCHEMA = "url string, phash_dec bigint, luma double"


_CHUNK = 32 * 1024 * 1024  # shard sub-range per exchange key


def _exchange(df: DataFrame, n_rows: int) -> DataFrame:
    """Exchange for the point-read+decode stage, keyed by image_id hash.

    Keying by storage location — (bucket, offset-chunk) — looks natural but
    is a CPU-skew trap: the corpus buckets by `i % 64`, which also fixes the
    image DIMENSIONS, so a location-keyed task gets a single shape and the
    64×64 tasks carry 16× the pixel work of the 16×16 ones; measured, that
    skew alone capped the verify stage's 8→32-core speedup at ~1.3×.
    Hashing on image_id gives every task the same shape mix (decode work is
    uniform) while `_read_ranges` still seek-orders each batch per shard —
    on object storage the per-task ranged GETs were independent anyway.

    Row-sized (session.sized_tasks over the caller's row count): a round
    of a few dozen pages runs as 1 task, not 2× cores tasks that each pay
    a pandas-UDF task's fixed cost for a handful of rows; a bulk round
    reaches the 2× cores cap, where finer tasks smooth residual
    stragglers. The explicit numPartitions is also exempt from AQE
    coalescing, which at bulk scale otherwise shrinks byte-small exchanges
    under CPU-bound pandas stages (measured 17 tasks for a 330k-row decode
    on 32 cores)."""
    return df.repartition(sized_tasks(df.sparkSession, n_rows), F.col("image_id"))


def fetch_join(
    spark: SparkSession, corpus_path: str, admitted: DataFrame, buckets: List[int]
) -> DataFrame:
    """admitted: (url, image_id). Returns admitted ⋈ slim metadata — a
    broadcast join against a bytes-free scan pruned to `buckets`, which
    must hold the storage bucket of every admitted page that should join
    (a superset is correct, the join is exact; fixtures.corpus.corpus_mask
    computes them from URLs)."""
    slim = (
        spark.read.schema(SLIM_SCHEMA).parquet(corpus_path)
        .filter(F.col("bucket").isin(list(buckets)))
        .select(*SLIM_COLS)
    )
    return slim.join(F.broadcast(admitted.select("image_id", "url")), "image_id")


def _read_ranges(pdf, corpus_path):
    """Point-read payloads for one pandas batch. Returns a list aligned to
    the batch's positional order; reads happen offset-ordered per shard."""
    import numpy as np

    buckets = pdf["bucket"].to_numpy()
    offsets = pdf["blob_offset"].to_numpy()
    lengths = pdf["blob_len"].to_numpy()
    out = [None] * len(pdf)
    order = np.lexsort((offsets, buckets))
    handles = {}
    try:
        for pos in order:
            b = int(buckets[pos])
            fh = handles.get(b)
            if fh is None:
                fh = handles[b] = open(blob_path(corpus_path, b), "rb")
            fh.seek(int(offsets[pos]))
            out[pos] = fh.read(int(lengths[pos]))
    finally:
        for fh in handles.values():
            fh.close()
    return out


def fetch_and_verify(
    spark, corpus_path: str, admitted: DataFrame, buckets: List[int], spec: C.CorpusSpec,
    n_rows: int,
) -> DataFrame:
    """Fetch + full per-row invariants vs the generator (input_hint):
    decoded pixels exact for PNG / PSNR≥40 dB for JPEG, phash equality,
    caption equality. `buckets` prunes the corpus scan (fetch_join);
    `n_rows`, the admitted row count the caller already holds, sizes the
    verify stage's task count."""
    fetched = fetch_join(spark, corpus_path, admitted, buckets)

    def verify(batches):
        import pandas as pd

        from ..functions.images import verify_batch

        for pdf in batches:
            payloads = _read_ranges(pdf, corpus_path)
            yield pd.DataFrame(
                verify_batch(
                    pdf["url"].to_numpy(),
                    payloads,
                    pdf["fmt"].to_numpy(),
                    pdf["caption"].to_numpy(),
                    pdf["phash"].to_numpy(),
                    spec,
                )
            )

    return _exchange(fetched, n_rows).mapInPandas(verify, schema=VERIFY_SCHEMA)


def fetch_and_decode(
    spark, corpus_path: str, admitted: DataFrame, buckets: List[int], n_rows: int
) -> DataFrame:
    """Fetch + decode + light features (the production fetch workload:
    no generator oracle in the loop). `buckets` and `n_rows` prune and
    size the stage as in fetch_and_verify."""
    fetched = fetch_join(spark, corpus_path, admitted, buckets)

    def feats(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = _read_ranges(pdf, corpus_path)
            urls = pdf["url"].to_numpy()
            n = len(urls)
            lumas = np.empty(n)
            grays = np.empty((n, 32, 32))
            sub32 = np.arange(32)
            for k in range(n):
                dec = decode_any(payloads[k])
                means = dec.reshape(-1, 3).mean(axis=0)
                lumas[k] = 0.2126 * means[0] + 0.7152 * means[1] + 0.0722 * means[2]
                # subsample before the channel mean (commutes; see
                # images.verify_batch) — touches 32·32·3 values, not h·w·3
                h, w = dec.shape[:2]
                sub = dec[sub32 * h // 32][:, sub32 * w // 32]
                grays[k] = sub.sum(axis=2, dtype=np.float64) / 3.0
            ph = C.phash64_batch(grays) if n else np.zeros(0, dtype=np.int64)
            yield pd.DataFrame({"url": urls, "phash_dec": ph, "luma": lumas})

    return _exchange(fetched, n_rows).mapInPandas(feats, schema=FEATURES_SCHEMA)
