"""Keyed payload fetch — the crawl's S4 "HTTP GET" stand-in, IO-proportional
to the frontier (SURVEY.md J5).

A page is fetched by key, as the reference's worker fetches a URL: the
page pass takes page i from the row's page_id (functions.urls.page_index,
computed in the JVM), reads record ``i // N_BUCKETS`` of bucket
``i % N_BUCKETS``'s memory-mapped fetch index (sources/corpus_source.py)
for its fmt, caption, phash and byte range, and point-reads the payload
from the bucket's packed shard. No corpus scan, no join and no Spark job
runs to find the pages. Each batch is read in offset order per shard,
seeking forward — the access pattern of ranged GETs against
tar/WebDataset shards on object storage.

Every crawl round makes ONE Python pass over its pages (fetch_and_verify),
in the same stage that scans the frontier (no exchange in front of it;
fetch_and_verify says why none is needed): the same pandas task reads each
payload, verifies it and expands the page's links, as the reference's
worker fetches a page and returns its links in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..fixtures import corpus as C
from ..session import sized_tasks
from .corpus_source import FORMATS, INDEX_DTYPE, blob_path, open_index

# a verify-partials row: pages verified, how many pass each invariant, and
# the least PSNR among them. A verified page is a partials row of one, and
# a round's payload stats (commit.json "payload") are the fold of its rows.
PARTIALS_SCHEMA = "n long, n_pixels_ok long, n_phash_ok long, n_caption_ok long, min_psnr double"
PARTIALS = [c.split()[0] for c in PARTIALS_SCHEMA.split(", ")]
# the page pass's rows: a link (url, host), or one batch's verify partials
# with seen_bucket -1
PAGES_SCHEMA = "url string, host string, seen_bucket int, " + PARTIALS_SCHEMA


def _pages_in(admitted: DataFrame, n_rows: int) -> DataFrame:
    """The page pass's input: the admitted frontier scan's (page_id, url),
    a NULL page_id (a URL outside the corpus scheme) mapped to -1, narrowed
    to session.sized_tasks(n_rows) partitions by a coalesce, which moves
    no row. A round of a few dozen pages runs as 1 task, not one per scan
    split, each paying a pandas-UDF task's fixed cost for a handful of
    rows; a bulk round runs as the scan's own splits, at most the 2×
    cores cap. The pass is never wider than the scan: Spark splits the
    frontier's parts by bytes, a split holds whole parquet row groups,
    and a part holds at most ~EngineConfig.max_group_rows rows (the
    fused write's chunk guard)."""
    pages = admitted.select(F.coalesce("page_id", F.lit(-1)).alias("page_id"), "url")
    return pages.coalesce(sized_tasks(admitted.sparkSession, n_rows))


def _lookup(page_ids, corpus_path: str, indexes: dict):
    """Look a batch's pages up by id in their buckets' fetch indexes
    (`indexes` caches the ones this task has mapped). Returns the batch
    positions that are corpus pages and, aligned with them, their index
    records and captions. A row whose page id is -1 (its URL is outside
    the corpus scheme) or past its bucket's index is left out, as an
    inner join with the corpus leaves it out."""
    import numpy as np

    i = np.asarray(page_ids, np.int64)
    out = np.zeros(len(i), INDEX_DTYPE)
    captions = {}
    for b in np.unique(i[i >= 0] % C.N_BUCKETS).tolist():
        if b not in indexes:
            indexes[b] = open_index(corpus_path, b)
        rec, blob = indexes[b]
        pos = np.flatnonzero((i >= 0) & (i % C.N_BUCKETS == b))
        pos = pos[i[pos] // C.N_BUCKETS < len(rec)]
        out[pos] = rec[i[pos] // C.N_BUCKETS]
        if (out["id"][pos] != i[pos]).any():
            raise ValueError(
                f"corpus {corpus_path!r} bucket {b}'s fetch index is not dense in "
                "page id; rebuild the corpus (delete it and run build_corpus)"
            )
        for p, o, n in zip(pos.tolist(), out["caption_off"][pos].tolist(), out["caption_len"][pos].tolist()):
            captions[p] = str(blob[o : o + n], "utf-8")
    pos = np.array(sorted(captions), np.int64)
    return pos, out[pos], [captions[p] for p in pos.tolist()]


def _read_ranges(buckets, offsets, lengths, corpus_path):
    """Point-read payloads. Returns a list aligned to the inputs' order;
    reads happen offset-ordered per shard."""
    import numpy as np

    out = [None] * len(buckets)
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


def fold_partials(cols) -> dict:
    """Fold verify-partials rows, given as {PARTIALS column: values} (a
    pandas frame will do), into one: the counts add up, min_psnr is the
    least. Over no rows n is 0 and the rest None, as Spark's count, sum
    and min give."""
    import numpy as np

    if not len(cols["n"]):
        return {k: 0 if k == "n" else None for k in PARTIALS}
    out = {k: int(np.sum(cols[k])) for k in PARTIALS[:-1]}
    out["min_psnr"] = float(np.min(cols["min_psnr"]))
    return out


def fetch_and_verify(
    corpus_path: str, admitted: DataFrame, spec: C.CorpusSpec, n_rows: int, links: bool = True,
) -> DataFrame:
    """The one pandas stage over a round's pages, run in the stage that
    scans the admitted frontier (_pages_in). `admitted` holds (url,
    page_id); `n_rows`, the admitted row count the caller already holds,
    sizes the stage's task count. Each batch's pages are looked up in the
    fetch index (_lookup), point-read and verified against the generator
    (functions.images.verify_batch: decoded pixels exact for PNG /
    PSNR≥40 dB for JPEG, phash equality, caption equality) into one
    partials row, and a row that is no corpus page yields nothing; with
    `links` each page's links are expanded from its `url`
    (operators.extract.expand_links). Returns PAGES_SCHEMA rows.

    No exchange feeds the pass, because every scan split already holds
    the uniform shape mix that hashing on the page id would give. Per-page
    work is set by the image DIMENSIONS, which page i takes
    from `i % 16` (fixtures.corpus.dims_of), while every frontier
    file-set is written bucketed on seen_bucket, a function of url_hash
    that is independent of the page id. A split holding one storage
    location would be the trap: the corpus buckets by `i % N_BUCKETS`,
    which fixes the dims too, so a task keyed by (bucket, offset-chunk)
    gets a single shape, and the 64×64 tasks carry 16× the pixel work of
    the 16×16 ones (measured, that skew alone capped the verify stage's
    8→32-core speedup at ~1.3×)."""
    cols = [c.split()[0] for c in PAGES_SCHEMA.split(", ")]

    def expand(batches):
        import numpy as np
        import pandas as pd

        from ..functions.images import verify_batch
        from ..operators.extract import expand_links

        indexes: dict = {}  # the bucket indexes this task has mapped
        for pdf in batches:
            pos, rec, captions = _lookup(pdf["page_id"].to_numpy(), corpus_path, indexes)
            if not len(pos):
                continue
            v = verify_batch(
                rec["id"],
                _read_ranges(rec["id"] % C.N_BUCKETS, rec["blob_offset"], rec["blob_len"], corpus_path),
                np.asarray(FORMATS)[rec["fmt"]],
                captions,
                rec["phash"],
                spec,
            )
            part = fold_partials({
                "n": np.ones(len(pos)), "n_pixels_ok": v["pixels_ok"],
                "n_phash_ok": v["phash_ok"], "n_caption_ok": v["caption_ok"],
                "min_psnr": v["psnr"],
            })
            yield pd.DataFrame([[None, None, -1, *part.values()]], columns=cols)
            if links:
                _, out, hosts = expand_links(pdf["url"].to_numpy(str)[pos], spec)
                if len(out):
                    yield pd.DataFrame({"url": out, "host": hosts}).reindex(columns=cols)

    return _pages_in(admitted, n_rows).mapInPandas(expand, schema=PAGES_SCHEMA)
