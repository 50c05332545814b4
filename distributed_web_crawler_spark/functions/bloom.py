"""Partitioned Bloom seen-filters (north rule; replaces the reference's
mutex-guarded visited maps, master.go:96, 254-262 — SURVEY.md D5/U2/J1).

Design (scale-first):

* The seen set is sharded into ``n_buckets`` by ``pmod(url_hash, n)``; each
  bucket owns one Bloom blob file in the job's round log. A round only
  rewrites the blobs of buckets it actually added URLs to; untouched blobs
  are inherited via the commit manifest (catalog/tables.py) — exactly how
  Iceberg carries unchanged data files across snapshots.
* Blob updates run EXECUTOR-side: ``applyInPandas`` groups the round's new
  url_hashes by bucket; each group task reads the bucket's previous blob
  from shared storage, ORs in the new bits (numpy, vectorized), writes the
  staged blob for the next commit. The driver never sees the hashes.
* The probe runs in the same bucket task as the blob update: the round's
  raw candidates are grouped by bucket, and each group task loads only its
  bucket's blob (no broadcast of the full filter set — at 10^10 URLs the
  blobs total tens of GB, far beyond broadcast), probes its deduplicated
  hashes, then ORs the fresh ones into that same filter. Bloom NEGATIVES
  are guaranteed-new (no false negatives); POSITIVES are re-checked exactly
  against that bucket's seen hashes, so a false positive can never lose a
  URL (SURVEY.md §5.3).

Double hashing (Kirsch–Mitzenmacher): position_j = h1 + j*h2 mod m, with
h1/h2 split from the 64-bit xxhash — the standard public construction.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


@dataclass(frozen=True)
class BloomParams:
    n_bits: int = 1 << 20  # per-bucket filter size (power of two)
    n_hashes: int = 7

    @property
    def n_bytes(self) -> int:
        return self.n_bits // 8


def empty_filter(p: BloomParams) -> np.ndarray:
    return np.zeros(p.n_bytes, dtype=np.uint8)


def _positions(hashes: np.ndarray, p: BloomParams) -> np.ndarray:
    """(n_hashes, n) bit positions from signed-int64 url hashes."""
    h = hashes.astype(np.int64).view(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)  # odd ⇒ full-period stride
    j = np.arange(p.n_hashes, dtype=np.uint64)[:, None]
    return ((h1[None, :] + j * h2[None, :]) & _MASK) % np.uint64(p.n_bits)


def add_hashes(filt: np.ndarray, hashes: np.ndarray, p: BloomParams) -> None:
    pos = _positions(hashes, p)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64).ravel()
    masks = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)).ravel()
    np.bitwise_or.at(filt, byte_idx, masks)


def contains(filt: np.ndarray, hashes: np.ndarray, p: BloomParams) -> np.ndarray:
    """Boolean array: True = maybe-seen (needs exact check), False =
    definitely new."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    pos = _positions(hashes, p)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    masks = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
    return ((filt[byte_idx] & masks) != 0).all(axis=0)


def load_blob(path: str, p: BloomParams) -> np.ndarray:
    if path and os.path.exists(path):
        return np.fromfile(path, dtype=np.uint8)
    return empty_filter(p)


def load_blobs(paths, p: BloomParams) -> np.ndarray:
    """OR-merge one bucket's blob file(s) into a single filter. A bucket
    written by a chunked round (plans/frontier._write_bucketed with
    chunks > 1) has one blob file PER CHUNK, each = previous filter | that
    chunk's bits, so the union of any subset that covers all chunks — and
    the OR of all of them — is exactly previous | round's bits. Accepts a
    single path, a list of paths, or None/"" (empty filter)."""
    if paths is None or isinstance(paths, str):
        return load_blob(paths or "", p)
    filt = None
    for path in paths:
        if path and os.path.exists(path):
            arr = np.fromfile(path, dtype=np.uint8)
            if filt is None:
                filt = arr
            else:
                np.bitwise_or(filt, arr, out=filt)
    return filt if filt is not None else empty_filter(p)


def write_blob(path: str, filt: np.ndarray) -> None:
    # tmp name unique per attempt: concurrent attempts of the same bucket
    # group (speculative execution / a zombie master racing a timeout-steal
    # winner) must never interleave into one tmp file; the os.replace to the
    # deterministic final name stays idempotent either way
    import uuid

    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{os.path.basename(path)}.{uuid.uuid4().hex[:12]}.tmp")
    filt.tofile(tmp)
    os.replace(tmp, path)
