"""Deterministic synthetic corpus — the "web" both the oracle crawler and
the Spark engine crawl (FIXTURES.md §1).

One row per crawlable page: an image+caption pair with schema per
BASELINE.json ``input_hint``::

    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash bigint)

Everything is a pure function of ``(seed, i)`` — no wall clock, no
randomness beyond the seeded PCG64 pixel stream. The link graph reproduces
the reference crawler's extraction semantics (see reference
Server/Cluster/Functionality/Crawling.go:11,21,26,38-47 and
Server/Cluster/Worker/worker.go:153):

* per-page dedup of hrefs          (Crawling.go:21,39  → U1)
* dead-link validity filter        (Utils/utils.go:8-11 → F2): targets
  outside [0, N) are dropped at extraction time (~9% dangling)
* 1000-token parse cap → EMPTY list on oversized pages (Crawling.go:47 → F1
  quirk): pages with xxh64(f"{seed}:big:{i}") % 50 == 0
* fetch error → empty result       (worker.go:153): pages with
  xxh64(f"{seed}:err:{i}") % 97 == 0

The image codec is a deterministic stand-in (no PIL/libjpeg in this
container — the real decode path is gated behind an import-try in
functions/images.py): "png" is zlib-lossless, "jpeg" quantizes to step 4
(PSNR ≈ 46 dB, exercising the lossy PSNR≥40 dB verification path for ~1/3
of rows). ``phash`` is an 8×8-DCT aHash computed over the DECODED pixels at
generation time, so the per-row invariant ``phash(decode(bytes)) == phash``
holds exactly for both lossless and lossy rows.
"""

from __future__ import annotations

import hashlib
import zlib
from dataclasses import dataclass
from typing import Iterator, List

import numpy as np

from ..functions.xxh64 import xxh64

SEED_DEFAULT = 42
N_HOSTS = 64  # H in FIXTURES.md
OVERSIZED_MOD = 50  # 1-in-50 pages hit the 1000-token cap → empty links
FETCH_ERR_MOD = 97  # 1-in-97 pages fail fetch → empty links
MAX_OUT_DEGREE = 9  # out-degree in 0..8
DANGLING_FACTOR = 11  # targets drawn from [0, N*11//10) → ~9% dangling
N_BUCKETS = 32  # corpus storage partitions: bucket(i) = i % N_BUCKETS
ALL_BUCKETS = (1 << N_BUCKETS) - 1  # corpus_mask of every storage bucket

# functions.urls.page_index's full-URL rule. Java's `$` (the JVM regex
# behind regexp_extract) also matches before ONE final line terminator, so
# the twin accepts one too: a malformed seed ending in "\r" still joins
_PAGE_URL = r"^https?://h[0-9]+\.test/p/([0-9]+)(?:\r\n|[\n\r\u0085\u2028\u2029])?\Z"


def corpus_mask(urls) -> int:
    """The corpus storage buckets a set of URLs can join, as an int64 bit
    mask: the OR of ``1 << (page_index % N_BUCKETS)``. The numpy twin of
    functions.urls.page_index, so a URL outside the corpus scheme sets no
    bit (its page_index is NULL, it never joins). 10^5 is a multiple of 32,
    so the index's last five digits fix its bucket at any length (an index
    past int64 sets a bit it never joins: a harmless superset)."""
    import pandas as pd

    digits = pd.Series(urls, dtype=object).str.extract(_PAGE_URL, expand=False).dropna()
    if digits.empty:
        return 0
    b = digits.str[-5:].astype(np.int64).to_numpy() % N_BUCKETS
    return int(np.bitwise_or.reduce(np.left_shift(np.int64(1), b)))


def mask_buckets(mask: int) -> List[int]:
    """The storage buckets set in a corpus_mask, ascending."""
    return [b for b in range(N_BUCKETS) if mask >> b & 1]

_VOCAB = [
    "amber", "basalt", "cedar", "delta", "ember", "fjord", "garnet", "harbor",
    "indigo", "juniper", "krill", "lagoon", "marble", "nectar", "onyx", "prism",
    "quartz", "raven", "sierra", "tundra", "umber", "vortex", "willow", "xenon",
    "yonder", "zephyr", "anchor", "breeze", "copper", "dune", "echo", "flint",
    "grove", "haze", "isle", "jade", "kelp", "lichen", "mesa", "north",
    "opal", "pine", "quill", "reef", "slate", "thorn", "ultra", "vale",
    "wharf", "xylem", "yarrow", "zinc", "arc", "bluff", "crest", "drift",
    "eddy", "fern", "gale", "heath", "inlet", "jetty", "knoll", "loch",
]
assert len(_VOCAB) == 64


@dataclass(frozen=True)
class CorpusSpec:
    """Parameters of one synthetic corpus. Pure value object."""

    n: int
    seed: int = SEED_DEFAULT
    n_hosts: int = N_HOSTS

    @property
    def target_space(self) -> int:
        return self.n * DANGLING_FACTOR // 10


# ---------------------------------------------------------------- identity

def image_id(i: int) -> str:
    return f"img{i:08d}"


def page_index(image_id_: str) -> int:
    return int(image_id_[3:])


def host_of(i: int, spec: CorpusSpec) -> int:
    """Host assignment; every 10th page remaps to host 0 → deterministic
    mega-host for skew/salting tests (FIXTURES.md §1)."""
    if i % 10 == 0:
        return 0
    return xxh64(f"{spec.seed}:host:{i}") % spec.n_hosts


def host_name(h: int) -> str:
    return f"h{h:04d}.test"


def url_of(i: int, spec: CorpusSpec) -> str:
    return f"http://{host_name(host_of(i, spec))}/p/{i}"


def index_of_url(url: str) -> int:
    """Inverse of url_of (bijective; host is derivable from i)."""
    return int(url.rsplit("/", 1)[1])


def host_of_url(url: str) -> str:
    # http://h0001.test/p/123 -> h0001.test
    return url.split("//", 1)[1].split("/", 1)[0]


# ---------------------------------------------------------------- link rule

def is_oversized(i: int, spec: CorpusSpec) -> bool:
    """Reference quirk F1: >1000 tokens ⇒ extraction returns EMPTY
    (Crawling.go:11,26,47)."""
    return xxh64(f"{spec.seed}:big:{i}") % OVERSIZED_MOD == 0


def is_fetch_error(i: int, spec: CorpusSpec) -> bool:
    """Reference quirk: fetch failure ⇒ worker reports empty URL list
    (worker.go:153)."""
    return xxh64(f"{spec.seed}:err:{i}") % FETCH_ERR_MOD == 0


def out_degree(i: int, spec: CorpusSpec) -> int:
    return xxh64(f"{spec.seed}:deg:{i}") % MAX_OUT_DEGREE


def out_links(i: int, spec: CorpusSpec) -> List[int]:
    """Extracted+validated link targets of page i, in extraction order.

    Applies the oversized/fetch-error quirks, per-page dedup (U1) and the
    dead-link validity filter (F2). Returns page indices (map to URLs via
    url_of)."""
    if is_oversized(i, spec) or is_fetch_error(i, spec):
        return []
    seen = set()
    out: List[int] = []
    space = spec.target_space
    for k in range(out_degree(i, spec)):
        t = xxh64(f"{spec.seed}:lnk:{i}:{k}") % space
        if t < spec.n and t not in seen:  # F2 validity + U1 dedup
            seen.add(t)
            out.append(t)
    return out


# ------------------------------------------------- link rule, batched form

def _ndigits(x: "np.ndarray") -> "np.ndarray":
    d = np.ones(x.shape, np.int64)
    p = 10
    while (x >= p).any():
        d += x >= p
        p *= 10
    return d


def _digit_cols(x: "np.ndarray", d: int) -> "np.ndarray":
    """ASCII decimal digits of each value as a (rows, d) uint8 matrix."""
    cols = np.empty((len(x), d), np.uint8)
    t = x.copy()
    for pos in range(d - 1, -1, -1):
        cols[:, pos] = (t % 10) + 48
        t //= 10
    return cols


def _hash_keyed_batch(tag: str, idx: "np.ndarray", spec: CorpusSpec, k: int | None = None) -> "np.ndarray":
    """xxh64(f"{seed}:{tag}:{i}") (or ...":{k}") for a whole index batch,
    bit-identical to the scalar rule: keys are assembled as uint8 digit
    matrices (no per-row Python strings) grouped by digit count so every
    group is one fixed-width :func:`xxh64_u8mat` call."""
    from ..functions.xxh64 import xxh64_u8mat

    idx = np.asarray(idx, np.int64)
    prefix = np.frombuffer(f"{spec.seed}:{tag}:".encode(), np.uint8)
    out = np.empty(len(idx), np.uint64)
    nd = _ndigits(idx)
    for d in np.unique(nd):
        m = nd == d
        sub = idx[m]
        width = len(prefix) + int(d) + (2 if k is not None else 0)
        mat = np.empty((len(sub), width), np.uint8)
        mat[:, : len(prefix)] = prefix
        mat[:, len(prefix) : len(prefix) + d] = _digit_cols(sub, int(d))
        if k is not None:
            mat[:, -2] = ord(":")
            mat[:, -1] = 48 + k  # single digit: k < MAX_OUT_DEGREE <= 9
        out[m] = xxh64_u8mat(mat)
    return out


def host_of_batch(idx: "np.ndarray", spec: CorpusSpec) -> "np.ndarray":
    """Vectorized :func:`host_of` (mega-host remap included)."""
    idx = np.asarray(idx, np.int64)
    h = (_hash_keyed_batch("host", idx, spec) % np.uint64(spec.n_hosts)).astype(np.int64)
    return np.where(idx % 10 == 0, 0, h)


def out_links_batch(idx: "np.ndarray", spec: CorpusSpec):
    """Vectorized :func:`out_links` over a batch of page indices.

    Returns ``(parent_pos, target)`` int64 arrays — row positions into
    ``idx`` and link-target page indices, ordered row-major so each
    parent's targets appear in extraction order. Same quirks as the scalar
    form (oversized/fetch-error → none, F2 validity, U1 keep-first dedup);
    parity-tested in tests/test_corpus.py. This is the extract stage's hot
    path: ~12 hashed keys per page collapse into ≤12 batched numpy hash
    passes instead of per-key interpreted XXH64."""
    idx = np.asarray(idx, np.int64)
    B = len(idx)
    if B == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    dead = (_hash_keyed_batch("big", idx, spec) % np.uint64(OVERSIZED_MOD) == 0) | (
        _hash_keyed_batch("err", idx, spec) % np.uint64(FETCH_ERR_MOD) == 0
    )
    deg = np.where(
        dead, 0, (_hash_keyed_batch("deg", idx, spec) % np.uint64(MAX_OUT_DEGREE)).astype(np.int64)
    )
    K = int(deg.max())
    if K == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    tgt = np.full((B, K), -1, np.int64)
    space = np.uint64(spec.target_space)
    for k in range(K):
        m = deg > k
        tk = (_hash_keyed_batch("lnk", idx[m], spec, k=k) % space).astype(np.int64)
        tgt[m, k] = np.where(tk < spec.n, tk, -1)  # F2 validity
    for k in range(1, K):  # U1 keep-first dedup (K <= 8: 28 column compares)
        dup = np.zeros(B, bool)
        for j in range(k):
            dup |= tgt[:, j] == tgt[:, k]
        tgt[dup & (tgt[:, k] >= 0), k] = -1
    mask = tgt >= 0
    parent_pos, link_slot = np.nonzero(mask)
    return parent_pos, tgt[parent_pos, link_slot]


# ---------------------------------------------------------------- payload

def dims_of(i: int) -> tuple[int, int]:
    w = 16 + (i % 4) * 16
    h = 16 + ((i // 4) % 4) * 16
    return w, h


def fmt_of(i: int) -> str:
    return "png" if i % 3 else "jpeg"


_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(z):
    """SplitMix64 finalizer (Steele, Lea & Flood, OOPSLA 2014; the
    java.util.SplittableRandom mixer — public constants). Works on a
    numpy uint64 scalar or array; unsigned arithmetic wraps mod 2^64
    by design (errstate silences the scalar-path overflow warning —
    array ufuncs wrap silently already)."""
    with np.errstate(over="ignore"):
        z = (z ^ (z >> np.uint64(30))) * _SM_M1
        z = (z ^ (z >> np.uint64(27))) * _SM_M2
        return z ^ (z >> np.uint64(31))


def raw_pixels(i: int, spec: CorpusSpec) -> np.ndarray:
    """Deterministic per-image pixels: counter-mode SplitMix64, one
    vectorized pass. The previous PCG64-per-image form spent ~60% of its
    time CONSTRUCTING the generator (SeedSequence spin-up) — at 16-64 px
    the setup dominated the bytes, and this function runs inside the
    drain's verify kernel once per fetched URL (r7 verdict: the verify
    kernel is the N→4N scaling residue). Streams are separated by mixing
    the per-image seed through the finalizer before the counter ramp, so
    adjacent i never see overlapping mixer inputs."""
    w, h = dims_of(i)
    n = h * w * 3
    s0 = _splitmix64(np.uint64((spec.seed * 10_000_019 + i) & 0xFFFFFFFFFFFFFFFF))
    k = np.arange(1, n // 8 + 2, dtype=np.uint64)
    z = _splitmix64(s0 + k * _SM_GAMMA)
    return z.view(np.uint8)[:n].reshape(h, w, 3)


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    """Deterministic fake codec. Header: 4-byte magic + uint16 w,h (LE)."""
    h, w, _ = arr.shape
    hdr = (b"FPNG" if fmt == "png" else b"FJPG") + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    if fmt == "png":
        payload = arr.tobytes()
    else:  # lossy: quantize to step 4 (error in [-1, 2] ⇒ PSNR ≈ 46 dB)
        q = (arr.astype(np.uint16) // 4 * 4 + 1).clip(0, 255).astype(np.uint8)
        payload = q.tobytes()
    return hdr + zlib.compress(payload, level=1)


def decode_image(data: bytes) -> tuple[np.ndarray, str]:
    """Decode fake-codec bytes → (h,w,3) uint8 array + fmt string."""
    magic = data[:4]
    fmt = "png" if magic == b"FPNG" else "jpeg"
    w = int.from_bytes(data[4:6], "little")
    h = int.from_bytes(data[6:8], "little")
    arr = np.frombuffer(zlib.decompress(data[8:]), dtype=np.uint8).reshape(h, w, 3)
    return arr, fmt


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 * 255.0 / mse))


_DCT32 = None


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * x + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


def gray32(arr: np.ndarray) -> np.ndarray:
    """Gray 32×32 nearest-neighbor downsample — the phash preprocessing."""
    gray = arr.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    yi = (np.arange(32) * h // 32).astype(np.intp)
    xi = (np.arange(32) * w // 32).astype(np.intp)
    return gray[np.ix_(yi, xi)]


def phash64_batch(grays: np.ndarray) -> np.ndarray:
    """8×8-DCT average hash for a stacked (n,32,32) gray batch.

    Only the top-left 8×8 DCT block is thresholded, so compute exactly
    that: B = D₈ G D₈ᵀ with D₈ the first 8 DCT-II rows, as two large
    reshaped GEMMs ((n·32,32)@(32,8)) instead of a broadcast 32×32 matmul
    pair — 20× fewer flops and one BLAS call per side instead of n
    per-slice kernels (measured ~20× on 10k images; this is the verify
    stage's former hot spot). Bit packing via np.packbits (bitorder
    'big' ⇒ bit 0 is the MSB, matching the 2^(63-k) weight layout).
    phash64 delegates here, so generation and verify stay bit-consistent
    by construction (corpus_source._MARKER_VERSION gates cached shards
    across kernel revisions)."""
    global _DCT32
    if _DCT32 is None:
        _DCT32 = _dct_matrix(32)
    d8t = _DCT32[:8].T  # (32, 8)
    n = len(grays)
    t1 = (grays.reshape(-1, 32) @ d8t).reshape(n, 32, 8)  # G @ D8^T
    block = (
        (t1.transpose(0, 2, 1).reshape(-1, 32) @ d8t)  # (D8 @ (G @ D8^T)) via (X^T D8^T)^T
        .reshape(n, 8, 8)
        .transpose(0, 2, 1)
        .reshape(n, 64)
    )
    med = np.median(block, axis=1, keepdims=True)
    packed = np.packbits(block > med, axis=1).astype(np.uint64)  # (n, 8) bytes, MSB-first
    shifts = np.arange(56, -1, -8, dtype=np.uint64)
    return (packed << shifts).sum(axis=1).view(np.int64)


def phash64(arr: np.ndarray) -> int:
    """8×8-DCT average hash: gray → 32×32 nearest-neighbor resize → DCT-II →
    top-left 8×8 coefficients thresholded at their median → 64 bits
    (signed int64, parquet-friendly)."""
    return int(phash64_batch(gray32(arr)[None, :, :])[0])


def caption_of(i: int, spec: CorpusSpec) -> str:
    dg = hashlib.sha256(f"{spec.seed}:{i}".encode()).digest()
    words = " ".join(_VOCAB[dg[k] % 64] for k in range(8))
    return f"caption of {image_id(i)}: {words}"


def bucket_of(i: int) -> int:
    """Storage partition of page i — corpus parquet is partitioned by this
    so a round's fetch join prunes to only the buckets it touches (the
    sandbox analog of Iceberg bucket(image_id) partitioning)."""
    return i % N_BUCKETS


# ---------------------------------------------------------------- row gen

def make_row(i: int, spec: CorpusSpec, with_bytes: bool = True) -> dict:
    w, h = dims_of(i)
    fmt = fmt_of(i)
    row = {
        "image_id": image_id(i),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption_of(i, spec),
        "bucket": bucket_of(i),
    }
    if with_bytes:
        raw = raw_pixels(i, spec)
        data = encode_image(raw, fmt)
        dec, _ = decode_image(data)
        row["bytes"] = data
        row["phash"] = phash64(dec)  # phash of DECODED pixels — invariant-exact
    return row


def generate_batches(indices: np.ndarray, spec: CorpusSpec, batch: int = 2048) -> Iterator["object"]:
    """Yield pandas DataFrames of corpus rows for the given page indices —
    shared by the Spark mapInPandas generator and local writers."""
    import pandas as pd

    for lo in range(0, len(indices), batch):
        chunk = indices[lo : lo + batch]
        yield pd.DataFrame([make_row(int(i), spec) for i in chunk])


# ------------------------------------------------------- audio/video payloads
#
# The multimodal operators (operators/multimodal.py) need real, decodable
# audio/video blobs to be testable without external codec libraries:
#
# * audio is STANDARD RIFF/WAVE 16-bit PCM, written and read with the
#   stdlib `wave` module — a real-world format, no codec dependency;
# * video is a deterministic fake container "FVID" in the style of the
#   FPNG image codec above: header + one FPNG-encoded frame per index.
#   (Real MP4/MKV need ffmpeg/PyAV, gated behind an import-try.)

AUDIO_RATE = 8000  # Hz — small deterministic clips


def clip_id(i: int) -> str:
    return f"clip{i:08d}"


def audio_samples(i: int, spec: CorpusSpec) -> np.ndarray:
    """Deterministic int16 mono samples: two seeded sine tones + PCG noise,
    0.25-2.0 s long. Pure function of (seed, i)."""
    n = AUDIO_RATE // 4 + (xxh64(f"{spec.seed}:alen:{i}") % (AUDIO_RATE * 7 // 4))
    f1 = 100 + xxh64(f"{spec.seed}:af1:{i}") % 900
    f2 = 100 + xxh64(f"{spec.seed}:af2:{i}") % 1900
    amp = 0.2 + (xxh64(f"{spec.seed}:aamp:{i}") % 500) / 1000.0
    t = np.arange(n, dtype=np.float64) / AUDIO_RATE
    rng = np.random.Generator(np.random.PCG64(spec.seed * 20_000_003 + i))
    wave_ = amp * (0.6 * np.sin(2 * np.pi * f1 * t) + 0.4 * np.sin(2 * np.pi * f2 * t))
    wave_ += 0.02 * rng.standard_normal(n)
    return np.clip(wave_ * 32767.0, -32768, 32767).astype(np.int16)


def encode_wav(samples: np.ndarray, rate: int = AUDIO_RATE) -> bytes:
    """Standard mono 16-bit PCM WAV via the stdlib wave module."""
    import io
    import wave as wave_mod

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """(int16 samples [n, channels], rate) from RIFF/WAVE PCM bytes."""
    import io
    import wave as wave_mod

    with wave_mod.open(io.BytesIO(data), "rb") as w:
        n, rate, width, ch = w.getnframes(), w.getframerate(), w.getsampwidth(), w.getnchannels()
        if width != 2:
            raise NotImplementedError(f"only 16-bit PCM supported, got {8 * width}-bit")
        samples = np.frombuffer(w.readframes(n), dtype="<i2").reshape(n, ch)
    return samples, rate


def make_audio_row(i: int, spec: CorpusSpec) -> dict:
    s = audio_samples(i, spec)
    return {"clip_id": clip_id(i), "bytes": encode_wav(s), "rate": AUDIO_RATE, "n_samples": len(s)}


VIDEO_MAGIC = b"FVID"


def video_id(i: int) -> str:
    return f"vid{i:08d}"


def n_frames_of(i: int, spec: CorpusSpec) -> int:
    return 8 + xxh64(f"{spec.seed}:vlen:{i}") % 57  # 8..64 frames


def video_frame(i: int, k: int, spec: CorpusSpec) -> np.ndarray:
    """Frame k of video i: seeded noise + a moving gradient so consecutive
    frames differ deterministically."""
    w, h = dims_of(i)
    rng = np.random.Generator(np.random.PCG64(spec.seed * 30_000_017 + i * 1009 + k))
    base = rng.integers(0, 200, size=(h, w, 3), dtype=np.uint8)
    ramp = ((np.arange(w) + 3 * k) % 56).astype(np.uint8)[None, :, None]
    return (base + ramp).astype(np.uint8)


def encode_video(frames: list[np.ndarray]) -> bytes:
    """FVID container: magic + u16 w,h,n_frames, then per frame a u32
    length prefix + FPNG blob (the lossless fake image codec)."""
    h, w, _ = frames[0].shape
    out = [VIDEO_MAGIC, w.to_bytes(2, "little"), h.to_bytes(2, "little"),
           len(frames).to_bytes(2, "little")]
    for f in frames:
        blob = encode_image(f, "png")
        out.append(len(blob).to_bytes(4, "little"))
        out.append(blob)
    return b"".join(out)


def decode_video(data: bytes) -> list[np.ndarray]:
    if data[:4] != VIDEO_MAGIC:
        raise ValueError("not an FVID container")
    n = int.from_bytes(data[8:10], "little")
    frames, off = [], 10
    for _ in range(n):
        ln = int.from_bytes(data[off : off + 4], "little")
        off += 4
        frames.append(decode_image(data[off : off + ln])[0])
        off += ln
    return frames


def iter_video_frame_blobs(data: bytes):
    """Yield (frame_idx, fpng_blob) without decoding pixels — the frame
    SAMPLER must not pay decode cost for frames it skips."""
    if data[:4] != VIDEO_MAGIC:
        raise ValueError("not an FVID container")
    n = int.from_bytes(data[8:10], "little")
    off = 10
    for k in range(n):
        ln = int.from_bytes(data[off : off + 4], "little")
        off += 4
        yield k, data[off : off + ln]
        off += ln


def make_video_row(i: int, spec: CorpusSpec) -> dict:
    frames = [video_frame(i, k, spec) for k in range(n_frames_of(i, spec))]
    return {"video_id": video_id(i), "bytes": encode_video(frames), "n_frames": len(frames)}
