"""Image payload decode + verification (north-rule X8, input_hint).

Batch decode of point-read payloads in Arrow-fed pandas stages — never
row-at-a-time Python; the corpus' `bytes` column is column-pruned out of
the crawl (SURVEY.md §7 risk (e)).

The container has no PIL/libjpeg, so the wire format is the deterministic
fake codec from fixtures/corpus.py (zlib-lossless "png", step-4-quantized
"jpeg" at PSNR≈46 dB). A real-codec path is gated behind an import-try:
if PIL appears, `decode_any` dispatches on magic bytes.
"""

from __future__ import annotations

from ..fixtures import corpus as C

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False


def decode_any(data: bytes):
    """Decode a payload to (h,w,3) uint8. Fake-codec magics are handled
    natively; real PNG/JPEG magics require PIL."""
    magic = data[:4]
    if magic in (b"FPNG", b"FJPG"):
        return C.decode_image(data)[0]
    if not HAVE_PIL:
        raise NotImplementedError(
            "real PNG/JPEG payloads need PIL, which is not installed; "
            "fixtures use the deterministic fake codec"
        )
    import io

    import numpy as np
    from PIL import Image

    return np.asarray(Image.open(io.BytesIO(data)).convert("RGB"))


def verify_batch(urls, payloads, fmts, captions, phashes, spec: C.CorpusSpec) -> dict:
    """THE per-batch payload-invariant kernel (input_hint): decoded pixels
    exact for PNG / PSNR≥40 dB for JPEG, phash equality, caption equality.
    PSNR/exactness/gray32 are vectorized per decoded shape (≈3× faster than
    per-image numpy calls — call overhead dominates at 16-64 px). The
    crawl's page pass (sources/fetch.py) runs it on point-read payloads."""
    import numpy as np

    n = len(urls)
    psnrs = np.empty(n)
    pixels_ok = np.empty(n, dtype=bool)
    caption_ok = np.empty(n, dtype=bool)
    grays = np.empty((n, 32, 32))
    decs, raws = [None] * n, [None] * n
    by_shape: dict = {}
    for k in range(n):
        i = C.index_of_url(urls[k])
        decs[k] = decode_any(payloads[k])
        raws[k] = C.raw_pixels(i, spec)
        caption_ok[k] = captions[k] == C.caption_of(i, spec)
        by_shape.setdefault(decs[k].shape, []).append(k)
    for shape, ks in by_shape.items():
        idx = np.asarray(ks)
        d = np.stack([decs[k] for k in ks])  # uint8 — no float64 blow-up
        rw = np.stack([raws[k] for k in ks])
        n_s = len(ks)
        # integer MSE: int16 diffs (range ±255) are EXACT — pixel diffs are
        # integers, so this is bit-identical to the float64 path at a
        # quarter of the memory traffic, and this kernel is bandwidth-bound
        # at 32 threads. einsum with an int32 accumulator streams the
        # sum-of-squares in cache-sized chunks — no materialized squared
        # array (the np.square(int32) form wrote + re-read a full 4-byte
        # block; measured 1.8× on the mse stage). Exact: per-image sums
        # ≤ 64·64·3·255² ≈ 8e8 < 2^31.
        diff = np.subtract(d, rw, dtype=np.int16).reshape(n_s, -1)
        sumsq = np.einsum("nm,nm->n", diff, diff, dtype=np.int32)
        mse = sumsq / diff.shape[1]
        with np.errstate(divide="ignore"):
            p = 10.0 * np.log10(255.0 * 255.0 / mse)
        psnrs[idx] = np.minimum(p, 99.0)
        # exact pixel equality ⟺ sumsq == 0 (integer arithmetic) — no
        # second full array pass
        png_mask = np.asarray(fmts)[idx] == "png"
        pixels_ok[idx] = np.where(png_mask, sumsq == 0, p >= 40.0)
        # gray32: channel-sum the WHOLE image into uint16 with three
        # strided adds (sums ≤ 765 — exact), then gather the 32×32
        # nearest-neighbor grid from the 1-channel plane. Nearest-neighbor
        # picks original pixels, so subsampling commutes with the channel
        # sum; integer sums are exact in uint16 and float64 alike, so the
        # /3.0 yields bits identical to fixtures.gray32's
        # mean-then-subsample (phash stays generation-consistent). The
        # previous fused 4-d fancy index was the verify stage's hot spot —
        # scattered (n,32,32,3) gathers ran 3.5× slower than this
        # stream-then-small-gather form.
        h, w = shape[0], shape[1]
        yi = (np.arange(32) * h // 32).astype(np.intp)
        xi = (np.arange(32) * w // 32).astype(np.intp)
        g16 = d[..., 0].astype(np.uint16)
        g16 += d[..., 1]
        g16 += d[..., 2]
        grays[idx] = g16[:, yi[:, None], xi[None, :]] / 3.0
    phash_ok = C.phash64_batch(grays) == np.asarray(phashes) if n else np.zeros(0, dtype=bool)
    return {
        "url": urls,
        "psnr": psnrs,
        "phash_ok": phash_ok,
        "caption_ok": caption_ok,
        "pixels_ok": pixels_ok,
    }

