"""Image payload decode + verification (north-rule X8, input_hint).

Verification of point-read payloads inside the crawl's Arrow-fed page
pass, one batch at a time: each payload is inflated on its own, and
everything after that (reference pixels, PSNR, gray32, phash) runs once
per image shape on stacked arrays. The corpus' `bytes` column is
column-pruned out of the crawl (SURVEY.md §7 risk (e)).

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


def verify_batch(ids, payloads, fmts, captions, phashes, spec: C.CorpusSpec) -> dict:
    """THE per-batch payload-invariant kernel (input_hint) over pages `ids`:
    decoded pixels exact for PNG / PSNR≥40 dB for JPEG, phash equality,
    caption equality. The crawl's page pass (sources/fetch.py) runs it on
    point-read payloads.

    Work is grouped by shape, not done per page (call overhead dominates
    at 16-64 px): each fake-codec payload is inflated and its bytes
    joined with the rest of its (h, w) group into one (m, h, w, 3) array,
    the group's reference pixels come from ONE
    fixtures.corpus.raw_pixels_batch call, and PSNR, exactness and gray32
    run on the whole group. A payload of another magic is decoded alone
    by decode_any, whose PIL gate raises here. A payload that does not
    decode, or whose dims are not dims_of(id), fails the page: pixels and
    phash not ok, PSNR 0."""
    import zlib

    import numpy as np

    ids = np.asarray(ids, np.int64)
    n = len(ids)
    psnrs = np.zeros(n)
    pixels_ok = np.zeros(n, dtype=bool)
    decoded = np.zeros(n, dtype=bool)
    caption_ok = np.empty(n, dtype=bool)
    grays = np.zeros((n, 32, 32))
    ws, hs = C.dims_of(ids)
    by_shape: dict = {}  # (h, w) -> ([batch position], [pixel bytes])
    for k, (i, w, h, data) in enumerate(zip(ids.tolist(), ws.tolist(), hs.tolist(), payloads)):
        caption_ok[k] = captions[k] == C.caption_of(i, spec)
        if data[:4] in (b"FPNG", b"FJPG"):
            if data[4:8] != w.to_bytes(2, "little") + h.to_bytes(2, "little"):
                continue
            try:
                buf = zlib.decompress(data[8:])
            except zlib.error:
                continue
        else:
            arr = decode_any(data)
            if arr.shape != (h, w, 3):
                continue
            buf = arr.tobytes()
        if len(buf) == h * w * 3:
            ks, bufs = by_shape.setdefault((h, w), ([], []))
            ks.append(k)
            bufs.append(buf)
    for (h, w), (ks, bufs) in by_shape.items():
        idx = np.asarray(ks)
        n_s = len(ks)
        d = np.frombuffer(b"".join(bufs), np.uint8).reshape(n_s, h, w, 3)
        rw = C.raw_pixels_batch(ids[idx], h, w, spec)
        decoded[idx] = True
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
        yi = (np.arange(32) * h // 32).astype(np.intp)
        xi = (np.arange(32) * w // 32).astype(np.intp)
        g16 = d[..., 0].astype(np.uint16)
        g16 += d[..., 1]
        g16 += d[..., 2]
        grays[idx] = g16[:, yi[:, None], xi[None, :]] / 3.0
    phash_ok = (C.phash64_batch(grays) == np.asarray(phashes)) & decoded if n else np.zeros(0, dtype=bool)
    return {
        "id": ids,
        "psnr": psnrs,
        "phash_ok": phash_ok,
        "caption_ok": caption_ok,
        "pixels_ok": pixels_ok,
    }
