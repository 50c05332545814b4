"""The payload-verify kernel (functions/images.verify_batch) and the pixel
generator it shares with the corpus build (fixtures/corpus.raw_pixels_batch),
without Spark: the batched generator is the scalar one bit for bit and is
pinned by a digest, every check can fail a page on its own flag, and a
payload that does not decode at its page's dims fails the page instead of
the batch."""

import hashlib
import importlib.util

import numpy as np
import pytest

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.functions.images import verify_batch

SPEC = C.CorpusSpec(n=1000)
# every one of the 16 shapes, both formats, and ids far past the corpus
IDS = list(range(48)) + [999, 1234, 40_000, 123_456_789, 10**12 + 7]
# sha256 over raw_pixels(i).tobytes() for these ids, recorded from the
# per-image generator the corpus was built with (corpus stamp v6)
FROZEN_IDS = [0, 1, 2, 3, 5, 6, 7, 10, 11, 12, 13, 15, 31, 64, 999, 1234, 40_000,
              123_456_789, 10**12 + 7, 2**40 + 3]
FROZEN = {
    42: "c40df8fba057fd5e6a1c45aaa792d71171ca3146d88f4d3a413f63aec7cf7688",
    7: "1243c6388474c6e8d123cbbef10d1cdac4f6dc2e312c26f68bcd3b00e19f583b",
}


def test_raw_pixels_batch_equals_raw_pixels():
    shapes = {C.dims_of(i) for i in IDS}
    assert len(shapes) == 16
    for w, h in shapes:
        ids = [i for i in IDS if C.dims_of(i) == (w, h)]
        batch = C.raw_pixels_batch(ids, h, w, SPEC)
        assert batch.shape == (len(ids), h, w, 3) and batch.dtype == np.uint8
        for k, i in enumerate(ids):
            assert np.array_equal(batch[k], C.raw_pixels(i, SPEC)), i


@pytest.mark.parametrize("seed", sorted(FROZEN))
def test_raw_pixels_digest_is_frozen(seed):
    spec = C.CorpusSpec(n=10, seed=seed)
    h = hashlib.sha256()
    for i in FROZEN_IDS:
        h.update(C.raw_pixels(i, spec).tobytes())
    assert h.hexdigest() == FROZEN[seed]


def _batch(ids):
    """The kernel's inputs for corpus pages `ids`, as the fetch index
    and shards hold them."""
    rows = [C.make_row(i, SPEC) for i in ids]
    return {
        "ids": list(ids),
        "payloads": [r["bytes"] for r in rows],
        "fmts": np.array([r["fmt"] for r in rows]),
        "captions": [r["caption"] for r in rows],
        "phashes": np.array([r["phash"] for r in rows]),
    }


def _verify(b):
    return verify_batch(b["ids"], b["payloads"], b["fmts"], b["captions"], b["phashes"], SPEC)


def _flags(v, k):
    return (bool(v["pixels_ok"][k]), bool(v["phash_ok"][k]), bool(v["caption_ok"][k]))


def test_corpus_pages_pass():
    v = _verify(_batch(IDS))
    assert v["pixels_ok"].all() and v["phash_ok"].all() and v["caption_ok"].all()
    jpeg = np.array([C.fmt_of(i) == "jpeg" for i in IDS])
    assert (v["psnr"][~jpeg] == 99.0).all()
    assert (v["psnr"][jpeg] >= 40.0).all() and (v["psnr"][jpeg] < 99.0).all()
    assert _verify(_batch([]))["pixels_ok"].shape == (0,)


def test_flipped_png_pixel_fails_pixels_only():
    b = _batch(IDS)
    k = IDS.index(5)  # a png page
    assert C.fmt_of(5) == "png"
    raw = C.raw_pixels(5, SPEC).copy()
    raw[3, 4, 1] ^= 0x01
    b["payloads"][k] = C.encode_image(raw, "png")
    v = _verify(b)
    assert _flags(v, k) == (False, True, True)
    assert v["psnr"][k] < 99.0
    assert v["pixels_ok"].sum() == len(IDS) - 1


def test_flipped_png_payload_byte_fails_the_page_not_the_batch():
    b = _batch(IDS)
    k = IDS.index(7)
    data = bytearray(b["payloads"][k])
    data[len(data) // 2] ^= 0xFF
    b["payloads"][k] = bytes(data)
    v = _verify(b)
    assert _flags(v, k) == (False, False, True)
    assert v["psnr"][k] == 0.0
    assert v["pixels_ok"].sum() == len(IDS) - 1


def test_jpeg_requantized_at_step_16_fails_pixels():
    b = _batch(IDS)
    k = IDS.index(6)
    assert C.fmt_of(6) == "jpeg"
    raw = C.raw_pixels(6, SPEC)
    q = (raw.astype(np.uint16) // 16 * 16 + 8).clip(0, 255).astype(np.uint8)
    b["payloads"][k] = C.encode_image(q, "jpeg")
    v = _verify(b)
    assert v["psnr"][k] < 40.0
    assert not v["pixels_ok"][k] and v["caption_ok"][k]
    assert v["pixels_ok"].sum() == len(IDS) - 1


def test_wrong_caption_fails_caption_only():
    b = _batch(IDS)
    k = IDS.index(11)
    b["captions"][k] = C.caption_of(12, SPEC)
    v = _verify(b)
    assert _flags(v, k) == (True, True, False)
    assert v["caption_ok"].sum() == len(IDS) - 1


def test_wrong_phash_fails_phash_only():
    b = _batch(IDS)
    k = IDS.index(13)
    b["phashes"][k] ^= 1 << 17
    v = _verify(b)
    assert _flags(v, k) == (True, False, True)
    assert v["phash_ok"].sum() == len(IDS) - 1


def test_header_dims_other_than_the_pages_fail_the_page():
    """Page 5 is 32×32. A payload whose header says 16×16 holds, pixel
    for pixel, the first 16·16·3 bytes of page 5's stream: checked at the
    header's dims it would pass, so the kernel must check dims_of(id)."""
    assert C.dims_of(5) == (32, 32)
    b = _batch(IDS)
    k = IDS.index(5)
    b["payloads"][k] = C.encode_image(C.raw_pixels_batch([5], 16, 16, SPEC)[0], "png")
    v = _verify(b)
    assert not v["pixels_ok"][k] and not v["phash_ok"][k] and v["caption_ok"][k]
    assert v["psnr"][k] == 0.0
    assert v["pixels_ok"].sum() == len(IDS) - 1


@pytest.mark.skipif(importlib.util.find_spec("PIL") is not None, reason="PIL installed")
def test_real_png_in_a_batch_names_pil():
    b = _batch(IDS)
    b["payloads"][3] = b"\x89PNG\r\n\x1a\n" + b"\x00" * 32
    with pytest.raises(NotImplementedError, match="PIL"):
        _verify(b)
