"""The BMP image codec (operators/imagecodecs.py): hand-built fixture
images decode BIT-EXACTLY (geometry + pixel digest) through the same
Arrow mapInPandas path mm_decode_geometry grades
(multimodal.decode_image), and every other format refuses loudly. The
encoder here is written forward from the public format spec,
independently of the decoder's logic."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from sql_based_etl_spark.operators.imagecodecs import (
    ImageDecodeError,
    decode_image_bytes,
    sniff_format,
)


def _rng_pixels(h: int, w: int, c: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, c), dtype=np.uint8).reshape(h, w, c)


# --- test-side encoder (format spec applied forward) ----------------


def encode_bmp(px: np.ndarray) -> bytes:
    h, w, c = px.shape
    assert c in (3, 4)
    stride = (w * c + 3) & ~3
    rows = bytearray()
    order = [2, 1, 0] + ([3] if c == 4 else [])  # RGB(A) -> BGR(A)
    bgr = px[:, :, order]
    for r in range(h - 1, -1, -1):  # bottom-up
        row = bgr[r].tobytes()
        rows += row + b"\x00" * (stride - len(row))
    pix_offset = 14 + 40
    filehdr = b"BM" + struct.pack("<IHHI", pix_offset + len(rows), 0, 0,
                                  pix_offset)
    infohdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, c * 8, 0, len(rows),
                          2835, 2835, 0, 0)
    return filehdr + infohdr + bytes(rows)


def test_bmp_24_and_32_bit_exact():
    for c in (3, 4):
        # w=5 with c=3 exercises the 4-byte row padding (stride 16 != 15)
        px = _rng_pixels(3, 5, c)
        fmt, got = decode_image_bytes(encode_bmp(px))
        assert fmt == "bmp"
        assert np.array_equal(got, px)


def test_decoders_fail_loud():
    px = _rng_pixels(2, 2, 3)
    with pytest.raises(ImageDecodeError, match="compression"):
        bad = bytearray(encode_bmp(px))
        struct.pack_into("<I", bad, 30, 1)  # BI_RLE8
        decode_image_bytes(bytes(bad))
    assert sniff_format(b"GIF89a....") == "gif"
    # every format but BMP refuses instead of decoding garbage
    for magic in (b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff\xe0", b"GIF89a",
                  b"P6\n2 2\n255\n"):
        with pytest.raises(NotImplementedError, match="BMP"):
            decode_image_bytes(magic + bytes(12))


# --- the Spark path: same mapInPandas shape mm_decode_geometry grades ----


def test_decode_image_through_spark(spark):
    from sql_based_etl_spark.operators.multimodal import decode_image

    imgs = {2: ("bmp", _rng_pixels(3, 5, 3, seed=2))}
    enc = {2: encode_bmp(imgs[2][1])}
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enc.items()],
        "doc_id long, payload binary",
    ).repartition(2)
    got = {r.doc_id: r for r in decode_image(df).collect()}
    assert len(got) == 1
    for i, (fmt, px) in imgs.items():
        r = got[i]
        h, w, c = px.shape
        assert (r.format, r.width, r.height, r.n_channels) == (fmt, w, h, c)
        assert r.pixel_md5 == hashlib.md5(px.tobytes()).hexdigest()
        assert r.mean_pixel == round(float(px.mean()), 6)


def test_bmp_encoder_round_trip_and_padding():
    """The operator-side BMP encoder: odd widths exercise the 4-byte
    row padding; decode must return the exact RGB pixels (a BGR swap
    or pad miscount corrupts every row)."""
    for w, h in ((17, 16), (3, 2), (4, 5), (1, 1)):
        px = _rng_pixels(h, w, 3, seed=w * 100 + h)
        from sql_based_etl_spark.operators.imagecodecs import encode_bmp_bytes
        fmt, out = decode_image_bytes(encode_bmp_bytes(px))
        assert fmt == "bmp"
        assert np.array_equal(out, px), (w, h)
