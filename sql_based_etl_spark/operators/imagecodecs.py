"""Image codec for the multimodal pipeline: uncompressed BMP.

BMP (BITMAPINFOHEADER, 24/32-bit, bottom-up or top-down rows) is the
one image format the library decodes. ``encode_bmp_bytes`` writes the
24-bit payloads the image near-duplicate queries synthesize, and
``decode_image_bytes`` reads them back. Every other container the
sniffer recognises (PNG, JPEG, GIF, netpbm) or does not raises
``NotImplementedError``: decoding it needs an external codec.

These functions run inside the Arrow ``mapInPandas`` batch path
(``multimodal.decode_image``, ``multimodal.image_dhash``): bytes in,
(geometry, pixel statistics, digest) out, so pixels never leave the
executor.

Format reference: the BMP file layout (BITMAPFILEHEADER and
BITMAPINFOHEADER, 4-byte row padding, bottom-up BGR rows).
"""

from __future__ import annotations

import struct

import numpy as np


class ImageDecodeError(ValueError):
    """Malformed bytes for a format we claim to support (fail-loud)."""


def sniff_format(data: bytes) -> str:
    """Best-effort container sniff from magic bytes. Returns one of
    ``png | bmp | ppm | pgm | jpeg | gif | unknown``."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:2] == b"BM":
        return "bmp"
    if data[:2] in (b"P6", b"P3"):
        return "ppm"
    if data[:2] in (b"P5", b"P2"):
        return "pgm"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return "unknown"


def decode_image_bytes(data: bytes) -> tuple[str, np.ndarray]:
    """Decode BMP bytes to ``("bmp", pixels)`` where ``pixels`` is a
    ``uint8`` array of shape (height, width, channels). Raises
    :class:`ImageDecodeError` for malformed BMP and
    ``NotImplementedError`` for every other format, recognised or
    not."""
    fmt = sniff_format(bytes(data))
    if fmt == "bmp":
        return fmt, _decode_bmp(bytes(data))
    raise NotImplementedError(
        f"image format {fmt!r} needs an external codec (the one format "
        "supported without one is uncompressed BMP)"
    )


# --- BMP (BITMAPINFOHEADER, uncompressed 24/32-bit) ---------------------


def _decode_bmp(data: bytes) -> np.ndarray:
    if len(data) < 54:
        raise ImageDecodeError("bmp: truncated header")
    pix_offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ImageDecodeError(
            f"bmp: only BITMAPINFOHEADER (>=40 bytes) supported, got {hdr_size}"
        )
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != 0:
        raise ImageDecodeError(f"bmp: compression {compression} not supported")
    if bpp not in (24, 32):
        raise ImageDecodeError(f"bmp: only 24/32-bit supported, got {bpp}")
    bottom_up = h > 0
    h = abs(h)
    nch = bpp // 8
    stride = (w * nch + 3) & ~3  # rows padded to 4 bytes
    need = pix_offset + stride * h
    if len(data) < need:
        raise ImageDecodeError(f"bmp: need {need} bytes, have {len(data)}")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=pix_offset
    ).reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    if bottom_up:
        rows = rows[::-1]
    # stored BGR(A) → returned RGB(A)
    order = [2, 1, 0] + ([3] if nch == 4 else [])
    return np.ascontiguousarray(rows[:, :, order])


def encode_bmp_bytes(px: np.ndarray) -> bytes:
    """24-bit BI_RGB bottom-up BMP from an (h, w, 3) uint8 RGB array —
    the operator-side encoder that lets the multimodal lane synthesize
    real container payloads for the image-dedup path.
    Layout per the public BMP spec: 14-byte file header,
    BITMAPINFOHEADER, BGR rows padded to 4 bytes, bottom-up."""
    h, w, c = px.shape
    if c != 3:
        raise ValueError("encode_bmp_bytes: (h, w, 3) RGB expected")
    pad = (-(w * 3)) % 4
    bgr = np.ascontiguousarray(px[::-1, :, ::-1]).astype(np.uint8)
    if pad:
        body = np.zeros((h, w * 3 + pad), dtype=np.uint8)
        body[:, : w * 3] = bgr.reshape(h, w * 3)
        raw = body.tobytes()
    else:
        raw = bgr.tobytes()
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + len(raw), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raw),
                      2835, 2835, 0, 0)
    return hdr + dib + raw
