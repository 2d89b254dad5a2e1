"""Multimodal column support: opaque ``binary`` payloads + typed
metadata, with decode / feature-extraction as Arrow-batched Pandas
stages over ``mapInPandas``.

``decode_image`` and ``image_dhash`` really decode: uncompressed BMP
(operators/imagecodecs.py), the format ``synth_bmp`` and
``synth_bmp_variants`` write, runs through the same Arrow batch path
as everything else; any other image format raises
``NotImplementedError``. ``decode_audio`` decodes RIFF/WAVE integer
PCM (8/16/24/32-bit), IEEE float32, IMA and MS ADPCM
(operators/audiocodecs.py), with ``synth_wav`` as its deterministic
payload source; compressed audio raises ``NotImplementedError``.
``decode_features`` keeps the deterministic
byte-level feature stub (works on ANY payload, image or not), and
``sample_frames_stub`` / ``resize_stub`` keep the Spark plumbing of
frame sampling and resizing with stub kernels.

Scale posture: binary payloads ride parquet column chunks; metadata
lives in a sibling struct so filters (mime, byte size) prune row
groups WITHOUT touching payload bytes. ``mapInPandas`` streams Arrow
batches — bound batch memory with
``spark.sql.execution.arrow.maxRecordsPerBatch`` when payloads are
large.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, width int, height int, n_channels int, "
    "mean_byte double, byte_entropy double"
)


def attach_binary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary payload column + metadata struct.
    (Here the payload is the utf-8 encoded text — in production it
    would be image/audio bytes from the source system.)"""
    payload = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.octet_length(payload).alias("n_bytes"),
        F.lit("text/plain").alias("mime"),
        F.md5(F.col(text_col)).alias("content_md5"),
    )
    return df.withColumn("payload", payload).withColumn("meta", meta)


def decode_features(df: DataFrame, id_col: str = "doc_id",
                    payload_col: str = "payload") -> DataFrame:
    """STUB decoder (see module docstring): deterministic per-payload
    features via Arrow-batched ``mapInPandas``. A real implementation
    replaces ``_fake_decode`` with PIL/libvips calls — the Spark
    contract (schema, batch iterator, partition preservation) is
    unchanged."""
    import numpy as np

    def _fake_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # whole-batch vectorization: concatenate every payload into one
            # byte buffer and build all per-row 256-bin histograms with a
            # single bincount over (row_index*256 + byte) — no Python work
            # per row, which is the entire point of the Arrow batch path
            payloads = [bytes(p) for p in pdf[payload_col]]
            nrows = len(payloads)
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=nrows)
            all_bytes = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            row_of_byte = np.repeat(np.arange(nrows, dtype=np.int64), lens)
            counts = np.bincount(
                row_of_byte * 256 + all_bytes, minlength=nrows * 256
            ).reshape(nrows, 256)
            safe_n = np.maximum(lens, 1)
            mean = np.round(counts @ np.arange(256, dtype=np.int64) / safe_n, 6)
            p = counts / safe_n[:, None]
            with np.errstate(divide="ignore", invalid="ignore"):
                terms = np.where(p > 0, p * np.log2(p), 0.0)
            ent = np.round(-terms.sum(axis=1), 6)
            empty = lens == 0
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].to_numpy(),
                    "n_bytes": lens.astype(np.int32),
                    # fake geometry derived from content, stable
                    "width": (1 + lens % 64).astype(np.int32),
                    "height": (1 + (lens // 64) % 64).astype(np.int32),
                    "n_channels": np.full(nrows, 3, dtype=np.int32),
                    "mean_byte": np.where(empty, 0.0, mean),
                    "byte_entropy": np.where(empty, 0.0, ent),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(_fake_decode, FEATURE_SCHEMA)


IMAGE_SCHEMA = (
    "doc_id bigint, format string, width int, height int, n_channels int, "
    "mean_pixel double, pixel_md5 string"
)


def decode_image(df: DataFrame, id_col: str = "doc_id",
                 payload_col: str = "payload") -> DataFrame:
    """REAL image decode through the same Arrow ``mapInPandas`` path as
    :func:`decode_features` — the uncompressed 24/32-bit BMP codec
    (operators/imagecodecs.py). Emits geometry + mean pixel value + an
    md5 of the decoded pixel bytes per image — pixels never leave the
    executor (digests-only-to-driver, like the rest of the multimodal
    stack).

    Decode is inherently per-payload Python, but it rides the Arrow
    batch path (one pandas batch per task, not one call per row via a
    row-at-a-time UDF) and the hot arithmetic inside each decode is
    numpy over the whole raster. Fail-loud: malformed BMP raises
    ``ImageDecodeError``; every other format raises
    ``NotImplementedError``."""
    import hashlib

    import numpy as np

    from sql_based_etl_spark.operators.imagecodecs import decode_image_bytes

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "format", "width", "height",
                                   "n_channels", "mean_pixel", "pixel_md5")}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                fmt, px = decode_image_bytes(bytes(payload))
                h, w, c = px.shape
                out["doc_id"].append(doc_id)
                out["format"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["n_channels"].append(c)
                out["mean_pixel"].append(round(float(px.mean()), 6))
                out["pixel_md5"].append(hashlib.md5(px.tobytes()).hexdigest())
            yield pd.DataFrame({
                "doc_id": np.asarray(out["doc_id"], dtype=np.int64),
                "format": out["format"],
                "width": np.asarray(out["width"], dtype=np.int32),
                "height": np.asarray(out["height"], dtype=np.int32),
                "n_channels": np.asarray(out["n_channels"], dtype=np.int32),
                "mean_pixel": out["mean_pixel"],
                "pixel_md5": out["pixel_md5"],
            })

    return df.select(id_col, payload_col).mapInPandas(_decode, IMAGE_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id bigint, sample_rate int, n_channels int, n_frames int, "
    "duration_us bigint, peak int, sum_abs bigint, sample_md5 string"
)


def decode_audio(df: DataFrame, id_col: str = "doc_id",
                 payload_col: str = "payload") -> DataFrame:
    """REAL audio decode through the same Arrow ``mapInPandas`` path as
    :func:`decode_image` — the pure-stdlib codecs
    (operators/audiocodecs.py): RIFF/WAVE integer PCM 8/16/24/32-bit,
    IMA/MS ADPCM and IEEE float32, mono or multichannel. Emits container facts
    (rate/channels/frames), exact integer statistics (``duration_us``
    in integer microseconds, ``peak`` = max |sample|, ``sum_abs`` =
    Σ|sample| in int64 — both engine-reproducible, unlike float RMS)
    and an md5 of the raw sample bytes — samples never leave the
    executor. Fail-loud: malformed WAV raises ``AudioDecodeError``;
    compressed codecs raise ``NotImplementedError``."""
    import hashlib

    import numpy as np

    from sql_based_etl_spark.operators.audiocodecs import (
        AudioDecodeError,
        decode_audio_bytes,
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "sample_rate", "n_channels",
                                   "n_frames", "duration_us", "peak",
                                   "sum_abs", "sample_md5")}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                rate, s = decode_audio_bytes(bytes(payload))
                if not np.issubdtype(s.dtype, np.integer):
                    # float32 WAVs decode fine, but these columns are
                    # EXACT integer statistics — truncating floats
                    # would be silently-wrong peak/sum_abs, the one
                    # thing this stack never does
                    raise AudioDecodeError(
                        "decode_audio computes integer sample statistics; "
                        "IEEE-float WAV needs a float feature stage "
                        "(decode_wav_bytes returns its samples directly)"
                    )
                frames, n_ch = s.shape
                a = np.abs(s.astype(np.int64))
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate)
                out["n_channels"].append(n_ch)
                out["n_frames"].append(frames)
                out["duration_us"].append(frames * 1_000_000 // rate)
                out["peak"].append(int(a.max(initial=0)))
                out["sum_abs"].append(int(a.sum()))
                out["sample_md5"].append(
                    hashlib.md5(np.ascontiguousarray(s).tobytes()).hexdigest()
                )
            yield pd.DataFrame({
                "doc_id": np.asarray(out["doc_id"], dtype=np.int64),
                "sample_rate": np.asarray(out["sample_rate"], dtype=np.int32),
                "n_channels": np.asarray(out["n_channels"], dtype=np.int32),
                "n_frames": np.asarray(out["n_frames"], dtype=np.int32),
                "duration_us": np.asarray(out["duration_us"], dtype=np.int64),
                "peak": np.asarray(out["peak"], dtype=np.int32),
                "sum_abs": np.asarray(out["sum_abs"], dtype=np.int64),
                "sample_md5": out["sample_md5"],
            })

    return df.select(id_col, payload_col).mapInPandas(_decode, AUDIO_SCHEMA)


def synth_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic WAV synthesis from ``doc_id`` — the audio analogue
    of :func:`attach_binary`'s text payloads: every id yields a small
    PCM16 file whose rate/channels/length/samples are pure integer
    functions of the id (so the decoded statistics can be reproduced
    analytically, as ``tests/test_audiocodecs.py`` does).
    Sample law: channels = 1 + id%2, frames = 64 + id%191,
    sample[c, i] = ((id*31 + i*17 + c*7) % 2001) - 1000 at 8 kHz."""
    import numpy as np

    from sql_based_etl_spark.operators.audiocodecs import encode_wav_bytes

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                n_ch = 1 + d % 2
                frames = 64 + d % 191
                i = np.arange(frames, dtype=np.int64)[:, None]
                c = np.arange(n_ch, dtype=np.int64)[None, :]
                s = ((d * 31 + i * 17 + c * 7) % 2001) - 1000
                ids.append(d)
                blobs.append(encode_wav_bytes(s.astype(np.int16), 8000))
            yield pd.DataFrame({
                "doc_id": np.asarray(ids, dtype=np.int64),
                "payload": blobs,
            })

    return df.select(id_col).mapInPandas(_synth, "doc_id bigint, payload binary")


def synth_bmp(df: DataFrame, id_col: str = "doc_id",
              n_seeds: int = 53) -> DataFrame:
    """Deterministic 17×16 RGB BMP synthesis whose content depends on
    ``doc_id % n_seeds`` — documents sharing a seed are EXACT duplicate
    images, which is what the perceptual-hash dedup query groups. Law:
    pixel[y, x, c] = (seed*31 + y*7 + x*13 + c*5) % 256."""
    from sql_based_etl_spark.operators.imagecodecs import encode_bmp_bytes

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                seed = d % n_seeds
                y = np.arange(16, dtype=np.int64)[:, None, None]
                x = np.arange(17, dtype=np.int64)[None, :, None]
                c = np.arange(3, dtype=np.int64)[None, None, :]
                px = (seed * 31 + y * 7 + x * 13 + c * 5) % 256
                ids.append(d)
                blobs.append(encode_bmp_bytes(px.astype(np.uint8)))
            yield pd.DataFrame({
                "doc_id": np.asarray(ids, dtype=np.int64),
                "payload": blobs,
            })

    return df.select(id_col).mapInPandas(_synth, "doc_id bigint, payload binary")


def synth_bmp_variants(df: DataFrame, id_col: str = "doc_id",
                       n_seeds: int = 53) -> DataFrame:
    """NEAR-duplicate BMP synthesis: same 17×16 RGB base law as
    :func:`synth_bmp` plus (a) a nonlinear seed spread
    ``((seed²) % 251)·(y+1)`` so distinct seeds land FAR apart in
    dhash space, and (b) a variant perturbation ``v·97`` (v =
    ``doc_id % 2``) confined to the top-left 2×2 pixels, which can
    move at most the two dhash bits whose sample columns fall in that
    region — so same-seed variants are NEAR duplicates (hamming ≤ 2,
    measured max 2 / min 0 across all 53 seeds) while cross-seed pairs
    sit ≥ tens of bits apart (5 analytic leakage pairs ≤ 3 out of
    5512, replayed identically by the oracle). Law: pixel[y,x,c] =
    (seed·31 + y·7 + x·13 + c·5 + ((seed²)%251)·(y+1)
    + (v·97 if y<2 and x<2 else 0)) % 256."""
    from sql_based_etl_spark.operators.imagecodecs import encode_bmp_bytes

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                seed, v = d % n_seeds, d % 2
                y = np.arange(16, dtype=np.int64)[:, None, None]
                x = np.arange(17, dtype=np.int64)[None, :, None]
                c = np.arange(3, dtype=np.int64)[None, None, :]
                base = (seed * 31 + y * 7 + x * 13 + c * 5
                        + ((seed * seed) % 251) * (y + 1))
                pert = np.where((y < 2) & (x < 2), v * 97, 0)
                px = (base + pert) % 256
                ids.append(d)
                blobs.append(encode_bmp_bytes(px.astype(np.uint8)))
            yield pd.DataFrame({
                "doc_id": np.asarray(ids, dtype=np.int64),
                "payload": blobs,
            })

    return df.select(id_col).mapInPandas(_synth, "doc_id bigint, payload binary")


def image_dhash_pairs(hashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate IMAGE pairs from 64-bit dhash strings — the
    hamming-band candidate machinery of
    :func:`~sql_based_etl_spark.operators.dedup.simhash_pairs` applied
    to the image leg: split each hash into 4×16-bit blocks
    (pigeonhole: any pair at hamming ≤ 3 shares an intact block, so
    block-equality candidate generation has perfect recall), join on
    (block, key), then the EXACT hamming distance via
    ``bit_count(xor)`` over the block ints — everything JVM-side
    whole-stage codegen, the only Python was the one Arrow decode pass
    that produced the hashes.

    Scale shape: the candidate join shuffles the 4-rows-per-image
    block relation on its (block, key) — duplicate clusters bound
    bucket sizes (cluster size ≈ docs per duplicate group), and
    cross-cluster 16-bit collisions are rare; candidate volume is
    Σ bucket², never corpus². Returns (doc_a, doc_b, hamming) with
    doc_a < doc_b."""
    blk = [
        F.conv(F.substring("dhash", 1 + 16 * b, 16), 2, 10)
        .cast("long").alias(f"blk{b}")
        for b in range(4)
    ]
    docs = hashes.select("doc_id", *blk)
    stack_args = ", ".join(f"{b}, blk{b}" for b in range(4))
    blocks = docs.select(
        "doc_id", "blk0", "blk1", "blk2", "blk3",
        F.expr(f"stack(4, {stack_args}) as (block, bkey)"))
    right = blocks.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"blk{b}").alias(f"rblk{b}") for b in range(4)],
        "block", "bkey")
    hamming = sum(
        F.bit_count(F.col(f"blk{b}").bitwiseXOR(F.col(f"rblk{b}")))
        for b in range(4)
    )
    return (
        blocks.join(right, ["block", "bkey"])
        .filter(F.col("doc_id") < F.col("doc_b"))
        .select(F.col("doc_id").alias("doc_a"), "doc_b",
                hamming.cast("int").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def image_dhash(df: DataFrame, id_col: str = "doc_id",
                payload_col: str = "payload") -> DataFrame:
    """Perceptual difference-hash over REAL decoded images — the image
    leg of the dedup family (text: MinHash/SimHash, embeddings:
    LSH/SemDeDup; this covers exact/near-duplicate IMAGES at corpus
    scale). Per payload: BMP decode (operators/imagecodecs.py) →
    integer grayscale ``(299R + 587G + 114B) // 1000``
    → a 9×8 nearest-neighbor sample grid (``gx = k*w//9``,
    ``gy = y*h//8``) → 64 horizontal-gradient bits emitted as a 64-char
    '0'/'1' string (a string survives any engine's integer width —
    bit 63 would overflow a signed BIGINT). All integer arithmetic, so
    an analytic oracle can replay it from a synthesis law.

    Scale shape: one Arrow ``mapInPandas`` pass, 64 bytes out per
    image; exact-dup groups are a hash ``groupBy`` (shuffle carries
    hashes, never pixels); NEAR-dup pairs compose with the SimHash
    hamming machinery (operators/dedup.py:simhash_pairs' band split)
    over the same 64 bits."""
    from sql_based_etl_spark.operators.imagecodecs import decode_image_bytes

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                _, px = decode_image_bytes(bytes(payload))
                rgb = px[:, :, :3].astype(np.int64)
                gray = (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1]
                        + 114 * rgb[:, :, 2]) // 1000
                h, w = gray.shape
                gy = (np.arange(8) * h) // 8
                gx = (np.arange(9) * w) // 9
                grid = gray[np.ix_(gy, gx)]
                bits = (grid[:, :-1] > grid[:, 1:]).astype(np.uint8)
                ids.append(int(doc_id))
                hashes.append("".join(
                    "1" if b else "0" for b in bits.reshape(-1)))
            yield pd.DataFrame({
                "doc_id": np.asarray(ids, dtype=np.int64),
                "dhash": hashes,
            })

    return df.select(id_col, payload_col).mapInPandas(
        _hash, "doc_id bigint, dhash string")


FRAME_SCHEMA = "doc_id bigint, frame_idx int, n_frame_bytes int, frame_md5 string"


def sample_frames_stub(df: DataFrame, frame_bytes: int = 256, every_n: int = 4,
                       id_col: str = "doc_id",
                       payload_col: str = "payload") -> DataFrame:
    """Frame sampling with the REAL Spark plumbing and a stub decoder:
    the payload is treated as a sequence of fixed-size frames
    (``frame_bytes`` each — a real video decoder would use container
    chunk boundaries), and every ``every_n``-th frame is emitted as
    (doc_id, frame_idx, n_frame_bytes, frame_md5).

    Shape: posexplode over a ``sequence()`` of sampled frame indices +
    ``substring`` on the binary column — pure codegen, no Python, and
    the frame bytes never leave the JVM (only their md5 + length do).
    A real decoder swaps the substring for a codec call via
    ``mapInPandas`` with this exact output schema."""
    n_frames = F.ceil(F.octet_length(F.col(payload_col)) / F.lit(frame_bytes)).cast("int")
    idxs = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(payload_col).alias("__p"),
        F.posexplode(idxs).alias("__pos", "frame_idx"),
    )
    frame = F.expr(f"substring(__p, frame_idx * {frame_bytes} + 1, {frame_bytes})")
    return ex.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.octet_length(frame).cast("int").alias("n_frame_bytes"),
        F.md5(frame).alias("frame_md5"),
    )


RESIZE_SCHEMA = "doc_id bigint, src_bytes int, dst_bytes int, resized_md5 string"


def resize_stub(df: DataFrame, target_bytes: int = 128,
                id_col: str = "doc_id",
                payload_col: str = "payload") -> DataFrame:
    """Resize with the REAL Spark plumbing and a stub resampler:
    1-D nearest-neighbor byte resampling (index j of the output maps to
    source byte floor(j·n/T)) stands in for 2-D pixel resampling — the
    contract a real thumbnailer plugs into is identical (Arrow-batched
    ``mapInPandas``, payload in, fixed-size artifact + digest out).

    Whole-batch vectorization (same lesson as ``decode_features``):
    every payload is concatenated into one byte buffer and ALL rows'
    resamples happen in a single 2-D fancy-index —
    ``buf[offset[r] + (j * n_r) // T]`` for the full (row, j) grid at
    once — no per-row numpy calls. Only the md5 digests walk rows in
    Python (hashlib has no batch API); each hashes a T-byte slice, so
    that loop is O(rows), not O(bytes). Empty payloads produce an empty
    artifact whose md5 is the md5 of b''. Only the digest and sizes
    leave the executor — resized bytes would stream to object storage
    in production, never through the driver."""
    import hashlib

    import numpy as np

    def _resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf[payload_col]]
            nrows = len(payloads)
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=nrows)
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            offsets = np.cumsum(lens) - lens
            nz = lens > 0
            out_rows = np.zeros((nrows, target_bytes), dtype=np.uint8)
            if nz.any():
                j = np.arange(target_bytes, dtype=np.int64)
                idx = offsets[nz, None] + (j[None, :] * lens[nz, None]) // target_bytes
                out_rows[nz] = buf[idx]
            empty_md5 = hashlib.md5(b"").hexdigest()
            digests = [
                hashlib.md5(out_rows[r].tobytes()).hexdigest() if nz[r] else empty_md5
                for r in range(nrows)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].to_numpy(),
                    "src_bytes": lens.astype(np.int32),
                    "dst_bytes": np.where(nz, target_bytes, 0).astype(np.int32),
                    "resized_md5": digests,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(_resample, RESIZE_SCHEMA)
