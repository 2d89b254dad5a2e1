"""Pure-stdlib MP3 and OGG/Vorbis CONTAINER parsers: frame/page-level metadata
extraction (duration, rate, channels, frame counts) WITHOUT audio
decode, which is exactly what a training-data pipeline needs to
catalog a 100 TB audio corpus (the perceptual decode stays an external
ffmpeg integration point, same boundary as compressed video).

Both parsers are written from the public specifications only:

- MP3: the MPEG-1/2/2.5 audio frame header layout (11-bit sync,
  version/layer ids, bitrate + sample-rate index tables, padding bit)
  and the Layer III frame-length formula
  ``samples/8 * bitrate / rate + padding``; ID3v2 prefix tags are
  skipped via their syncsafe length. Every frame header is validated
  against the first (a mid-stream version/rate change is corruption,
  not VBR — VBR changes only the bitrate index).
- OGG: the page framing (capture pattern, 27-byte header, lacing
  table, 64-bit granule position) with the spec's CRC-32 (polynomial
  0x04c11db7, unreflected, zero init/xor — NOT zlib's) verified per
  page, plus the Vorbis I identification header (packet type 1 +
  "vorbis", channels, sample rate, bitrate triple) from the first
  packet, and the Vorbis COMMENT header (packet type 3: vendor string
  + length-prefixed KEY=value user comments + framing bit; keys
  case-insensitive per the spec) when the stream carries one.
  Duration comes from the final page's granule position — the
  spec's rule (granule = absolute sample count for Vorbis).

Independent encoder/decoder pairs (``synth_*`` build payloads the
parsers never share code with), the same proof structure as the
WAV codec in :mod:`.audiocodecs`.

These run INSIDE the Arrow ``mapInPandas`` batch path — bytes never
leave the executor; only integer metadata reaches the driver.
"""

from __future__ import annotations

import struct

from sql_based_etl_spark.operators.audiocodecs import AudioDecodeError

# --- MP3 ------------------------------------------------------------------

# kbps by (version group, bitrate index 1..14); index 0 = "free" which
# the parser rejects (frame length indeterminable), 15 is forbidden
_BITRATE_V1_L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112,
                  128, 160, 192, 224, 256, 320)
_BITRATE_V2_L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64,
                  80, 96, 112, 128, 144, 160)
_RATES = {3: (44100, 48000, 32000),    # MPEG-1
          2: (22050, 24000, 16000),    # MPEG-2
          0: (11025, 12000, 8000)}     # MPEG-2.5


def _id3v2_size(data: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (0 when absent): header is
    'ID3' + version(2) + flags(1) + 4-byte SYNCSAFE length (7 bits per
    byte) not counting the 10-byte header — nor the 10-byte FOOTER an
    ID3v2.4 tag carries when flag 0x10 is set (the spec's rule)."""
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    if any(b & 0x80 for b in data[6:10]):
        raise AudioDecodeError("ID3v2 length bytes must be syncsafe")
    n = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
    return 10 + n + (10 if data[5] & 0x10 else 0)


def _mp3_trailer_size(data: bytes, pos: int) -> int | None:
    """Recognize the standard metadata TRAILERS real-world MP3s carry
    after the last audio frame — one bad file must not abort a corpus
    job. Returns the trailer length when ``data[pos:]`` is exactly a
    known trailer (ID3v1 'TAG' 128 bytes, an APE tag whose 32-byte
    'APETAGEX' header/footer declares its size, or a trailing ID3v2
    tag — some taggers append one), None when it is not."""
    rest = len(data) - pos
    if data[pos:pos + 3] == b"TAG" and rest == 128:
        return 128
    if data[pos:pos + 8] == b"APETAGEX" and rest >= 32:
        # header at the front of the tag: size field (LE, bytes 12-16)
        # counts the tag body + footer, not this header
        size = int.from_bytes(data[pos + 12:pos + 16], "little")
        flags = int.from_bytes(data[pos + 20:pos + 24], "little")
        total = size + (32 if flags & 0x80000000 else 0)
        if rest == total or rest == total + 128:  # ID3v1 may follow APE
            return rest
        return None
    if data[pos:pos + 3] == b"ID3":
        try:
            n = _id3v2_size(data[pos:])
        except AudioDecodeError:
            return None
        if rest == n or rest == n + 128:
            return rest
    return None


def parse_mp3_frames(data: bytes) -> dict:
    """Walk every Layer III frame; returns integer container facts:
    ``{channels, sample_rate, n_frames, frame_bytes, duration_micros,
    bitrate_kbps_sum}`` (``bitrate_kbps_sum`` over frames — VBR-aware;
    mean = sum / n_frames). Fail-loud on bad sync, reserved header
    values, version/layer/rate changes mid-stream, or a truncated
    final frame."""
    pos = _id3v2_size(data)
    n_frames = 0
    frame_bytes = 0
    kbps_sum = 0
    first = None  # (version_bits, rate, channels, samples_per_frame)
    while pos < len(data):
        if n_frames and _mp3_trailer_size(data, pos) is not None:
            break  # recognized metadata trailer after the last frame
        if pos + 4 > len(data):
            raise AudioDecodeError(
                f"mp3: trailing {len(data) - pos} bytes are not a frame")
        hdr = struct.unpack(">I", data[pos:pos + 4])[0]
        if (hdr >> 21) & 0x7FF != 0x7FF:
            raise AudioDecodeError(f"mp3: lost frame sync at byte {pos}")
        ver = (hdr >> 19) & 0x3        # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (hdr >> 17) & 0x3      # 1 = Layer III
        if ver == 1 or layer != 1:
            raise AudioDecodeError(
                f"mp3: reserved version/unsupported layer at byte {pos} "
                f"(version bits {ver}, layer bits {layer}; only Layer III)")
        br_idx = (hdr >> 12) & 0xF
        sr_idx = (hdr >> 10) & 0x3
        padding = (hdr >> 9) & 0x1
        mode = (hdr >> 6) & 0x3        # 3 = mono
        if br_idx in (0, 15) or sr_idx == 3:
            raise AudioDecodeError(
                f"mp3: free/forbidden bitrate or reserved sample rate at "
                f"byte {pos} (bitrate index {br_idx}, rate index {sr_idx})")
        kbps = (_BITRATE_V1_L3 if ver == 3 else _BITRATE_V2_L3)[br_idx]
        rate = _RATES[ver][sr_idx]
        samples = 1152 if ver == 3 else 576
        channels = 1 if mode == 3 else 2
        if first is None:
            first = (ver, rate, channels, samples)
        elif (ver, rate, channels, samples) != first:
            raise AudioDecodeError(
                f"mp3: stream facts changed mid-file at byte {pos} "
                f"({first} -> {(ver, rate, channels, samples)}) — VBR "
                "changes only the bitrate index")
        # Layer III frame length in bytes: samples/8 * bitrate / rate
        # (integer-truncated) + padding
        length = samples // 8 * kbps * 1000 // rate + padding
        if pos + length > len(data):
            raise AudioDecodeError(
                f"mp3: frame at byte {pos} claims {length} bytes, only "
                f"{len(data) - pos} remain")
        n_frames += 1
        frame_bytes += length
        kbps_sum += kbps
        pos += length
    if first is None:
        raise AudioDecodeError("mp3: no frames")
    _, rate, channels, samples = first
    return {
        "channels": channels,
        "sample_rate": rate,
        "n_frames": n_frames,
        "frame_bytes": frame_bytes,
        "duration_micros": n_frames * samples * 1_000_000 // rate,
        "bitrate_kbps_sum": kbps_sum,
    }


def synth_mp3_bytes(n_frames: int, version: int, bitrate_index: int,
                    rate_index: int, mono: bool,
                    pad_law=lambda i: i % 2,
                    byte_law=lambda i, j: (i * 7 + j * 3) % 256,
                    id3_junk: int = 0) -> bytes:
    """Deterministic Layer III frame stream: valid headers (version 3
    or 2 bits), per-frame padding from ``pad_law``, payload bytes from
    ``byte_law`` (the parser validates framing, not audio — the bytes
    are deterministic filler, the same honesty boundary as the
    metadata-only claim). ``id3_junk`` prepends an ID3v2 tag of that
    many content bytes (syncsafe-encoded) to prove the skip."""
    if version not in (3, 2):
        raise ValueError("version bits must be 3 (MPEG-1) or 2 (MPEG-2)")
    out = bytearray()
    if id3_junk:
        out += b"ID3\x04\x00\x00"
        out += bytes(((id3_junk >> s) & 0x7F) for s in (21, 14, 7, 0))
        out += bytes((j * 11) % 256 for j in range(id3_junk))
    kbps = (_BITRATE_V1_L3 if version == 3 else _BITRATE_V2_L3)[bitrate_index]
    rate = _RATES[version][rate_index]
    samples = 1152 if version == 3 else 576
    for i in range(n_frames):
        padding = int(pad_law(i)) & 1
        hdr = (0x7FF << 21) | (version << 19) | (0x1 << 17) | (0x1 << 16)
        hdr |= (bitrate_index << 12) | (rate_index << 10) | (padding << 9)
        hdr |= ((0x3 if mono else 0x0) << 6)
        length = samples // 8 * kbps * 1000 // rate + padding
        frame = bytearray(struct.pack(">I", hdr))
        frame += bytes(byte_law(i, j) for j in range(length - 4))
        out += frame
    return bytes(out)


# --- OGG / Vorbis ---------------------------------------------------------

_OGG_CRC_TABLE = []
for _b in range(256):
    _r = _b << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if _r & 0x80000000 \
            else (_r << 1) & 0xFFFFFFFF
    _OGG_CRC_TABLE.append(_r)


def _ogg_crc(data: bytes) -> int:
    """OGG's page CRC-32: polynomial 0x04c11db7, UNreflected, zero
    initial value, zero final xor — deliberately not zlib's crc32."""
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[
            ((crc >> 24) & 0xFF) ^ byte]
    return crc


def _build_ogg_page(header_type: int, granule: int, serial: int,
                    seq: int, segments: list[bytes]) -> bytes:
    lacing = bytearray()
    body = bytearray()
    for seg in segments:
        n = len(seg)
        while n >= 255:
            lacing.append(255)
            n -= 255
        lacing.append(n)
        body += seg
    page = bytearray(b"OggS")
    page += struct.pack("<BBqIII", 0, header_type, granule, serial, seq, 0)
    page.append(len(lacing))
    page += lacing
    page += body
    crc = _ogg_crc(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def _page_packets(data: bytes, pos: int,
                  lace_end: int) -> tuple[list[bytes], bytes]:
    """Split one page's body into PACKETS via its lacing values (a
    packet ends on a lace < 255). Returns (complete packets, tail):
    ``tail`` is the trailing fragment of a packet that continues onto
    the next page (empty when the page ends on a packet boundary)."""
    laces = data[pos + 27:lace_end]
    packets: list[bytes] = []
    cur = bytearray()
    off = lace_end
    for lace in laces:
        cur += data[off:off + lace]
        off += lace
        if lace < 255:
            packets.append(bytes(cur))
            cur = bytearray()
    return packets, bytes(cur)


def _parse_vorbis_comments(pkt: bytes) -> tuple[str, dict[str, list[str]]]:
    """Decode a Vorbis comment header packet (type 3): vendor string,
    then length-prefixed ``KEY=value`` comments, then the mandatory
    framing bit. Keys are case-insensitive per the spec — returned
    upper-cased, values grouped in order (a key may legally repeat)."""

    def take(off: int, n: int, what: str) -> tuple[bytes, int]:
        if off + n > len(pkt):
            raise AudioDecodeError(f"ogg: truncated vorbis comment {what}")
        return pkt[off:off + n], off + n

    raw, off = take(7, 4, "vendor length")
    vlen = int.from_bytes(raw, "little")
    raw, off = take(off, vlen, "vendor string")
    vendor = raw.decode("utf-8")
    raw, off = take(off, 4, "comment count")
    n = int.from_bytes(raw, "little")
    comments: dict[str, list[str]] = {}
    for _ in range(n):
        raw, off = take(off, 4, "comment length")
        clen = int.from_bytes(raw, "little")
        raw, off = take(off, clen, "comment string")
        text = raw.decode("utf-8")
        key, sep, val = text.partition("=")
        if not sep or not key:
            raise AudioDecodeError(
                f"ogg: vorbis comment without KEY=value shape: {text!r}")
        comments.setdefault(key.upper(), []).append(val)
    raw, off = take(off, 1, "framing bit")
    if not raw[0] & 1:
        raise AudioDecodeError("ogg: vorbis comment framing bit unset")
    return vendor, comments


def parse_ogg_vorbis(data: bytes) -> dict:
    """Walk every OGG page (magic, version 0, CRC verified against the
    spec polynomial, sequence numbers monotone), read the Vorbis I
    identification header from the first packet, and return container
    facts: ``{channels, sample_rate, bitrate_nominal, n_pages,
    last_granule, duration_micros, payload_bytes, vendor, comments}``
    — ``vendor``/``comments`` from the Vorbis comment header when the
    stream carries one (type-3 packet on the first post-identification
    page; header pages never count into ``payload_bytes``), else
    ``None``/``{}``.
    ``duration_micros`` derives from the FINAL page's granule position
    (absolute sample count — the Vorbis granule rule)."""
    pos = 0
    n_pages = 0
    payload_bytes = 0
    last_granule = 0
    ident: dict | None = None
    vendor: str | None = None
    comments: dict[str, list[str]] = {}
    comment_pending = False
    header_cont = False
    span_frag = bytearray()  # accumulated fragments of a spanning header
    expect_seq: int | None = None
    serial0: int | None = None
    while pos < len(data):
        if data[pos:pos + 4] != b"OggS":
            raise AudioDecodeError(f"ogg: lost page capture at byte {pos}")
        if pos + 27 > len(data):
            raise AudioDecodeError("ogg: truncated page header")
        version, htype, granule, serial, seq, crc = struct.unpack(
            "<BBqIII", data[pos + 4:pos + 26])
        if version != 0:
            raise AudioDecodeError(f"ogg: unknown page version {version}")
        n_segs = data[pos + 26]
        lace_end = pos + 27 + n_segs
        if lace_end > len(data):
            raise AudioDecodeError("ogg: truncated lacing table")
        body_len = sum(data[pos + 27:lace_end])
        page_end = lace_end + body_len
        if page_end > len(data):
            raise AudioDecodeError("ogg: truncated page body")
        zeroed = bytearray(data[pos:page_end])
        zeroed[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(zeroed)) != crc:
            raise AudioDecodeError(f"ogg: CRC mismatch on page {seq}")
        if serial0 is None:
            serial0 = serial
        elif serial != serial0:
            raise AudioDecodeError(
                "ogg: multiplexed streams (second serial number) are not "
                "supported — single Vorbis stream only")
        if expect_seq is not None and seq != expect_seq:
            raise AudioDecodeError(
                f"ogg: page sequence jump ({expect_seq} -> {seq})")
        expect_seq = seq + 1
        body = data[lace_end:page_end]
        if ident is None:
            # Vorbis I identification header: type 1 + "vorbis" +
            # version(0) + channels + rate + bitrate max/nominal/min
            if len(body) < 30 or body[0] != 1 or body[1:7] != b"vorbis":
                raise AudioDecodeError(
                    "ogg: first packet is not a Vorbis identification "
                    "header")
            v, ch, rate, br_max, br_nom, br_min = struct.unpack(
                "<IBIiii", body[7:28])
            if v != 0:
                raise AudioDecodeError(f"ogg: vorbis version {v} != 0")
            if ch == 0 or rate == 0:
                raise AudioDecodeError("ogg: zero channels/sample rate")
            ident = {"channels": ch, "sample_rate": rate,
                     "bitrate_nominal": br_nom}
            comment_pending = True
        elif comment_pending:
            # header phase: the comment (type 3) and setup (type 5)
            # headers — real encoders lace both onto one page, with the
            # setup header often CONTINUING onto further pages
            # (continuation pages set htype bit 0). Header bytes never
            # count as payload. Vorbis I requires the first AUDIO
            # packet to begin on a fresh page, so the phase ends at the
            # first page whose first fresh packet is not a header.
            packets, tail = _page_packets(data, pos, lace_end)
            continued = bool(tail)
            work = list(packets)
            tail_absorbed = False  # tail already folded into span_frag
            if header_cont:
                if not htype & 0x01:
                    raise AudioDecodeError(
                        "ogg: header packet left unfinished — the next "
                        "page is not flagged as a continuation")
                if work:
                    # first completed packet finishes the spanning
                    # header — REASSEMBLE it: a comment header just over
                    # one page would otherwise silently lose its
                    # vendor/comments (the fragments are the data)
                    whole = bytes(span_frag) + work[0]
                    if whole[:1] == b"\x03" and whole[1:7] == b"vorbis":
                        vendor, comments = _parse_vorbis_comments(whole)
                    span_frag = bytearray()
                    work = work[1:]
                    header_cont = False
                else:
                    # a whole middle page of the same spanning packet
                    span_frag += tail
                    header_cont = continued
                    tail_absorbed = True
            def _is_hdr(b: bytes) -> bool:
                return b[:1] in (b"\x03", b"\x05") and b[1:7] == b"vorbis"

            if work and not _is_hdr(work[0]):
                # fresh non-header packet leads the page: audio begins
                comment_pending = False
                payload_bytes += body_len
            elif not work and not header_cont and not htype & 0x01:
                # one unfinished packet spans the whole page: classify
                # by its leading bytes
                if _is_hdr(data[lace_end:lace_end + 7]):
                    header_cont = True
                    span_frag = bytearray(tail)
                else:
                    comment_pending = False
                    payload_bytes += body_len
            else:
                for pkt in work:
                    if not _is_hdr(pkt):
                        raise AudioDecodeError(
                            "ogg: audio packet shares a page with "
                            "vorbis headers — the first audio packet "
                            "must begin on a fresh page (Vorbis I)")
                    if pkt[:1] == b"\x03":
                        vendor, comments = _parse_vorbis_comments(pkt)
                if continued and not tail_absorbed:
                    # the page's trailing fragment starts ANOTHER
                    # spanning packet — including the case where this
                    # page only COMPLETED a previous span (work is
                    # empty then, but the tail still must carry over:
                    # dropping it would end the header phase mid-setup
                    # and count header bytes as payload). A tail the
                    # continuation branch already absorbed (a whole
                    # middle page of one span) must NOT be re-seeded.
                    header_cont = True
                    span_frag = bytearray(tail)
        else:
            payload_bytes += body_len
        if granule >= 0:
            last_granule = granule
        n_pages += 1
        pos = page_end
    if ident is None:
        raise AudioDecodeError("ogg: no pages")
    return {
        **ident,
        "n_pages": n_pages,
        "last_granule": last_granule,
        "duration_micros": last_granule * 1_000_000 // ident["sample_rate"],
        "payload_bytes": payload_bytes,
        "vendor": vendor,
        "comments": comments,
    }


def synth_ogg_vorbis_bytes(channels: int, sample_rate: int,
                           bitrate_nominal: int, page_granules: list[int],
                           byte_law=lambda p, j: (p * 13 + j * 5) % 256,
                           page_payload_len=lambda p: 64 + 16 * p,
                           comments: list[tuple[str, str]] | None = None,
                           vendor: str = "sql-etl-bridge") -> bytes:
    """Deterministic single-stream OGG: an identification-header page
    (header_type 2 = beginning-of-stream, granule 0) followed by one
    audio page per ``page_granules`` entry (last page flagged 4 =
    end-of-stream), payload bytes from ``byte_law``."""
    ident = bytearray([1]) + b"vorbis"
    ident += struct.pack("<IBIiii", 0, channels, sample_rate,
                         0, bitrate_nominal, 0)
    ident += bytes([1 << 6, 1])  # blocksizes + framing bit
    serial = 0x5E55_1D00 | (channels & 0xFF)
    pages = [_build_ogg_page(2, 0, serial, 0, [bytes(ident)])]
    if comments is not None:
        pkt = bytearray([3]) + b"vorbis"
        vb = vendor.encode("utf-8")
        pkt += len(vb).to_bytes(4, "little") + vb
        pkt += len(comments).to_bytes(4, "little")
        for k, v in comments:
            cb = f"{k}={v}".encode("utf-8")
            pkt += len(cb).to_bytes(4, "little") + cb
        pkt += b"\x01"  # framing bit
        pages.append(_build_ogg_page(0, 0, serial, 1, [bytes(pkt)]))
    base = len(pages) - 1
    for p, granule in enumerate(page_granules):
        htype = 4 if p == len(page_granules) - 1 else 0
        payload = bytes(byte_law(p, j) for j in range(page_payload_len(p)))
        pages.append(_build_ogg_page(htype, granule, serial, base + p + 1,
                                     [payload]))
    return b"".join(pages)
