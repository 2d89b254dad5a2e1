"""Delta Lake interop bridge (no jars required for reads).

The reference's production tables are Delta (scd2-job.ipynb:153,
163-171); this engine's :class:`~.versioned.VersionedTable` is a
bespoke parquet+manifest format with the same semantics. This module
is the ecosystem bridge between the two:

- :func:`read_delta` — read a Delta table's snapshot (latest or
  time-travel) WITHOUT delta-spark jars, by replaying the public
  Delta transaction-log protocol (``_delta_log/%020d.json`` actions,
  plus parquet checkpoints): ``add``/``remove`` reconstruction keyed
  on file path, latest ``metaData`` wins, schema from
  ``metaData.schemaString`` (a Spark StructType JSON). Partitioned
  tables are handled by injecting ``partitionValues`` as typed
  literal columns per partition group (Delta physical files do not
  contain partition columns).
- :func:`export_snapshot` — publish a VersionedTable snapshot as
  plain parquet + a ``_schema.json`` sidecar, the handoff format any
  Delta deployment can ingest (``spark.read.parquet`` or delta-spark's
  ``CONVERT TO DELTA``).
- :func:`convert_delta_to_versioned` — import a Delta snapshot into a
  VersionedTable (read bridge + one committed write).
- :func:`delta_available` — True when delta-spark jars/python are
  importable; stage code uses it to route a ``format: delta`` table to
  the real library where it exists (the sandbox has none, so the
  bridge is the tested path).

Reader features: COLUMN MAPPING is supported in both modes (name mode
via physical column names from the schemaString field metadata mapped
back to logical; id mode via parquet field-id resolution — the
``delta.columnMapping.id`` rides the read schema as
``parquet.field.id``) and DELETION VECTORS are supported BOTH WAYS:
reads decode the public roaring-bitmap format driver-side — bounded
by the descriptor's sizeInBytes — and apply it distributed as a
``_metadata.row_index`` anti-join; writes (:func:`delete_delta`)
serialize the same format, so a row-level DELETE on a DV-enabled
table touches no data-file bytes. Mapped and DV-bearing tables take
every write shape (append/overwrite/merge/delete/compact).
All three public checkpoint layouts replay (classic single-file,
classic multipart, V2 manifest + ``_sidecars``), and timestamp time
travel honors ``commitInfo.inCommitTimestamp`` when the table writes
it (the ICT writer feature), falling back to commit-file mtimes
otherwise — the spec's rule. Honest limits (fail-loud,
never-wrong-answer): reader features beyond
{columnMapping, deletionVectors, v2Checkpoint} raise instead of
returning rows that ignore them. Log replay happens driver-side over
metadata only and starts no Spark job: commit JSON and checkpoint
parquet (read and written with pyarrow) go through the file layer
(``tables/files.py``), so replay also runs without a JVM
(``spark=None``, the lane of the stream source's planner). At very
large file counts (millions of adds) a production reader would replay
the checkpoint distributed.
"""

from __future__ import annotations

import functools as _functools
import json
import logging
import posixpath
import re
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_based_etl_spark.tables import files
from sql_based_etl_spark.tables.files import DataFile, write_files
# the shared conflict family stays importable from this module
from sql_based_etl_spark.tables.versioned import (  # noqa: F401
    CommitRaceLostError,
    ConcurrentAppendError,
    ConcurrentDeleteDeleteError,
    ConcurrentDeleteReadError,
    ConcurrentModificationError,
    ConcurrentTransactionError,
    MetadataChangedError,
    ProtocolChangedError,
    VersionedTable,
    VersionedTableError,
    Winner,
    _norm_file_uri,
    classify_winner,
    cluster_rows,
    commit_with_retry,
    map_back,
    matched_files,
    publish_text_exclusive,
)

_log = logging.getLogger("sql_based_etl_spark.delta_interop")


def delta_available() -> bool:
    """True when the delta-spark package (and thus its jars) is importable."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    return True


# --- log access (tables/files.py: os on local paths, Hadoop elsewhere) ---


def _list_log(spark: SparkSession | None, log_dir: str) -> dict[int, str]:
    """Map commit version -> JSON log file path."""
    out: dict[int, str] = {}
    for name, _ in _list_log_entries(spark, log_dir):
        if name.endswith(".json") and name[:-5].isdigit():
            out[int(name[:-5])] = f"{log_dir}/{name}"
    return out


def _list_log_entries(spark: SparkSession | None, log_dir: str) -> list[tuple[str, int]]:
    """``(name, modification time ms)`` for every file directly under
    ``_delta_log`` — one listing serving both the metadata-cleanup age
    checks and the checkpoint scan (sidecars live under ``_sidecars/``
    and are resolved through manifest references, never by listing)."""
    entries = files.list_dir(spark, log_dir)
    if entries is None:
        raise VersionedTableError(f"not a Delta table: no _delta_log at {log_dir}")
    return [(f.name, f.mtime_ms) for f in entries if not f.is_dir]


# V2 checkpoints: target file actions per content-addressed sidecar
# group (the unit of incremental-checkpoint reuse). Sized so one group
# is a comfortable single parquet write, and a 100k-file table splits
# into ~32 groups — a micro-batch append rewrites one group, not the
# whole live set.
_SIDECAR_GROUP_SIZE = 4096

_CKPT_CLASSIC_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_CKPT_MULTIPART_RE = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
_CKPT_V2_RE = re.compile(r"^(\d{20})\.checkpoint\.([^.]+)\.(?:parquet|json)$")


def _complete_checkpoints(names: list[str]) -> dict[int, int | None]:
    """Version → ``parts`` for every COMPLETE checkpoint among the log
    file ``names``: classic single-file (parts None), V2 manifest (any
    one manifest is complete by the spec; parts None), and classic
    multipart with ALL parts present (parts = total). Incomplete
    multipart groups are excluded — replaying a subset of parts as full
    state would silently drop the other parts' adds."""
    out: dict[int, int | None] = {}
    multi: dict[tuple[int, int], set[int]] = {}
    for name in names:
        if _CKPT_CLASSIC_RE.match(name):
            out[int(name[:20])] = None
            continue
        m = _CKPT_MULTIPART_RE.match(name)
        if m:
            multi.setdefault((int(m.group(1)), int(m.group(3))), set()).add(
                int(m.group(2)))
            continue
        m = _CKPT_V2_RE.match(name)
        if m and not m.group(2).isdigit():
            out.setdefault(int(m.group(1)), None)
    for (v, total), parts in multi.items():
        if len(parts) == total:
            out.setdefault(v, total)
    return out


# reader features the bridge serves correctly (see _check_protocol);
# refusals for known-but-unsupported features are NAMED so the error
# says what blocks, not just "unknown feature"
_BRIDGE_READER_FEATURES = {
    "columnMapping",      # both modes (_check_metadata)
    "deletionVectors",    # public roaring decode + row_index anti-join
    "v2Checkpoint",       # all three public checkpoint layouts
    "timestampNtz",       # type-level: schemaString timestamp_ntz maps
                          # to Spark's TIMESTAMP_NTZ; parquet
                          # isAdjustedToUTC=false reads natively
    "typeWidening",       # files written under a NARROWER type read
                          # under the widened schema — Spark's parquet
                          # reader upcasts (int→long, int/float→double,
                          # int→decimal) when handed the wide schema,
                          # which _snapshot_df always does; stats
                          # pruning coerces through the same wide type
    "typeWidening-preview",
    "variantType",        # type-level: Spark 4's native VariantType —
                          # schemaString "variant" parses through
                          # StructType.fromJson and the UNSHREDDED
                          # parquet encoding (metadata/value binary
                          # group, the delta-spark default) reads
                          # natively under the declared schema.
                          # Shredded layouts are a SEPARATE feature
                          # (variantShredding) and refuse by name.
    "variantType-preview",
    "vacuumProtocolCheck",  # the feature's whole requirement is that
                            # VACUUM perform a full protocol check
                            # instead of a hardcoded version gate —
                            # vacuum_delta replays the log
                            # (_replay_state → _check_protocol), so
                            # the obligation holds by construction;
                            # plain reads are unaffected by design
}
_NAMED_READER_REFUSALS = {
    "variantShredding": (
        "shredded variant layouts (variantShredding): the bridge reads "
        "only the unshredded variant encoding"),
    "variantShredding-preview": (
        "shredded variant layouts (variantShredding-preview): the "
        "bridge reads only the unshredded variant encoding"),
}


def _check_protocol(action: dict) -> None:
    p = action["protocol"]
    reader_v = p.get("minReaderVersion", 1)
    features = set(p.get("readerFeatures") or [])
    # reader v2's only data-interpretation change is column mapping,
    # which the bridge honors in BOTH modes (_check_metadata); v3
    # tables are readable iff every listed reader feature is one the
    # bridge implements (_BRIDGE_READER_FEATURES). Known-unsupported
    # features refuse BY NAME; anything else stays generically
    # fail-loud.
    unsupported = features - _BRIDGE_READER_FEATURES
    for f in sorted(unsupported):
        if f in _NAMED_READER_REFUSALS:
            raise VersionedTableError(
                f"read: {_NAMED_READER_REFUSALS[f]}; install delta-spark "
                "to read this table"
            )
    if reader_v > 3 or (reader_v == 3 and unsupported):
        raise VersionedTableError(
            "Delta reader features beyond what the no-jar bridge "
            f"implements (got {p}); install delta-spark to read this "
            "table (unknown reader features change data interpretation "
            "and must not be silently ignored)"
        )


def _schema_contains_type(node, names: set[str]) -> bool:
    """True when any (nested) type in a schemaString JSON node is one
    of ``names`` (e.g. {"variant"}, {"timestamp_ntz"})."""
    if isinstance(node, dict):
        t = node.get("type")
        if t == "struct":
            return any(_schema_contains_type(f.get("type"), names)
                       for f in node.get("fields", []))
        if t == "array":
            return _schema_contains_type(node.get("elementType"), names)
        if t == "map":
            return (_schema_contains_type(node.get("keyType"), names)
                    or _schema_contains_type(node.get("valueType"), names))
        return t in names
    return node in names


def _check_evolved_schema_claims(schema_string: str,
                                 proto: dict | None, what: str) -> None:
    """Gate a NEW schemaString about to be committed to an EXISTING
    table (mergeSchema widening / overwrite schema change): types that
    require a protocol feature pair must not land on a table whose
    protocol does not claim it — the emitted log would violate the
    spec and downstream engines keying on protocol features would
    misread or refuse the table. CREATE claims timestampNtz itself;
    evolution on an unclaiming table refuses BY NAME (upgrading a live
    protocol is an ALTER the bridge deliberately does not model)."""
    node = json.loads(schema_string)
    if _schema_contains_type(node, {"variant"}):
        p = proto or {}
        wf = set(p.get("writerFeatures") or [])
        rf = set(p.get("readerFeatures") or [])
        claimed = bool({"variantType", "variantType-preview"} & wf
                       and {"variantType", "variantType-preview"} & rf)
        if not claimed:
            raise VersionedTableError(
                f"write: {what} introduces a variant column, but the "
                "table's protocol does not claim the variantType "
                "feature pair (mandatory per the spec — readers "
                "unaware of the type would serve its binary encoding "
                "as opaque bytes). Recreate the table with the column "
                "(CREATE claims the pair) or upgrade the protocol "
                "with delta-spark"
            )
    if _schema_contains_type(node, {"timestamp_ntz"}):
        p = proto or {}
        wf = set(p.get("writerFeatures") or [])
        rf = set(p.get("readerFeatures") or [])
        claimed = "timestampNtz" in wf and (
            int(p.get("minReaderVersion", 1)) < 3
            or "timestampNtz" in rf)
        if not claimed:
            raise VersionedTableError(
                f"write: {what} introduces a timestamp_ntz column, but "
                "the table's protocol does not claim the timestampNtz "
                "feature pair (mandatory per the spec — readers unaware "
                "of the type would misread isAdjustedToUTC=false values "
                "as instants). Recreate the table with the column "
                "(CREATE claims the pair) or upgrade the protocol with "
                "delta-spark"
            )


def _check_metadata(meta: dict) -> None:
    # variant columns need no schema-level gate: Spark's parquet reader
    # serves the unshredded encoding natively under the declared schema
    # (shredded layouts ride a separate feature, variantShredding,
    # refused by name in _check_protocol), so even a foreign log that
    # carries the type without listing the feature reads correctly
    mode = (meta.get("configuration") or {}).get("delta.columnMapping.mode", "none")
    if mode not in ("none", "name", "id"):
        # both mapping modes are readable from public metadata alone:
        # name mode via the physicalName schemaString metadata, id mode
        # via parquet field-id resolution (the columnMapping.id rides
        # the read schema as parquet.field.id — _snapshot_df)
        raise VersionedTableError(
            f"Delta column mapping mode {mode!r} is not supported by the "
            "no-jar bridge; install delta-spark"
        )


def _type_shape(node):
    """Structural type identity, ignoring field metadata (identity high
    watermarks, column-mapping ids legitimately churn per commit)."""
    if isinstance(node, dict) and node.get("type") == "struct":
        return ("struct", tuple(
            (f["name"], _type_shape(f["type"]))
            for f in node.get("fields", [])))
    if isinstance(node, dict) and node.get("type") == "array":
        return ("array", _type_shape(node["elementType"]))
    if isinstance(node, dict) and node.get("type") == "map":
        return ("map", _type_shape(node["keyType"]),
                _type_shape(node["valueType"]))
    return node


def _schema_readable_under(old_string: str | None,
                           new_string: str) -> bool:
    """True when files written under ``old_string`` can be served under
    ``new_string``: every old column exists in the new schema with an
    IDENTICAL type shape, and every new-only column is nullable (the
    read null-fills it) — mergeSchema's additive evolution. Anything
    else (drop, rename, retype, non-nullable add) is a real schema
    change an incremental reader must refuse."""
    if old_string is None:
        return True
    old = {f["name"]: _type_shape(f["type"])
           for f in json.loads(old_string).get("fields", [])}
    newf = json.loads(new_string).get("fields", [])
    new = {f["name"]: _type_shape(f["type"]) for f in newf}
    nullable = {f["name"]: bool(f.get("nullable", True)) for f in newf}
    for name, shape in old.items():
        if new.get(name) != shape:
            return False
    for name in new:
        if name not in old and not nullable[name]:
            return False
    return True


def _physical_schema_json(node, with_field_ids: bool = False):
    """Recursively rename every struct field in a schemaString JSON node
    to its ``delta.columnMapping.physicalName`` — the on-disk parquet
    column names of a column-mapped table (the logical names live only
    in the log). With ``with_field_ids`` (id mode) each field also
    carries its ``delta.columnMapping.id`` as ``parquet.field.id``
    metadata, which Spark's parquet reader resolves against the files'
    field ids when ``spark.sql.parquet.fieldId.read.enabled`` is on —
    id mode's contract is that the ID, not the name, identifies the
    column. Fail-loud when a field lacks its mapping."""
    if isinstance(node, dict) and node.get("type") == "struct":
        fields = []
        for f in node["fields"]:
            md = f.get("metadata") or {}
            phys = md.get("delta.columnMapping.physicalName")
            if not phys:
                raise VersionedTableError(
                    "Delta column mapping is on but field "
                    f"{f.get('name')!r} has no "
                    "delta.columnMapping.physicalName metadata"
                )
            new_md = {}
            if with_field_ids:
                fid = md.get("delta.columnMapping.id")
                if fid is not None:
                    new_md = {"parquet.field.id": int(fid)}
                elif not (f.get("name") in ("_change_type",
                                            "_commit_version",
                                            "_commit_timestamp")
                          and phys == f.get("name")):
                    # ONLY the CDF virtual columns (_change_type, and
                    # the injected _commit_version/_commit_timestamp)
                    # are stored VERBATIM in cdc files with no field
                    # id — they resolve by name even in id mode. Any
                    # OTHER field without an id — including a real
                    # user column that happens to start with '_' — is
                    # corrupt mapping metadata and must fail loudly
                    # rather than silently resolve by name (which
                    # would read nulls from uuid-named parquet).
                    raise VersionedTableError(
                        "Delta column mapping mode 'id' but field "
                        f"{f.get('name')!r} has no delta.columnMapping.id "
                        "metadata"
                    )
            fields.append({**f, "name": phys,
                           "type": _physical_schema_json(
                               f["type"], with_field_ids),
                           "metadata": new_md})
        return {"type": "struct", "fields": fields}
    if isinstance(node, dict) and node.get("type") == "array":
        return {**node, "elementType": _physical_schema_json(
            node["elementType"], with_field_ids)}
    if isinstance(node, dict) and node.get("type") == "map":
        return {**node,
                "keyType": _physical_schema_json(node["keyType"], with_field_ids),
                "valueType": _physical_schema_json(
                    node["valueType"], with_field_ids)}
    return node


# --- deletion vectors (reads) -------------------------------------------
#
# The public Delta DV format (PROTOCOL.md "Deletion Vectors"): an `add`
# may carry a `deletionVector` descriptor marking row indexes of the
# parquet file as deleted. The payload is a RoaringBitmapArray in
# "portable" serialization — 4-byte LE magic 1681511377, 8-byte LE
# bitmap count, then per bitmap a 4-byte LE key (the high 32 bits of
# the row index) + a standard 32-bit RoaringBitmap (little-endian
# portable spec: cookie 12346/12347, array/bitmap/run containers).
# Storage: inline in the log (storageType "i", Z85-encoded), or a
# `deletion_vector_<uuid>.bin` file (storageType "u": Z85-encoded UUID
# with optional random prefix; "p": absolute path) framed as
# [4-byte BE dataSize][payload][4-byte BE CRC-32]. All decoded
# driver-side: descriptors are log metadata and a DV is small by
# design (sizeInBytes rides the descriptor); the row-level filter
# itself runs distributed as an anti-join on `_metadata.row_index`.

_Z85 = ("0123456789abcdefghijklmnopqrstuvwxyz"
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")
_Z85_IDX = {c: i for i, c in enumerate(_Z85)}


def _z85_decode(s: str) -> bytes:
    """ZeroMQ Z85 decode (Delta's encoding for inline DVs and DV-file
    UUIDs). Python 3.11 has no ``base64.z85decode``; 5 chars → 4 bytes,
    big-endian base-85."""
    if len(s) % 5:
        raise VersionedTableError(
            f"deletion vector: Z85 payload length {len(s)} is not a "
            "multiple of 5"
        )
    out = bytearray()
    for i in range(0, len(s), 5):
        v = 0
        for c in s[i:i + 5]:
            if c not in _Z85_IDX:
                raise VersionedTableError(
                    f"deletion vector: invalid Z85 character {c!r}"
                )
            v = v * 85 + _Z85_IDX[c]
        if v > 0xFFFFFFFF:  # 85^5-1 > 2^32-1: group overflows 4 bytes
            raise VersionedTableError(
                f"deletion vector: Z85 group {s[i:i + 5]!r} decodes above "
                "2^32-1 — corrupted payload"
            )
        out += v.to_bytes(4, "big")
    return bytes(out)


def _z85_encode(data: bytes) -> str:
    """ZeroMQ Z85 encode — the inverse of :func:`_z85_decode`, used to
    encode a DV file's UUID into the descriptor's ``pathOrInlineDv``
    (16 bytes → 20 chars). Input must be a multiple of 4 bytes."""
    if len(data) % 4:
        raise VersionedTableError(
            f"Z85 encode needs a multiple of 4 bytes, got {len(data)}"
        )
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85[v % 85])
            v //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def _roaring32(data: bytes, pos: int):
    """Decode one 32-bit RoaringBitmap (portable little-endian spec) at
    ``pos``; returns (sorted uint32 values as int64 ndarray, new pos)."""
    import numpy as np

    cookie = int.from_bytes(data[pos:pos + 4], "little")
    if (cookie & 0xFFFF) == 12347:  # SERIAL_COOKIE: run containers possible
        size = (cookie >> 16) + 1
        nrb = (size + 7) // 8
        run_bits = data[pos + 4:pos + 4 + nrb]
        pos += 4 + nrb
        has_offsets = size >= 4  # NO_OFFSET_THRESHOLD
    elif cookie == 12346:  # SERIAL_COOKIE_NO_RUNCONTAINER
        size = int.from_bytes(data[pos + 4:pos + 8], "little")
        run_bits = b""
        pos += 8
        has_offsets = True
    else:
        raise VersionedTableError(
            f"deletion vector: unrecognized RoaringBitmap cookie {cookie}"
        )
    keys, cards = [], []
    for _ in range(size):
        keys.append(int.from_bytes(data[pos:pos + 2], "little"))
        cards.append(int.from_bytes(data[pos + 2:pos + 4], "little") + 1)
        pos += 4
    if has_offsets:
        pos += 4 * size  # read sequentially; offsets are redundant
    chunks = []
    for i in range(size):
        base = keys[i] << 16
        if run_bits and (run_bits[i // 8] >> (i % 8)) & 1:
            n_runs = int.from_bytes(data[pos:pos + 2], "little")
            pos += 2
            runs = np.frombuffer(data, dtype="<u2", count=n_runs * 2,
                                 offset=pos).reshape(-1, 2)
            pos += 4 * n_runs
            vals = (np.concatenate([
                np.arange(int(s), int(s) + int(ln) + 1, dtype=np.int64)
                for s, ln in runs
            ]) if n_runs else np.empty(0, np.int64))
        elif cards[i] <= 4096:  # array container
            vals = np.frombuffer(data, dtype="<u2", count=cards[i],
                                 offset=pos).astype(np.int64)
            pos += 2 * cards[i]
        else:  # bitmap container: 1024 × uint64 LE = 8192 bytes
            bits = np.frombuffer(data, dtype=np.uint8, count=8192, offset=pos)
            pos += 8192
            vals = np.nonzero(
                np.unpackbits(bits, bitorder="little"))[0].astype(np.int64)
        chunks.append(vals + base)
    out = (np.concatenate(chunks) if chunks else np.empty(0, np.int64))
    return out, pos


def _roaring_array_indexes(data: bytes):
    """Decode a Delta RoaringBitmapArray payload to a sorted int64
    ndarray of deleted row indexes."""
    import numpy as np

    if len(data) < 12:
        raise VersionedTableError("deletion vector: payload too short")
    magic = int.from_bytes(data[0:4], "little")
    if magic != 1681511377:
        raise VersionedTableError(
            f"deletion vector: bad RoaringBitmapArray magic {magic}"
        )
    n = int.from_bytes(data[4:12], "little")
    pos, parts = 12, []
    for _ in range(n):
        key = int.from_bytes(data[pos:pos + 4], "little")
        pos += 4
        vals, pos = _roaring32(data, pos)
        parts.append(vals + (key << 32))
    if pos != len(data):
        raise VersionedTableError(
            f"deletion vector: {len(data) - pos} trailing bytes after "
            "RoaringBitmapArray decode"
        )
    return np.concatenate(parts) if parts else np.empty(0, np.int64)


def _roaring32_serialize(vals) -> bytes:
    """Serialize sorted distinct uint32 values (int64 ndarray) as one
    32-bit RoaringBitmap in the portable little-endian format — the
    exact inverse of :func:`_roaring32`, and readable by any spec
    RoaringBitmap implementation (delta-spark's included). Always the
    no-run-container layout (cookie 12346): array containers for
    cardinality ≤ 4096, bitmap containers above — valid roaring at any
    density, just without the run optimization, which a reader never
    requires."""
    import struct

    import numpy as np

    keys = (vals >> 16).astype(np.int64)
    uk, starts = np.unique(keys, return_index=True)
    ends = np.append(starts[1:], len(vals))
    size = len(uk)
    header = struct.pack("<iI", 12346, size)
    desc = b"".join(
        struct.pack("<HH", int(k), int(e - s - 1))
        for k, s, e in zip(uk, starts, ends)
    )
    payloads: list[bytes] = []
    for s, e in zip(starts, ends):
        low = (vals[s:e] & 0xFFFF).astype("<u2")
        if e - s <= 4096:
            payloads.append(low.tobytes())
        else:
            bits = np.zeros(65536, dtype=bool)
            bits[low] = True
            payloads.append(
                np.packbits(bits, bitorder="little").tobytes())
    # offset header: byte position of each container from the start of
    # this bitmap's serialization (present whenever cookie == 12346)
    pos = 8 + 8 * size
    offs = []
    for p in payloads:
        offs.append(pos)
        pos += len(p)
    return (header + desc
            + b"".join(struct.pack("<I", o) for o in offs)
            + b"".join(payloads))


def _roaring_array_serialize(idx) -> bytes:
    """Serialize sorted distinct int64 row indexes as a Delta
    RoaringBitmapArray (portable) — the exact inverse of
    :func:`_roaring_array_indexes`: 4-byte LE magic, 8-byte LE bitmap
    count, then per high-32-bit key a 4-byte LE key + one 32-bit
    roaring bitmap of the low 32 bits."""
    import struct

    import numpy as np

    idx = np.asarray(idx, dtype=np.int64)
    if len(idx) and int(idx[0]) < 0:
        raise VersionedTableError(
            "deletion vector: negative row index cannot be serialized"
        )
    high = idx >> 32
    uk, starts = np.unique(high, return_index=True)
    ends = np.append(starts[1:], len(idx))
    out = [struct.pack("<iq", 1681511377, len(uk))]
    for k, s, e in zip(uk, starts, ends):
        out.append(struct.pack("<I", int(k)))
        out.append(_roaring32_serialize(idx[s:e] & 0xFFFFFFFF))
    return b"".join(out)


def _dv_row_indexes(spark: SparkSession | None, table_path: str, dv: dict):
    """Resolve a ``deletionVector`` descriptor to the deleted row
    indexes of its data file (sorted int64 ndarray). Fail-loud on any
    framing/CRC/cardinality mismatch — a half-applied DV is silent row
    resurrection. The driver passes its session; executor kernels pass
    ``spark=None`` and read the sidecar on the no-JVM lane
    (``tables/files.py``)."""
    import uuid as uuid_mod
    import zlib

    st = dv.get("storageType")
    size = int(dv["sizeInBytes"])
    if st == "i":
        payload = _z85_decode(dv["pathOrInlineDv"])
        # delta-spark's Base85Codec zero-pads the serialized bitmap to a
        # multiple of 4 at encode and truncates to sizeInBytes at decode
        # (Base85Codec.decodeBytes(encoded, outputLength)) — an inline DV
        # whose roaring serialization is not 4-aligned (e.g. an array
        # container holding an odd number of 2-byte values) legitimately
        # decodes LONGER than sizeInBytes. Truncate to match; only a
        # SHORT payload is a framing error.
        if len(payload) < size:
            raise VersionedTableError(
                f"deletion vector: inline payload is {len(payload)} bytes, "
                f"descriptor says {size}"
            )
        if any(payload[size:]):
            raise VersionedTableError(
                "deletion vector: non-zero Z85 pad bytes past sizeInBytes "
                f"({len(payload) - size} trailing bytes)"
            )
        payload = payload[:size]
    elif st in ("u", "p"):
        if st == "u":
            enc = dv["pathOrInlineDv"]
            prefix, tail = enc[:-20], enc[-20:]
            u = uuid_mod.UUID(bytes=_z85_decode(tail))
            fpath = (f"{table_path}/{prefix + '/' if prefix else ''}"
                     f"deletion_vector_{u}.bin")
        else:
            fpath = dv["pathOrInlineDv"]
        raw = files.read_bytes(spark, fpath)
        off = int(dv["offset"])
        data_size = int.from_bytes(raw[off:off + 4], "big")
        if data_size != size:
            raise VersionedTableError(
                f"deletion vector: framed dataSize {data_size} != "
                f"descriptor sizeInBytes {size} at {fpath}"
            )
        payload = raw[off + 4:off + 4 + size]
        crc = int.from_bytes(raw[off + 4 + size:off + 8 + size], "big")
        if (zlib.crc32(payload) & 0xFFFFFFFF) != crc:
            raise VersionedTableError(
                f"deletion vector: CRC-32 mismatch at {fpath} offset {off}"
            )
    else:
        raise VersionedTableError(
            f"deletion vector: unrecognized storageType {st!r}"
        )
    idx = _roaring_array_indexes(payload)
    card = dv.get("cardinality")
    if card is not None and int(card) != len(idx):
        raise VersionedTableError(
            f"deletion vector: decoded {len(idx)} deleted rows, "
            f"descriptor cardinality says {card}"
        )
    return idx


def _dv_uid(dv: dict | None) -> str:
    """The descriptor's unique id — Delta keys file actions by
    (path, DV uid) so that the remove(old DV)+add(new DV) pair of an
    in-place delete reconciles regardless of within-commit order."""
    if not dv:
        return ""
    uid = f"{dv.get('storageType', '')}{dv.get('pathOrInlineDv', '')}"
    if dv.get("offset") is not None:
        uid += f"@{dv['offset']}"
    return uid


def _dv_file_rel(dv: dict | None) -> str | None:
    """Table-relative sidecar file of a ``storageType='u'`` deletion
    vector descriptor (``deletion_vector_<uuid>.bin``, optionally under
    a random prefix) — None for inline (``i``) descriptors, which have
    no file, and absolute-path (``p``) ones, which the bridge's layout
    does not own and vacuum must never reclaim."""
    if not dv or dv.get("storageType") != "u":
        return None
    import uuid as uuid_mod

    enc = dv["pathOrInlineDv"]
    prefix, tail = enc[:-20], enc[-20:]
    u = uuid_mod.UUID(bytes=_z85_decode(tail))
    return f"{prefix + '/' if prefix else ''}deletion_vector_{u}.bin"


def _file_location(path: str, rel: str) -> str:
    """Location of a file action's ``path``: URI-encoded, and relative
    to the table root ``path`` unless absolute."""
    rel = urllib.parse.unquote(rel)
    return (rel if "://" in rel or rel.startswith("/")
            else posixpath.join(path, rel))


def _file_uri(root: str, rel: str) -> str:
    """A file action's ``path`` as Spark's scans report it, for matching
    through :func:`_norm_file_uri`: a relative path (URI-encoded, as
    stored) under ``root``, the table's :func:`files.qualify` URI, so a
    relative or scheme-less table path maps back too."""
    absolute = urllib.parse.unquote(rel)
    if "://" in absolute or absolute.startswith("/"):
        return absolute
    return f"{root}/{rel}"


def _uri_keys(spark: SparkSession, path: str,
              adds: dict[str, dict]) -> dict[str, str]:
    """File URI of each add (under the qualified table root, as
    Spark's scans report it) → its key: the map
    :func:`~sql_based_etl_spark.tables.versioned.map_back` reads."""
    root = files.qualify(spark, path)
    return {_file_uri(root, a["path"]): k for k, a in adds.items()}


def _fkey(file_action: dict) -> str:
    return file_action["path"] + "\x00" + _dv_uid(file_action.get("deletionVector"))


class _LogState:
    """Table state folded from log actions in log order — the ONE fold
    over commit JSON, checkpoint files (parquet parts, v2 manifests,
    sidecars) alike. Fields are ``_replay_checkpoint``'s tuple, plus the
    ``sidecarFile`` paths a v2 manifest names."""

    def __init__(self, meta: dict | None = None,
                 adds: dict[str, dict] | None = None,
                 txns: dict[str, int] | None = None,
                 proto: dict | None = None,
                 domains: dict[str, str] | None = None) -> None:
        self.meta, self.proto = meta, proto
        self.adds = {} if adds is None else adds
        self.txns = {} if txns is None else txns
        self.domains = {} if domains is None else domains
        self.sidecars: list[str] = []

    def fold(self, actions) -> None:
        for action in actions:
            if "protocol" in action:
                _check_protocol(action)
                self.proto = action["protocol"]
            elif "metaData" in action:
                self.meta = action["metaData"]
            elif "add" in action:
                # keyed by (path, DV uid): an in-place delete commits
                # remove(path, old DV) + add(path, new DV) and the spec
                # leaves within-commit action order undefined — keying
                # by path alone would let the remove clobber the add
                self.adds[_fkey(action["add"])] = action["add"]
            elif "remove" in action:
                self.adds.pop(_fkey(action["remove"]), None)
            elif "txn" in action:
                # streaming-writer watermarks survive log pruning
                # through the checkpoint, exactly like Delta's own
                self.txns[action["txn"]["appId"]] = int(action["txn"]["version"])
            elif "domainMetadata" in action:
                # named domains (delta.rowTracking et al.) too: dropping
                # one would reset a high watermark
                dm = action["domainMetadata"]
                if dm.get("removed"):
                    self.domains.pop(dm["domain"], None)
                else:
                    self.domains[dm["domain"]] = dm.get("configuration")
            elif "sidecarFile" in action:
                self.sidecars.append(action["sidecarFile"]["path"])


# --- checkpoint files: pyarrow over the file layer, never a Spark job ---

# the add fields replay keeps from a checkpoint: size/modificationTime
# ride along so a LATER checkpoint built on this state keeps the fields
# external readers require, baseRowId/defaultRowCommitVersion keep
# row-tracking identity, and a dropped deletionVector would resurrect
# the deleted rows for every reader that trusts the checkpoint
_CKPT_ADD_FIELDS = ("path", "partitionValues", "size", "modificationTime",
                    "stats", "baseRowId", "defaultRowCommitVersion",
                    "deletionVector")


@_functools.cache
def _checkpoint_schema():
    """The checkpoint schema, as the union of the action structs: one
    row per action, exactly one struct set. The classic file takes all
    but ``checkpointMetadata``/``sidecarFile``; a v2 sidecar takes
    ``add``/``remove``, its manifest the rest (:func:`_write_checkpoint`)."""
    import pyarrow as pa

    s, i32, i64, flag = pa.string(), pa.int32(), pa.int64(), pa.bool_()
    smap = pa.map_(s, s)
    return pa.schema([
        ("protocol", pa.struct([
            ("minReaderVersion", i32), ("minWriterVersion", i32),
            ("readerFeatures", pa.list_(s)), ("writerFeatures", pa.list_(s)),
        ])),
        ("metaData", pa.struct([
            ("id", s),
            ("format", pa.struct([("provider", s), ("options", smap)])),
            ("schemaString", s), ("partitionColumns", pa.list_(s)),
            ("configuration", smap), ("createdTime", i64),
        ])),
        ("add", pa.struct([
            ("path", s), ("partitionValues", smap), ("size", i64),
            ("modificationTime", i64), ("dataChange", flag), ("stats", s),
            ("baseRowId", i64), ("defaultRowCommitVersion", i64),
            # the spec's DeletionVectorDescriptor
            ("deletionVector", pa.struct([
                ("storageType", s), ("pathOrInlineDv", s), ("offset", i32),
                ("sizeInBytes", i32), ("cardinality", i64),
            ])),
        ])),
        # strict external readers select `remove` even though a
        # reconciled checkpoint never carries one — an always-null
        # column keeps those selects valid
        ("remove", pa.struct([
            ("path", s), ("deletionTimestamp", i64), ("dataChange", flag),
        ])),
        ("txn", pa.struct([("appId", s), ("version", i64)])),
        ("domainMetadata", pa.struct([
            ("domain", s), ("configuration", s), ("removed", flag),
        ])),
        ("checkpointMetadata", pa.struct([("version", i64), ("tags", smap)])),
        ("sidecarFile", pa.struct([
            ("path", s), ("sizeInBytes", i64), ("modificationTime", i64),
            ("tags", smap),
        ])),
    ])


def _arrow_json(value, typ):
    """One ``to_pylist`` value of Arrow type ``typ`` in its JSON-action
    shape: MAP values (pair lists in pyarrow 16) become dicts and null
    struct fields are dropped."""
    import pyarrow.types as pat

    if value is None:
        return None
    if pat.is_map(typ):
        return {k: _arrow_json(v, typ.item_type) for k, v in value}
    if pat.is_struct(typ):
        out = {}
        for f in typ:
            v = _arrow_json(value.get(f.name), f.type)
            if v is not None:
                out[f.name] = v
        return out
    if pat.is_list(typ):
        return [_arrow_json(v, typ.value_type) for v in value]
    return value


def _checkpoint_actions(spark: SparkSession | None, uri: str) -> list[dict]:
    """The actions of one checkpoint file — a classic or multipart
    parquet part, a v2 manifest (parquet or JSON) or a v2 sidecar —
    as :meth:`_LogState.fold` takes them. Parquet is read with pyarrow
    over :func:`files.read_bytes`. An add keeps ``_CKPT_ADD_FIELDS``;
    ``remove`` tombstones are left out (a reconciled checkpoint's
    removes are vacuum bookkeeping, not state)."""
    if uri.endswith(".json"):
        actions = list(_log_actions(spark, uri))
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(pa.BufferReader(files.read_bytes(spark, uri)))
        types = {f.name: f.type for f in tbl.schema}
        actions = []
        for row in tbl.to_pylist():
            for k, v in row.items():
                v = _arrow_json(v, types[k])
                if v:  # a null struct, or one with every field null
                    actions.append({k: v})
    out = []
    for a in actions:
        if "add" in a:
            add = {k: a["add"][k] for k in _CKPT_ADD_FIELDS if k in a["add"]}
            add.setdefault("partitionValues", {})
            a = {"add": add}
        if "remove" not in a:
            out.append(a)
    return out


def _replay_checkpoint(
    spark: SparkSession | None, log_dir: str, cp_version: int,
    parts: int | None
) -> tuple[dict | None, dict[str, dict], dict[str, int], dict | None,
           dict[str, str]]:
    """Active state as of a checkpoint:
    ``(metaData, {(path, DV id) key: add}, {txn appId: version},
    protocol, {domain: configuration})``.

    Handles all three public checkpoint layouts: classic single-file
    ``%020d.checkpoint.parquet``, classic multipart
    ``…checkpoint.<i>.<n>.parquet``, and V2
    ``…checkpoint.<uniqueId>.{parquet|json}`` manifests whose file
    actions live in the manifest itself and/or in ``sidecarFile``
    parquet files under ``_delta_log/_sidecars/``."""
    prefix = f"{cp_version:020d}.checkpoint."
    if parts:
        names = [f"{prefix}{i + 1:010d}.{parts:010d}.parquet"
                 for i in range(parts)]
    elif files.stat(spark, f"{log_dir}/{prefix}parquet") is not None:
        names = [f"{prefix}parquet"]
    else:
        # V2: <version>.checkpoint.<uniqueId>.{parquet|json}; any one
        # manifest for the version is complete by the spec. Multipart
        # part files are NOT manifests — folding a single part as
        # complete state would silently drop the other parts' adds, so
        # they are excluded and a pointer that lost its `parts` field
        # fails loudly instead.
        names = sorted(
            n for n, _ in _list_log_entries(spark, log_dir)
            if n.startswith(prefix) and n.endswith((".parquet", ".json"))
            and not _CKPT_MULTIPART_RE.match(n)
        )[:1]
        if not names:
            raise VersionedTableError(
                f"_last_checkpoint points at version {cp_version} but no "
                f"usable checkpoint file exists at {log_dir} (a multipart "
                "checkpoint needs its `parts` field in _last_checkpoint)"
            )
    st = _LogState()
    for name in names:
        st.fold(_checkpoint_actions(spark, f"{log_dir}/{name}"))
    for p in list(st.sidecars):
        st.fold(_checkpoint_actions(
            spark, p if "://" in p or p.startswith("/")
            else f"{log_dir}/_sidecars/{p}"))
    return st.meta, st.adds, st.txns, st.proto, st.domains


def _last_checkpoint(spark: SparkSession | None, log_dir: str) -> tuple[int, int | None] | None:
    try:
        txt = files.read_text(spark, f"{log_dir}/_last_checkpoint")
    except Exception:
        return None
    d = json.loads(txt)
    return int(d["version"]), d.get("parts")


def read_delta(spark: SparkSession, path: str, version: int | None = None,
               timestamp: float | str | None = None,
               relative_version: int | None = None,
               where: list[tuple] | None = None) -> DataFrame:
    """Read a Delta table snapshot without delta-spark jars.

    Time travel, mirroring the versioned table's surface: ``version``
    is Delta's ``versionAsOf``; ``timestamp`` is ``timestampAsOf``
    (epoch seconds or ISO string — resolved against commit-file
    modification times, Delta's own rule for timestamp time travel);
    ``relative_version`` is Arc's 0 = latest / -1 = previous. At most
    one selector; ``None`` for all reads the latest commit. Raises
    :class:`VersionedTableError` for non-Delta paths, missing versions,
    or tables using reader features the bridge cannot honor (see
    module docstring).

    ``where`` is a conjunction of ``(logical_column, op, literal)``
    conjuncts, op one of ``= < <= > >= in "is null" "is not null"``
    (engine/sql_compat.py:normalize_filters; the null tests may omit
    the literal). Semantically identical to ``read_delta(...).filter(...)``;
    operationally it ALSO prunes whole files driver-side from each
    ``add``'s per-file ``stats`` JSON and partition values before any
    data file is opened (:func:`_tree_may_match` over the conjunction's
    scope tree) — on a 100 TB table behind an object store, a selective
    predicate touches only the files it can live in instead of
    listing-and-scanning everything. The predicate is then still
    applied as a Spark filter, so files kept conservatively (missing
    stats, non-prunable types) never leak rows.
    """
    selectors = [s for s in (version, timestamp, relative_version) if s is not None]
    if len(selectors) > 1:
        raise VersionedTableError(
            "read_delta: pass at most one of version / timestamp / "
            "relative_version"
        )
    if where:
        where = normalize_filters(where)
    if timestamp is not None or relative_version is not None:
        version = _resolve_log_version(spark, path, timestamp, relative_version)
    meta, adds, _, _, _, _ = _replay_state(spark, path, version)
    if where:
        adds = _prune_by_tree(meta, adds, filters_tree(where))
    df = _snapshot_df(spark, path, meta, adds)
    if where:
        df = df.filter(filters_column(where))
    return df


def _resolve_log_version(spark: SparkSession, path: str,
                         timestamp: float | str | None,
                         relative_version: int | None) -> int:
    """Resolve ``timestampAsOf`` / ``relativeVersion`` to a commit
    version from the transaction log alone.

    ``timestampAsOf`` uses the commit FILE's modification time — the
    Delta protocol's default rule for timestamp-based time travel —
    UNLESS the table writes in-commit timestamps (the
    ``inCommitTimestamp`` writer feature, detected from the latest
    commit's ``commitInfo``): then each commit's
    ``commitInfo.inCommitTimestamp`` governs, with per-commit mtime
    fallback for commits older than the feature's enablement, exactly
    the spec's rule. The ICT path reads O(commits) small JSON files —
    the same order vacuum already pays — and only when the latest
    commit proves ICT is in use. Commits pruned below a checkpoint
    cannot be timestamp-resolved and fail loudly rather than guess."""
    from sql_based_etl_spark.tables.versioned import parse_timestamp_cutoff

    log_dir = f"{path.rstrip('/')}/_delta_log"
    logs = _list_log(spark, log_dir)
    if not logs:
        raise VersionedTableError(f"no commits at {log_dir}")
    versions = sorted(logs)
    if relative_version is not None:
        if relative_version > 0:
            raise VersionedTableError("relativeVersion must be <= 0")
        idx = len(versions) - 1 + relative_version
        if idx < 0:
            raise VersionedTableError(
                f"relativeVersion {relative_version} out of range "
                f"({len(versions)} commits at {log_dir})"
            )
        return versions[idx]
    cutoff_ms = parse_timestamp_cutoff(timestamp) * 1000.0

    def _ict_ms(v: int) -> int | None:
        for action in _log_actions(spark, logs[v]):
            if "commitInfo" in action:
                ts = action["commitInfo"].get("inCommitTimestamp")
                return int(ts) if ts is not None else None
        return None

    def _mtime_ms(v: int) -> int:
        return files.stat(spark, logs[v]).mtime_ms

    ict_in_use = _ict_ms(versions[-1]) is not None

    def _ts_of(v: int) -> int:
        if ict_in_use:
            t = _ict_ms(v)
            if t is not None:
                return t  # pre-enablement commits fall back to mtime
        return _mtime_ms(v)

    eligible = [v for v in versions if _ts_of(v) <= cutoff_ms]
    if not eligible:
        raise VersionedTableError(
            f"no Delta commit at or before {timestamp!r} at {log_dir} "
            f"(earliest surviving commit is v{versions[0]}; commits "
            "pruned below a checkpoint cannot be timestamp-resolved)"
        )
    return eligible[-1]


def _replay_state(
    spark: SparkSession | None, path: str, version: int | None = None
) -> tuple[dict, dict[str, dict], int, dict[str, int], dict | None,
           dict[str, str]]:
    """Replay the transaction log to ``(metaData, {path: add},
    resolved_version, {txn appId: version}, protocol, {domain:
    configuration})`` — shared by the reader and the writer (the writer
    needs the live file set for overwrite tombstones, the current
    schema for append drift checks, the txn watermarks for idempotent
    streaming commits, the protocol for the writer-feature gate +
    checkpoint emission, and the named metadata domains for
    rowTracking's high watermark). ``spark=None`` replays without a
    JVM (the file layer's no-JVM lane)."""
    path = path.rstrip("/")
    log_dir = f"{path}/_delta_log"
    logs = _list_log(spark, log_dir)

    st = _LogState()
    start = 0
    cp = _last_checkpoint(spark, log_dir)
    if cp is not None and (version is None or cp[0] <= version) and (
        # prefer pure-JSON replay when every commit's JSON is present
        # (cheaper for small tables and exercises nothing extra)
        0 not in logs or cp[0] >= 10
    ):
        st = _LogState(*_replay_checkpoint(spark, log_dir, cp[0], cp[1]))
        start = cp[0] + 1
    elif logs and min(logs) > 0:
        # log-pruned table whose _last_checkpoint pointer is unusable
        # for this read (missing, crashed mid-publish, or newer than the
        # requested time-travel version): the pointer is an optimization,
        # not the source of truth — scan the listing for the newest
        # COMPLETE checkpoint at or below the target, exactly what Delta
        # readers do. This is what keeps every version at or above the
        # metadata-cleanup horizon readable after aged commits (and the
        # mid-log checkpoints that covered them) are expired.
        cps = _complete_checkpoints(
            [n for n, _ in _list_log_entries(spark, log_dir)])
        usable = [v for v in cps if version is None or v <= version]
        if usable:
            cv = max(usable)
            st = _LogState(*_replay_checkpoint(spark, log_dir, cv, cps[cv]))
            start = cv + 1

    latest = max(logs) if logs else -1
    if version is None:
        version = max(latest, start - 1)
    elif version > latest and version >= start:
        raise VersionedTableError(
            f"Delta version {version} does not exist at {path} (latest {latest})"
        )
    if start == 0 and (not logs or min(logs) > 0):
        raise VersionedTableError(
            f"Delta log at {log_dir} is missing commit 0 and no usable "
            "checkpoint covers the gap"
        )

    for v in range(start, version + 1):
        if v not in logs:
            raise VersionedTableError(f"Delta log missing commit {v} at {log_dir}")
        st.fold(_log_actions(spark, logs[v]))
    if st.meta is None:
        raise VersionedTableError(f"Delta log at {log_dir} has no metaData action")
    _check_metadata(st.meta)
    _validate_version_crc(spark, log_dir, version, st.adds)
    return st.meta, st.adds, version, st.txns, st.proto, st.domains


def _validate_version_crc(spark: SparkSession | None, log_dir: str,
                          version: int, adds: dict[str, dict]) -> None:
    """Cross-check replayed state against the version-checksum sidecar
    (``<v>.crc``, delta-spark's VersionChecksum) when one exists for
    the replayed version: ``numFiles`` and ``tableSizeBytes`` must
    match the live set. A mismatch is LOGGED, not raised — it means
    either log corruption (a replay bug, a mangled commit) or a
    foreign writer whose accounting differs, and a reader that bricks
    the table on an advisory sidecar punishes the wrong party; the
    warning names both totals so an operator can diff. Absent crc
    files are always legal (the sidecar is optional per delta-spark's
    own reader)."""
    try:
        try:
            crc = json.loads(files.read_text(
                spark, f"{log_dir}/{version:020d}.crc"))
        except FileNotFoundError:
            return
        n, size = len(adds), sum(int(a.get("size") or 0)
                                 for a in adds.values())
        cn, csize = crc.get("numFiles"), crc.get("tableSizeBytes")
        if (cn is not None and int(cn) != n) or (
                csize is not None and int(csize) != size):
            _log.warning(
                "version checksum mismatch at %s v%d: crc says "
                "numFiles=%s tableSizeBytes=%s, replay computed %d/%d "
                "— possible log corruption or a foreign writer with "
                "different accounting", log_dir, version, cn, csize,
                n, size)
    except Exception:
        return  # advisory sidecar: never fail a read over it


def _write_version_crc(spark: SparkSession, log_dir: str, version: int,
                       meta: dict, state: dict[str, dict],
                       proto: dict | None) -> None:
    """Emit the ``<v>.crc`` version-checksum sidecar after a commit —
    delta-spark writes one per commit (its VersionChecksum) and uses
    it to validate snapshot state; emitting it makes bridge tables
    first-class to such readers AND gives the bridge's own replay a
    per-commit integrity anchor (see :func:`_validate_version_crc`).
    Required fields only (``tableSizeBytes``/``numFiles``/
    ``numMetadata``/``numProtocol``/``metadata``/``protocol``) — the
    rest are Options in the public schema and omitted. Best-effort:
    the sidecar is advisory, so a failed write never fails the commit.
    :func:`_occ_commit` skips it after a RETRIED commit (reconciled
    state is stale, the checkpoint treatment)."""
    try:
        body = {
            "tableSizeBytes": sum(int(a.get("size") or 0)
                                  for a in state.values()),
            "numFiles": len(state),
            "numMetadata": 1,
            "numProtocol": 1,
            "metadata": meta,
            "protocol": proto if proto is not None else
            {"minReaderVersion": 1, "minWriterVersion": 2},
        }
        files.write_bytes(spark, f"{log_dir}/{version:020d}.crc",
                          json.dumps(body).encode())
    except Exception:
        _log.warning("version checksum write at %s v%d failed "
                     "(commit stands — the sidecar is advisory)",
                     log_dir, version)


def _snapshot_df(
    spark: SparkSession, path: str, meta: dict, adds: dict[str, dict],
    tag_rows: bool = False,
    extra_data_cols: list[str] | None = None,
) -> DataFrame:
    """Materialize a replayed snapshot state as a DataFrame.

    ``tag_rows`` appends two physical-address columns to every row —
    ``__file`` (the scan's ``_metadata.file_path``) and ``__ridx``
    (``_metadata.row_index``, the row's physical position in its
    parquet file) — captured AT THE SCAN, before unions/projections
    strip the hidden metadata column. This is the currency of
    row-level DML: :func:`delete_delta` turns matched ``__ridx`` sets
    into deletion-vector bitmaps keyed by ``__file``. Rows already
    dead under a live DV are filtered before tagging consumers see
    them, so a second delete on the same file unions indexes with the
    existing DV rather than resurrecting anything.

    ``extra_data_cols`` appends PHYSICAL-only long columns to the read
    schema — columns that exist in (some) parquet files but not in the
    table schema, reading NULL where a file lacks them. This is how
    row tracking's materialized row-id / row-commit-version columns
    are read (the spec stores them under config-recorded physical
    names, invisible to ordinary readers)."""
    path = path.rstrip("/")
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    mapped = mode in ("name", "id")
    # column mapping: parquet files (and partitionValues keys) use
    # PHYSICAL names; the logical names exist only in the log's
    # schemaString metadata. Read with the physical schema, then one
    # final positional struct cast renames every level back to logical
    # (struct casts match by position, and the two schemas are
    # structurally identical by construction). In id mode the physical
    # schema additionally carries parquet.field.id metadata and the
    # scan resolves columns by the files' field ids, not names — that
    # requires spark.sql.parquet.fieldId.read.enabled, which session.py
    # sets at CONSTRUCTION time (a read path must not silently mutate
    # shared session conf: the setting changes resolution semantics for
    # every other field-id-carrying parquet read in the session and
    # would outlive this call). Foreign sessions without it fail loudly
    # with the remediation named.
    if mode == "id" and str(spark.conf.get(
            "spark.sql.parquet.fieldId.read.enabled", "false")).lower() != "true":
        raise VersionedTableError(
            f"Delta table at {path} uses id-mode column mapping, which "
            "requires spark.sql.parquet.fieldId.read.enabled=true at "
            "session construction (sql_based_etl_spark.session.get_spark "
            "sets it); refusing to mutate the running session's conf"
        )
    phys = (StructType.fromJson(
        _physical_schema_json(json.loads(meta["schemaString"]),
                              with_field_ids=mode == "id"))
        if mapped else schema)
    log2phys = {lf.name: pf.name for lf, pf in zip(schema.fields, phys.fields)}
    part_cols = list(meta.get("partitionColumns") or [])  # logical names
    from pyspark.sql.types import LongType, StructField

    data_schema = StructType(
        [pf for lf, pf in zip(schema.fields, phys.fields)
         if lf.name not in part_cols]
        + [StructField(c, LongType(), True)
           for c in (extra_data_cols or [])]
    )
    by_type = {f.name: f.dataType for f in schema.fields}

    tag_cols = (["__file", "__ridx"] if tag_rows else []) + list(
        extra_data_cols or [])

    def _to_logical(df: DataFrame) -> DataFrame:
        if not mapped:
            return df
        return df.select(*[
            F.col(log2phys[lf.name]).cast(lf.dataType).alias(lf.name)
            for lf in schema.fields
        ], *tag_cols)

    def _read(files: list[str]) -> DataFrame:
        # DataFrameReader resolves file existence eagerly (its file
        # index lists paths up front), so a snapshot whose data files
        # were physically deleted — time travel past a VACUUM — fails
        # HERE, not mid-job; re-raise with the actual cause named.
        # Zero cost on the happy path: no extra existence probes.
        try:
            df = spark.read.schema(data_schema).parquet(*files)
            if tag_rows:
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias("__file"),
                    F.col("_metadata.row_index").alias("__ridx"),
                )
            return df
        except Exception as e:
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "does not exist" in msg.lower():
                raise VersionedTableError(
                    f"Delta snapshot at {path} references data files that "
                    "no longer exist — the version predates a VACUUM "
                    f"(retention window) and cannot be read: {msg.splitlines()[0]}"
                ) from e
            raise

    def _read_adds(alist: list[dict]) -> DataFrame:
        """Read a list of add actions: one multi-file scan for files
        without a deletion vector, plus the DV'd files filtered by an
        anti-join of ``_metadata.row_index`` against the deleted-index
        relation.

        Scale shape (round-10): the driver ships ONLY descriptor JSON
        (O(100) bytes per file); Arrow kernels read the sidecars and
        expand the roaring bitmaps to row indexes EXECUTOR-side
        (:func:`_dv_row_indexes` with no session — the old driver-side decode +
        ``createDataFrame`` pickled every deleted index through the
        driver: measured 9.9s of a 10.1s read at 618k deleted rows).
        When every DV'd file's basename is unique and literal (no
        percent-encoding — true of every Delta writer's
        ``part-…-<uuid>…`` names), ALL DV'd files read as ONE scan
        anti-joined once on (basename, row_index), so the plan stays
        O(1) in DV'd-file count; otherwise each file gets its own
        branch (path-exact, shape-safe fallback). The expanded
        relation broadcasts while total cardinality stays ≤4M rows
        (≈32 MB); heavier deletes shuffle-join — and are REORG-purge
        material anyway (compact_delta purge=True)."""
        plain = [_file_location(path, a["path"]) for a in alist if not a.get("deletionVector")]
        parts = [_read(plain)] if plain else []
        dv_adds = [a for a in alist if a.get("deletionVector")]

        # executors resolve sidecars with no session: hand them the
        # absolute local path (a relative one would follow their cwd)
        def _expand_kernel(batches, _tp=files.local_path(spark, path) or path):
            import pandas as pd

            for pdf in batches:
                for bn, desc in zip(pdf["__dv_file"], pdf["__dv_desc"]):
                    idx = _dv_row_indexes(None, _tp, json.loads(desc))
                    out = pd.DataFrame(
                        {"__dv_row_index": idx.astype("int64")})
                    out.insert(0, "__dv_file", bn)
                    yield out

        basenames = [posixpath.basename(urllib.parse.unquote(a["path"]))
                     for a in dv_adds]
        # literal-name gate checks the RAW (pre-unquote) basename: the
        # scan-side join key comes from _metadata.file_path, which Spark
        # reports URL-ENCODED, while `basenames` above is unquoted — a
        # log path stored percent-encoded (e.g. a space as %20) would
        # make the two keys disagree and the anti-join silently re-show
        # DV-deleted rows. No '%' in the raw name ⇒ encoded == unquoted
        # ⇒ the keys agree; anything else takes the path-exact per-file
        # fallback below (sound for any name).
        collapsible = (len(dv_adds) > 1
                       and len(set(basenames)) == len(basenames)
                       and all("%" not in posixpath.basename(a["path"])
                               for a in dv_adds))
        if collapsible:
            descs = [(bn, json.dumps(a["deletionVector"]))
                     for bn, a in zip(basenames, dv_adds)]
            deleted = (
                spark.createDataFrame(descs, "__dv_file string, "
                                             "__dv_desc string")
                .repartition(min(len(descs), 64))
                .mapInPandas(_expand_kernel,
                             "__dv_file string, __dv_row_index long")
            )
            total = sum(int(a["deletionVector"].get("cardinality") or 0)
                        for a in dv_adds)
            if 0 < total <= 4_000_000:
                deleted = F.broadcast(deleted)
            file_col = (F.col("__file") if tag_rows
                        else F.col("_metadata.file_path"))
            parts.append(
                _read([_file_location(path, a["path"]) for a in dv_adds])
                .withColumn("__dv_file",
                            F.element_at(F.split(file_col, "/"), -1))
                .withColumn("__dv_row_index",
                            F.col("__ridx") if tag_rows
                            else F.col("_metadata.row_index"))
                .join(deleted, ["__dv_file", "__dv_row_index"],
                      "left_anti")
                .drop("__dv_file", "__dv_row_index")
            )
            dv_adds = []
        for a in dv_adds:
            dv = a["deletionVector"]
            bn = posixpath.basename(urllib.parse.unquote(a["path"]))
            deleted = (
                spark.createDataFrame([(bn, json.dumps(dv))],
                                      "__dv_file string, __dv_desc string")
                .mapInPandas(_expand_kernel,
                             "__dv_file string, __dv_row_index long")
                .drop("__dv_file")
            )
            card = int(dv.get("cardinality") or 0)
            if 0 < card <= 4_000_000:
                deleted = F.broadcast(deleted)
            parts.append(
                _read([_file_location(path, a["path"])])
                .withColumn(
                    "__dv_row_index",
                    F.col("__ridx") if tag_rows
                    else F.col("_metadata.row_index"))
                .join(deleted, "__dv_row_index", "left_anti")
                .drop("__dv_row_index")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    if not adds:
        empty = spark.createDataFrame([], schema)
        for c in tag_cols:
            empty = empty.withColumn(
                c, F.lit(None).cast("string" if c == "__file" else "long"))
        return empty
    if not part_cols:
        return _to_logical(_read_adds(list(adds.values())))

    # group files by identical partitionValues (keyed by PHYSICAL name
    # when column-mapped — the writer requirement), inject the
    # partition columns as typed literals per group (NULL for Delta's
    # __HIVE_DEFAULT_PARTITION__ / missing entries), then union
    groups: dict[tuple, list[dict]] = {}
    for a in adds.values():
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(log2phys[c]) for c in part_cols)
        groups.setdefault(key, []).append(a)
    out: DataFrame | None = None
    for key, alist in sorted(groups.items(),
                             key=lambda kv: tuple(x or "" for x in kv[0])):
        df = _read_adds(alist)
        for c, raw in zip(part_cols, key):
            lit = (
                F.lit(None) if raw is None or raw == "__HIVE_DEFAULT_PARTITION__"
                else F.lit(raw)
            )
            df = df.withColumn(log2phys[c], lit.cast(by_type[c]))
        df = df.select(*[log2phys[f.name] for f in schema.fields], *tag_cols)
        out = df if out is None else out.unionByName(df)
    return _to_logical(out)


# --- export / import ----------------------------------------------------


def export_snapshot(table: VersionedTable, dest: str,
                    version: int | None = None) -> None:
    """Publish a VersionedTable snapshot as plain parquet plus a
    ``_schema.json`` sidecar at ``dest`` — the handoff format for Delta
    (or any other) tooling: ``spark.read.parquet(dest)`` just works,
    and delta-spark's ``CONVERT TO DELTA parquet.`path``` upgrades it
    in place. A snapshot export, not a log export: history stays in
    the source table."""
    v = table.resolve_version(version=version)
    df = table.read(version=v)
    df.write.mode("overwrite").parquet(dest)
    files.write_bytes(table.spark, f"{dest.rstrip('/')}/_schema.json",
                      json.dumps({"source": table.path, "version": v,
                                  "schema": json.loads(df.schema.json())}
                                 ).encode("utf-8"))


def convert_delta_to_versioned(spark: SparkSession, delta_path: str,
                               table_path: str,
                               version: int | None = None) -> VersionedTable:
    """Import a Delta snapshot into a new VersionedTable version (read
    bridge + one committed write)."""
    df = read_delta(spark, delta_path, version=version)
    t = VersionedTable(spark, table_path)
    t.write(df, mode="overwrite", operation="CONVERT_FROM_DELTA",
            extra={"source_delta_path": delta_path, "source_delta_version": version})
    return t


def is_delta_dir(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds a Delta table (has a ``_delta_log``)."""
    try:
        return files.stat(spark, f"{path.rstrip('/')}/_delta_log") is not None
    except Exception:
        return False


# --- write bridge -------------------------------------------------------


_ROW_TRACKING_DOMAIN = "delta.rowTracking"


def _assign_row_ids(proto: dict | None, domains: dict[str, str],
                    new_adds: list[dict],
                    commit_version: int) -> dict | None:
    """When the table claims the ``rowTracking`` writer feature, stamp
    every new ``add`` with a fresh ``baseRowId`` range (and this
    commit's ``defaultRowCommitVersion``) and return the
    ``domainMetadata`` action advancing ``rowIdHighWaterMark`` — the
    write obligation that keeps fresh row ids unique for the table's
    lifetime. Ranges are sized by the adds' footer-derived
    ``numRecords``; a rowTracking table whose files can't be
    footer-read fails loudly rather than guessing (an overlapping
    range would alias two rows' ids forever)."""
    feats = set((proto or {}).get("writerFeatures") or [])
    if "rowTracking" not in feats:
        return None
    hwm = -1
    raw = domains.get(_ROW_TRACKING_DOMAIN)
    if raw:
        try:
            hwm = int(json.loads(raw)["rowIdHighWaterMark"])
        except (KeyError, TypeError, ValueError) as e:
            raise VersionedTableError(
                f"rowTracking domain metadata unparsable ({raw!r}): {e}"
            ) from None
    for a in new_adds:
        try:
            n = json.loads(a["stats"])["numRecords"]
        except (KeyError, TypeError, ValueError):
            raise VersionedTableError(
                "write: rowTracking needs per-file row counts to allocate "
                f"baseRowId ranges, and {a['path']!r} has no readable "
                "footer stats (non-local staging URI?)"
            ) from None
        a["baseRowId"] = hwm + 1
        a["defaultRowCommitVersion"] = commit_version
        hwm += int(n)
    return {"domainMetadata": {
        "domain": _ROW_TRACKING_DOMAIN,
        "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
        "removed": False,
    }}


def _identity_columns(meta: dict) -> list[dict]:
    """Top-level identity columns: ``[{name, start, step, hwm,
    explicit}]`` from the schema's ``delta.identity.*`` field
    metadata (nested identity columns are not a thing — Delta only
    allows them at the top level)."""
    out = []
    for f in json.loads(meta["schemaString"]).get("fields", []):
        md = f.get("metadata") or {}
        if not any(k.startswith("delta.identity.") for k in md):
            continue
        hwm = md.get("delta.identity.highWaterMark")
        out.append({
            "name": f["name"],
            "start": int(md.get("delta.identity.start", 1)),
            "step": int(md.get("delta.identity.step", 1)),
            "hwm": int(hwm) if hwm is not None else None,
            "explicit": _flag(md, "delta.identity.allowExplicitInsert"),
        })
    return out


def _generate_identity(df: DataFrame, ident: dict) -> DataFrame:
    """Assign fresh identity values for a batch that omits the column:
    ``last_handed_out + step * (1 + monotonically_increasing_id())`` —
    unique multiples of ``step`` offset by ``start``, allocated with NO
    extra job and NO shuffle. The spec allows gaps (and the partition-id
    high bits of the monotonic id create them), which is exactly the
    trade the library writer makes for distributed allocation; the high
    watermark advances to the real max via the staged files' footer
    stats (:func:`_advance_identity_hwm`)."""
    base = ident["hwm"] if ident["hwm"] is not None         else ident["start"] - ident["step"]
    return df.withColumn(
        ident["name"],
        (F.lit(base)
         + F.lit(ident["step"])
         * (F.monotonically_increasing_id() + 1)).cast("long"))


def _advance_identity_hwm(meta: dict, idents: list[dict],
                          new_adds: list[dict]) -> dict | None:
    """The updated ``metaData`` action (same table id) recording each
    identity column's new ``delta.identity.highWaterMark`` after a
    write — the farthest value in step direction across the staged
    files' footer stats. Returns None when nothing moved. A write that
    produced files without readable stats fails loudly: a stale
    watermark would hand the same identity out twice."""
    moved = False
    schema = json.loads(meta["schemaString"])
    for ident in idents:
        ext = None
        for a in new_adds:
            try:
                st = json.loads(a["stats"])
                v = (st["maxValues"] if ident["step"] > 0
                     else st["minValues"]).get(ident["name"])
                n = st.get("numRecords", 0)
            except (KeyError, TypeError, ValueError):
                raise VersionedTableError(
                    f"write: identity column {ident['name']!r} needs "
                    f"footer stats to advance its high watermark, and "
                    f"{a['path']!r} has none (non-local staging URI?)"
                ) from None
            if n and v is None:
                raise VersionedTableError(
                    f"write: identity column {ident['name']!r} has no "
                    f"min/max stats in {a['path']!r}; cannot advance the "
                    "high watermark safely"
                )
            if v is not None:
                ext = v if ext is None else (
                    max(ext, v) if ident["step"] > 0 else min(ext, v))
        if ext is None:
            continue
        cur = ident["hwm"]
        better = cur is None or (ext > cur if ident["step"] > 0 else ext < cur)
        if better:
            for f in schema["fields"]:
                if f["name"] == ident["name"]:
                    f["metadata"] = {
                        **(f.get("metadata") or {}),
                        "delta.identity.highWaterMark": int(ext),
                    }
            moved = True
    if not moved:
        return None
    out = dict(meta)
    out["schemaString"] = json.dumps(schema)
    return out


_RT_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
_RT_VER_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"


def _rt_materialized_cols(meta: dict) -> tuple[dict, str, str, bool]:
    """The physical names of the row-tracking materialized columns —
    from the table configuration when already recorded (a prior
    rewrite named them), freshly allocated otherwise. Returns
    (possibly-updated meta, row-id column, row-commit-version column,
    changed) — ``changed`` means the caller must re-emit ``metaData``
    so every future writer materializes into the SAME columns (the
    spec's reason the names live in config, not convention)."""
    import uuid

    conf = dict(meta.get("configuration") or {})
    changed = False
    id_col = conf.get(_RT_ID_KEY)
    ver_col = conf.get(_RT_VER_KEY)
    if not id_col:
        id_col = f"_row-id-col-{uuid.uuid4()}"
        conf[_RT_ID_KEY] = id_col
        changed = True
    if not ver_col:
        ver_col = f"_row-commit-version-col-{uuid.uuid4()}"
        conf[_RT_VER_KEY] = ver_col
        changed = True
    if changed:
        meta = {**meta, "configuration": conf}
    return meta, id_col, ver_col, changed


def _snapshot_with_row_ids(spark: SparkSession, path: str, meta: dict,
                           adds: dict[str, dict], id_col: str,
                           ver_col: str) -> DataFrame:
    """The stable-row-id snapshot an ``enableRowTracking`` rewrite must
    preserve: every row carries its CURRENT row id and row commit
    version in ``id_col``/``ver_col`` — the spec's resolution rule
    ``coalesce(materialized, baseRowId + row_index)`` /
    ``coalesce(materialized, defaultRowCommitVersion)``. The per-add
    (baseRowId, defaultRowCommitVersion) pairs join in by file BASENAME
    (Spark part names carry per-file UUIDs; a collision — impossible in
    practice — fails loudly rather than aliasing ids), broadcast, so
    the resolution adds no shuffle to the rewrite."""
    df = _snapshot_df(spark, path, meta, adds, tag_rows=True,
                      extra_data_cols=[id_col, ver_col])
    rows = []
    seen: set[str] = set()
    for a in adds.values():
        base, dver = a.get("baseRowId"), a.get("defaultRowCommitVersion")
        if base is None or dver is None:
            raise VersionedTableError(
                "rowTracking rewrite: live file "
                f"{a['path']!r} has no baseRowId/defaultRowCommitVersion — "
                "an enableRowTracking table must carry them on every add "
                "(this log was written by a non-compliant engine)"
            )
        bn = posixpath.basename(urllib.parse.unquote(a["path"]))
        if bn in seen:
            raise VersionedTableError(
                f"rowTracking rewrite: two live files share basename {bn!r}; "
                "cannot resolve row ids by file"
            )
        seen.add(bn)
        rows.append((bn, int(base), int(dver)))
    map_df = spark.createDataFrame(rows, "__bn string, __base long, __dver long")
    return (
        df.withColumn("__bn", F.element_at(F.split("__file", "/"), -1))
        .join(F.broadcast(map_df), "__bn")
        .withColumn(id_col,
                    F.coalesce(F.col(id_col), F.col("__base") + F.col("__ridx")))
        .withColumn(ver_col, F.coalesce(F.col(ver_col), F.col("__dver")))
        .drop("__bn", "__base", "__dver", "__file", "__ridx")
    )


def _next_ict(spark: SparkSession, log_dir: str, meta: dict,
              prev_version: int | None, now_ms: int) -> int | None:
    """The ``commitInfo.inCommitTimestamp`` this commit must carry —
    or None when the table doesn't enable ICT. The writer obligation
    (the reason ICT is a writer FEATURE, not just a property) is
    monotonicity: strictly greater than the previous commit's ICT, so
    timestamp time travel stays well-ordered even when wall clocks
    step backwards between writers. Previous ICT is read from the
    prior commit's JSON when it survives; when it doesn't (pruned
    below a checkpoint by external log cleanup), the new ICT is
    floored at the newest log-dir mtime + 1 — NOT the bare wall clock,
    which could have stepped backwards past the predecessor's ICT and
    broken strict monotonicity. The mtime is the same ordering
    authority the read side falls back to for ICT-less commits
    (:func:`_resolve_log_version`), so the floor keeps writer emission
    and reader resolution consistent."""
    if not _flag(meta.get("configuration"), "delta.enableInCommitTimestamps"):
        return None
    prev = None
    floor = 0
    if prev_version is not None and prev_version >= 0:
        p = f"{log_dir}/{prev_version:020d}.json"
        try:
            for a in _log_actions(spark, p):
                if "commitInfo" in a:
                    t = a["commitInfo"].get("inCommitTimestamp")
                    prev = int(t) if t is not None else None
                    break
        except Exception:
            # a PRUNED predecessor surfaces as a FileNotFound from the
            # FS layer, not a VersionedTableError — any unreadability
            # means "ICT unknown", which the mtime floor below covers
            prev = None
        if prev is None:
            try:
                floor = max((f.mtime_ms for f in files.list_dir(spark, log_dir)),
                            default=0) + 1
            except Exception:
                floor = 0
    return max(now_ms, floor, prev + 1 if prev is not None else 0)


def _commit_delta_log(spark: SparkSession, log_dir: str, version: int,
                      data: str) -> None:
    """Commit ``_delta_log/%020d.json`` via
    :func:`versioned.publish_text_exclusive` — the same protocol as
    VersionedTable manifests (see its docstring for the full
    FS-semantics discussion): full temp write + no-overwrite
    ``FileContext.rename`` on rename-capable stores (the reference
    Delta ``HDFSLogStore`` pattern — readers can never see a truncated
    log entry, and the loser of a version race raises at rename time),
    ONE conditional create of the final object on object stores (where
    a PUT already materializes whole at close — ``If-None-Match`` on
    Hadoop ≥ 3.4.1 S3A, the ``S3DynamoDBLogStore``-obsoleting path).
    Delta's correctness contract is exactly put-if-absent on the log
    entry, and no route here lets a paused writer wake up and clobber
    a committed entry, nor a crash leave a truncated entry behind."""
    publish_text_exclusive(spark, log_dir, f"{version:020d}.json", data,
                           what="Delta log entry")


# --- the one commit path (Delta's commit-retry contract) ----------------
#
# Every bridge operation commits through _occ_commit, delta-spark's
# OptimisticTransaction.commit: it builds the commitInfo (_commit_info,
# the one place timestamp and engineInfo are set), orders the actions
# (commitInfo, protocol, metaData, domainMetadata, txn, row-tracking
# domain, removes, adds, cdc), publishes them through the shared backoff
# loop (versioned.py:commit_with_retry), and runs the post-commit steps.
#
# Delta's multi-writer contract is NOT "loser raises": the loser of the
# put-if-absent race re-reads the winner's commit, classifies it against
# its own footprint (versioned.py:classify_winner over _delta_winner's
# record) and retries at the next version when the two commute — only
# true conflicts raise, with a named exception. Hourly appends next to a
# nightly OPTIMIZE are the normal case (the reference's concurrent
# scheduled jobs, scd2-job-scheduler.yaml:15-48).
#
# The version-dependent fields are stamped by ONE function, _stamp,
# before EVERY attempt, the first one included: inCommitTimestamp
# against the actual predecessor (ICT monotonicity) and fresh
# rowTracking baseRowId ranges past the newest high watermark (a stale
# range would alias two rows' ids forever). Only then does the attempt
# publish. The .crc sidecar and the checkpoint are written only when
# the commit landed at read_version + 1 — after a retry the reconciled
# state predates the winners.

# the bridge's name for the shared conflict family's base
DeltaConcurrentModificationError = ConcurrentModificationError


def _delta_winner(version: int, actions: list[dict]) -> Winner:
    """A winner's log actions as :func:`classify_winner` reads them."""
    op = ""
    for a in actions:
        if a.get("commitInfo"):
            op = a["commitInfo"].get("operation", "")
    changed = ("protocol" if any("protocol" in a for a in actions)
               else "metadata" if any("metaData" in a for a in actions)
               else None)
    return Winner(
        version, op, changed,
        frozenset(a["txn"].get("appId") for a in actions if a.get("txn")),
        frozenset(a["remove"]["path"] for a in actions if "remove" in a),
        {a["add"]["path"]: a["add"] for a in actions
         if "add" in a and a["add"].get("dataChange", True)})


def _commit_info(operation: str, parameters: dict,
                 metrics: dict | None, now_ms: int) -> dict:
    """The ``commitInfo`` of one bridge commit (before its stamp)."""
    return {
        "timestamp": now_ms,
        "operation": operation,
        "operationParameters": parameters,
        **({"operationMetrics": metrics} if metrics is not None else {}),
        "engineInfo": "sql-based-etl-spark delta bridge",
    }


def _stamp(spark: SparkSession, log_dir: str, version: int, now_ms: int,
           info: dict, meta: dict, proto: dict | None,
           domains: dict[str, str], fresh: list[dict]) -> dict | None:
    """Stamp an attempt at ``version``: ``info`` gets the
    inCommitTimestamp when the table enables ICT, and ``fresh`` (the
    adds this commit staged) get baseRowId ranges past ``domains``'
    high watermark when it tracks rows. Returns the row-tracking
    ``domainMetadata`` action, or None."""
    ict = _next_ict(spark, log_dir, meta, version - 1, now_ms)
    if ict is not None:
        info["inCommitTimestamp"] = ict
    return _assign_row_ids(proto, domains, fresh, version) if fresh else None


def _occ_commit(spark: SparkSession, path: str, snap: tuple,
                operation: str, parameters: dict,
                metrics: dict | None = None, *,
                removes=(), adds=(), cdc=(), data_change: bool = True,
                metadata: dict | None = None,
                domain: tuple[str, str] | None = None,
                txn: tuple[str, int] | None = None,
                read=None, read_tree=None,
                checkpoint_interval: int | None = None) -> int:
    """Commit one bridge operation with Delta's optimistic concurrency
    and return the committed version.

    ``snap`` is the :func:`_replay_state` tuple the operation read
    (``(meta, live, version, txns, proto, domains)``; version -1 creates
    the table and emits its protocol). The commit tombstones
    ``removes`` (live adds, ``dataChange`` = ``data_change``), adds
    ``adds`` (the commit's adds; those without a ``baseRowId`` were
    staged by it and get fresh row ids, carried ones keep theirs) and
    ``cdc`` (staged ``_change_data/`` files), and emits ``metadata``,
    one ``domain`` (name, configuration) and one ``txn`` (app id,
    version) when given.

    Conflicts are classified against the footprint: ``read`` is the
    adds the operation read (None for a blind append; reading rows
    makes a concurrent data add conflict when ``read_tree`` may match
    it), the removes are its removed paths, and a commitInfo-only
    commit commutes with every winner.

    After a commit at ``snap``'s version + 1 that changed state, the
    ``.crc`` of ``live − removes + adds`` is written, and the checkpoint
    every ``checkpoint_interval`` versions. Auto-compaction follows any
    commit with data-changing adds, except RESTORE's (its files come
    back from an earlier version)."""
    import time

    meta, live, read_version, txns, proto, domains = snap
    log_dir = f"{path}/_delta_log"
    now_ms = int(time.time() * 1000)
    info = _commit_info(operation, parameters, metrics, now_ms)
    head: list[dict] = [{"commitInfo": info}]
    if read_version < 0:
        head.append({"protocol": proto})
    if metadata is not None:
        head.append({"metaData": metadata})
    if domain is not None:
        head.append({"domainMetadata": {
            "domain": domain[0], "configuration": domain[1],
            "removed": False}})
    if txn is not None:
        head.append({"txn": {"appId": txn[0], "version": int(txn[1]),
                             "lastUpdated": now_ms}})
    removes = sorted(removes, key=lambda a: a["path"])
    tail = ([{"remove": _remove_action(a, now_ms, data_change)}
             for a in removes]
            + [{"add": a} for a in adds]
            # AddCDCFile: dataChange is false by definition — cdc files
            # are invisible to snapshot readers
            + [{"cdc": {"path": a["path"],
                        "partitionValues": dict(a.get("partitionValues") or {}),
                        "size": a.get("size"), "dataChange": False}}
               for a in cdc])
    changes_state = len(head) + len(tail) > 1
    fresh = [a for a in adds if "baseRowId" not in a]
    domains = dict(domains)
    if domain is not None:
        domains[domain[0]] = domain[1]
    read_paths = frozenset(a["path"] for a in read or ())
    removed_paths = frozenset(a["path"] for a in removes)
    may_match = (None if read_tree is None
                 else lambda add: _tree_may_match(meta, add, read_tree))
    actions: list[dict] = []

    def attempt(version: int, ms: int) -> None:
        rt = _stamp(spark, log_dir, version, ms, info, meta, proto,
                    domains, fresh)
        if rt is not None:
            domains[_ROW_TRACKING_DOMAIN] = (
                rt["domainMetadata"]["configuration"])
        actions[:] = head + ([rt] if rt is not None else []) + tail

    def publish(version: int) -> None:
        _commit_delta_log(spark, log_dir, version,
                          "\n".join(json.dumps(a) for a in actions))

    def on_lost(version: int) -> int:
        if version == 0:
            # version 0 carries protocol+metaData: a raced CREATE is
            # always a real conflict (the winner defined the table)
            raise DeltaConcurrentModificationError(
                f"{operation} at {log_dir}: a concurrent writer created "
                "the table first (version 0 already exists)")
        winner = list(_log_actions(spark, f"{log_dir}/{version:020d}.json"))
        if changes_state:
            classify_winner(
                _delta_winner(version, winner), operation, log_dir,
                read_paths=read_paths, removed_paths=removed_paths,
                reads_table_data=read is not None and data_change,
                may_match=may_match,
                txn_app_id=txn[0] if txn is not None else None)
        # fold the winner's domain watermarks (rowTracking hwm) so the
        # next stamp allocates past them
        for a in winner:
            dm = a.get("domainMetadata")
            if dm and not dm.get("removed"):
                domains[dm["domain"]] = dm.get("configuration")
        attempt(version + 1, int(time.time() * 1000))
        return version + 1

    first = read_version + 1
    attempt(first, now_ms)
    version = commit_with_retry(publish, on_lost, first,
                                f"{operation} at {log_dir}")
    if version != first:
        _log.info("%s at %s: committed at version %d after winning a "
                  "retry past %d concurrent commit(s)",
                  operation, log_dir, version, version - first)
    elif changes_state:
        gone = {_fkey(a) for a in removes}
        state = {k: a for k, a in live.items() if k not in gone}
        state.update({_fkey(a): a for a in adds})
        table_meta = metadata if metadata is not None else meta
        _write_version_crc(spark, log_dir, version, table_meta, state, proto)
        if (checkpoint_interval and version > 0
                and version % checkpoint_interval == 0):
            if txn is not None:
                txns = {**txns, txn[0]: int(txn[1])}
            _write_checkpoint(spark, log_dir, version, table_meta, state,
                              txns, proto, domains)
    grown = [a for a in adds if a.get("dataChange", True)]
    if (grown and operation != "RESTORE"
            and _auto_compact_enabled(meta.get("configuration") or {})):
        # best-effort: never fails the landed commit
        _maybe_auto_compact(spark, path, grown)
    return version


def _log_actions(spark: SparkSession | None, path: str):
    """Yield the action dicts of one ``_delta_log`` JSON entry.

    The publish protocol (:func:`_commit_delta_log`) makes a
    listed-but-truncated entry impossible on every supported store, so
    a parse failure is external corruption or a non-atomic FOREIGN
    writer's crash remnant — the error names the exact file and the
    manual remediation instead of surfacing a bare JSONDecodeError."""
    txt = files.read_text(spark, path)
    for i, line in enumerate(txt.splitlines(), start=1):
        if not line.strip():
            continue
        try:
            yield json.loads(line)
        except ValueError as e:
            raise VersionedTableError(
                f"unparsable Delta log entry {path} (line {i}): {e}. "
                "The bridge publishes log entries atomically, so a "
                "truncated entry is a foreign writer's crash remnant or "
                "external corruption; if this is the newest entry, delete "
                "that %020d.json file to restore the table — the commit "
                "it claims to record never completed."
            ) from None


def _write_checkpoint(spark: SparkSession, log_dir: str, version: int,
                      meta: dict, adds: dict[str, dict],
                      txns: dict[str, int] | None = None,
                      proto: dict | None = None,
                      domains: dict[str, str] | None = None) -> None:
    """Emit the reconciled state after commit ``version`` as a
    checkpoint + ``_last_checkpoint`` — Delta's reader optimization:
    without it every reader of a long-lived table (e.g. a
    per-micro-batch streaming sink) replays an unbounded JSON log.
    Schema mirrors what :func:`_replay_checkpoint` consumes and what
    delta-spark expects: one row per action with exactly one action
    struct set.

    Layout follows the table's ``delta.checkpointPolicy``: classic
    (default) is the single-file ``%020d.checkpoint.parquet``, or the
    multipart ``%020d.checkpoint.<i>.<n>.parquet`` parts of at most
    ``delta.checkpoint.partSize`` actions each; ``v2`` emits the
    v2Checkpoint feature's layout — file actions in
    ``_delta_log/_sidecars/<uuid>.parquet`` sidecars, and a uuid-named
    manifest (``%020d.checkpoint.<uuid>.parquet``) carrying protocol /
    metaData / txn / domainMetadata plus the REQUIRED
    ``checkpointMetadata`` action and the ``sidecarFile`` pointers.

    Each file is built with pyarrow (snappy, :func:`_checkpoint_schema`),
    written under a dot-prefixed temp name (invisible to readers) and
    renamed into place in dependency order (sidecars → manifest →
    ``_last_checkpoint``) — the same publication order Delta uses, so a
    crash at any point leaves a valid table (readers just keep replaying
    JSON until the pointer lands). No Spark job runs."""
    import hashlib
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    full = _checkpoint_schema()

    def _publish(out_rows: list[dict], drop: set[str], dest_rel: str) -> None:
        """One checkpoint file of the schema's columns but ``drop``;
        re-running a checkpoint is content-idempotent — replace, not
        race."""
        schema = pa.schema([f for f in full if f.name not in drop])
        buf = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_pylist(out_rows, schema=schema), buf,
                       compression="snappy")
        tmp = f"{log_dir}/.cptmp-{uuid.uuid4().hex[:12]}.parquet"
        files.write_bytes(spark, tmp, buf.getvalue().to_pybytes())
        dest = f"{log_dir}/{dest_rel}"
        files.delete(spark, dest)
        if not files.rename(spark, tmp, dest):
            files.delete(spark, tmp)
            raise VersionedTableError(
                f"cannot publish checkpoint file {dest_rel} at {log_dir}"
            )

    p = proto or {"minReaderVersion": 1, "minWriterVersion": 2}
    rows = [
        # the checkpoint must restate the TABLE'S protocol — emitting a
        # hardcoded 1/2 for a table whose log claims more would
        # downgrade it for every reader replaying from the checkpoint
        {"protocol": {
            "minReaderVersion": p.get("minReaderVersion", 1),
            "minWriterVersion": p.get("minWriterVersion", 2),
            "readerFeatures": p.get("readerFeatures"),
            "writerFeatures": p.get("writerFeatures"),
        }},
        {"metaData": {
            k: meta.get(k)
            for k in ("id", "format", "schemaString", "partitionColumns",
                      "configuration", "createdTime")
        }},
    ]

    def _dv_struct(a: dict) -> dict | None:
        dv = a.get("deletionVector")
        if not dv:
            return None
        off = dv.get("offset")
        return {"storageType": dv.get("storageType"),
                "pathOrInlineDv": dv.get("pathOrInlineDv"),
                "offset": int(off) if off is not None else None,
                "sizeInBytes": int(dv["sizeInBytes"]),
                "cardinality": int(dv["cardinality"])}

    rows += [
        {"add": {
            "path": a["path"],
            "partitionValues": dict(a.get("partitionValues") or {}),
            "size": a.get("size"),
            "modificationTime": a.get("modificationTime"),
            "dataChange": False,
            "stats": a.get("stats"),
            "baseRowId": a.get("baseRowId"),
            "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
            "deletionVector": _dv_struct(a),
        }}
        for _, a in sorted(adds.items())
    ]
    rows += [
        {"txn": {"appId": app, "version": int(v)}}
        for app, v in sorted((txns or {}).items())
    ]
    rows += [
        {"domainMetadata": {
            "domain": dom, "configuration": conf, "removed": False,
        }}
        for dom, conf in sorted((domains or {}).items())
    ]

    cfg = meta.get("configuration") or {}
    v2_only = {"checkpointMetadata", "sidecarFile"}
    nparts: int | None = None
    if str(cfg.get("delta.checkpointPolicy", "classic")).lower() != "v2":
        # classic layout honors delta.checkpoint.partSize (the real
        # Delta property: max actions per checkpoint file) by writing
        # the MULTIPART layout `<v>.checkpoint.<i>.<n>.parquet`, which
        # bounds each file on a 100k-file table. The pointer carries
        # `parts` as the spec requires.
        try:
            part_size = int(cfg.get("delta.checkpoint.partSize", ""))
        except (TypeError, ValueError):
            part_size = 0
        if part_size > 0 and len(rows) > part_size:
            nparts = -(-len(rows) // part_size)
            for i in range(nparts):
                _publish(
                    rows[i * part_size:(i + 1) * part_size], v2_only,
                    f"{version:020d}.checkpoint."
                    f"{i + 1:010d}.{nparts:010d}.parquet")
        else:
            _publish(rows, v2_only, f"{version:020d}.checkpoint.parquet")
    else:
        # V2 layout (the spec's v2Checkpoint feature): file actions
        # live in SIDECAR parquet under _delta_log/_sidecars/, and the
        # uuid-named manifest holds everything else plus the REQUIRED
        # checkpointMetadata action and a sidecarFile pointer per
        # sidecar — sidecars publish BEFORE the manifest that
        # references them, and the manifest before _last_checkpoint,
        # so a crash at any point leaves a fully valid table.
        #
        # INCREMENTAL sidecars: file actions are hash-partitioned by
        # path into content-addressed groups, and a group whose content
        # is unchanged since an earlier checkpoint is REUSED by pointer
        # instead of rewritten — the spec allows manifests to share
        # sidecars, and log cleanup already reclaims only
        # exclusively-referenced ones. On the per-micro-batch
        # streaming-sink shape this bounds checkpoint write cost at
        # O(changed groups × group size) + manifest, instead of
        # O(live files): an append touches only the group(s) its new
        # paths hash into. Group count grows in powers of two (a
        # doubling re-keys every group — one full rewrite per doubling,
        # amortized O(1) per file). The sidecar name IS the md5 of the
        # group's canonical JSON, formatted uuid-shaped: same content →
        # same name → the exists-check skips the write entirely.
        file_rows = [r for r in rows if "add" in r]
        other_rows = [r for r in rows if "add" not in r]
        k = 1
        while k * _SIDECAR_GROUP_SIZE < len(file_rows):
            k *= 2
        groups: list[list[dict]] = [[] for _ in range(k)]
        for r in file_rows:
            groups[int(hashlib.md5(
                r["add"]["path"].encode()).hexdigest()[:8], 16) % k].append(r)
        other_rows.append({"checkpointMetadata": {"version": version}})
        for g in groups:
            if not g:
                continue
            g.sort(key=lambda r: r["add"]["path"])
            digest = hashlib.md5(json.dumps(
                g, sort_keys=True, default=str).encode()).hexdigest()
            sc_name = (f"{digest[:8]}-{digest[8:12]}-{digest[12:16]}-"
                       f"{digest[16:20]}-{digest[20:32]}.parquet")
            sc_path = f"{log_dir}/_sidecars/{sc_name}"
            sc_st = files.stat(spark, sc_path)
            if sc_st is None:
                _publish(g, set(full.names) - {"add", "remove"},
                         f"_sidecars/{sc_name}")
                sc_st = files.stat(spark, sc_path)
            other_rows.append({"sidecarFile": {
                "path": sc_name,
                "sizeInBytes": sc_st.size,
                "modificationTime": sc_st.mtime_ms,
            }})
        _publish(other_rows, {"add", "remove"},
                 f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet")

    pointer = {"version": version, "size": len(rows)}
    if nparts is not None:
        pointer["parts"] = nparts
    files.write_bytes(spark, f"{log_dir}/_last_checkpoint",
                      json.dumps(pointer).encode("utf-8"))

    # Delta's metadata-cleanup contract rides the checkpoint: once the
    # pointer is published, expire commit JSONs and aged checkpoints
    # past delta.logRetentionDuration (default 30 days), unless the
    # table opts out via delta.enableExpiredLogCleanup=false. The
    # table property is the owner's authorization, so no ad-hoc floor
    # here. A cleanup failure must not fail the already-committed
    # write — warn and move on (Delta does the same).
    if str(cfg.get("delta.enableExpiredLogCleanup", "true")).lower() != "false":
        try:
            hours = _parse_interval_hours(cfg.get("delta.logRetentionDuration"))
            _cleanup_expired_logs(
                spark, log_dir,
                DEFAULT_LOG_RETENTION_HOURS if hours is None else hours)
        except Exception as exc:  # noqa: BLE001 — cleanup is best-effort
            _log.warning(
                "expired-log cleanup after checkpoint v%s at %s failed: %s",
                version, log_dir, exc)


def _project_to_physical(df: DataFrame, meta: dict,
                         mapping_mode: str,
                         passthrough: tuple[str, ...] = (),
                         ) -> tuple[DataFrame, list[str]]:
    """The write-side inverse of ``_snapshot_df``'s logical→physical
    projection: rename every column (nested levels via a positional
    struct cast — the two schemas are structurally identical by
    construction) to its ``delta.columnMapping.physicalName`` so the
    staged parquet matches the table's on-disk naming. In ``id`` mode
    the physical schema carries ``parquet.field.id`` metadata, which
    Spark's parquet writer stamps into the files
    (``spark.sql.parquet.fieldId.write.enabled`` defaults true) — id
    mode's contract that the ID, not the name, identifies the column
    holds for the appended files too. Returns the physical frame and
    the PHYSICAL partition column names (``partitionValues`` keys are
    physical on mapped tables — the reader requirement)."""
    from pyspark.sql.types import StructType

    schema_json = json.loads(meta["schemaString"])
    logical = StructType.fromJson(schema_json)
    # id mode's contract is field-id resolution; icebergCompatV2 /
    # UniForm additionally demand field ids in NAME-mode files (the
    # Iceberg side reads by id) — stamp them whenever either asks
    phys = StructType.fromJson(_physical_schema_json(
        schema_json,
        with_field_ids=(mapping_mode == "id" or _iceberg_compat_on(meta))))
    cols = []
    for lf, pf in zip(logical.fields, phys.fields):
        c = F.col(lf.name).cast(pf.dataType)
        cols.append(c.alias(pf.name, metadata=dict(pf.metadata))
                    if pf.metadata else c.alias(pf.name))
    log2phys = {lf.name: pf.name for lf, pf in zip(logical.fields, phys.fields)}
    part_phys = [log2phys[c] for c in (meta.get("partitionColumns") or [])]
    # passthrough columns (row tracking's materialized row-id /
    # row-commit-version columns) are PHYSICAL-only: they have no
    # logical name to map, they ride verbatim into the staged files
    return df.select(*cols, *[F.col(c) for c in passthrough]), part_phys


def _remove_action(a: dict, ts: int, data_change: bool) -> dict:
    """A ``remove`` tombstone for a live ``add`` action.
    partitionValues + size ride along (the spec's shape — what lets
    read_delta_changes inject REAL partition values into derived
    delete rows), and so does the file's ``deletionVector`` descriptor
    when it carries one: file actions reconcile by (path, DV uid), so
    a descriptor-less tombstone would fail to cancel the DV'd add and
    the "removed" file would stay live in every replay."""
    r = {"path": a["path"], "deletionTimestamp": ts,
         "dataChange": data_change,
         "partitionValues": dict(a.get("partitionValues") or {}),
         "size": a.get("size")}
    if a.get("deletionVector"):
        r["deletionVector"] = a["deletionVector"]
    return r


def _max_column_id(meta: dict) -> int:
    """The largest column-mapping field id the table has ever
    allocated: the recorded ``delta.columnMapping.maxColumnId``
    property, floored by the ids actually present in the schema (a
    hand-built log may carry ids without the property — never reuse
    an id that appears on disk)."""
    conf = meta.get("configuration") or {}
    try:
        mx = int(conf.get("delta.columnMapping.maxColumnId", 0))
    except (TypeError, ValueError):
        mx = 0
    for f in _walk_schema_fields(json.loads(meta["schemaString"])):
        fid = (f.get("metadata") or {}).get("delta.columnMapping.id")
        if fid is not None:
            mx = max(mx, int(fid))
    return mx


def _with_column_mapping(node, alloc: dict, old_node=None):
    """Return a schemaString JSON node whose struct fields (all
    nesting levels) carry column-mapping metadata. A field present —
    by logical name, recursively — in ``old_node`` keeps its
    physicalName/id VERBATIM (the mapping contract: the physical
    identity of a surviving column never changes across schema
    evolution, so old data files keep resolving); a new field gets a
    fresh ``col-<uuid>`` physical name and the next never-used id
    from ``alloc['max']`` (ids are never recycled, even for dropped
    columns — a recycled id would make an old file's column resolve
    as the new one)."""
    import uuid as _uuid

    if isinstance(node, dict) and node.get("type") == "struct":
        old_fields = {}
        if isinstance(old_node, dict) and old_node.get("type") == "struct":
            old_fields = {f["name"]: f for f in old_node.get("fields", [])}
        fields = []
        for f in node["fields"]:
            old_f = old_fields.get(f["name"])
            md = dict(f.get("metadata") or {})
            omd = (old_f or {}).get("metadata") or {}
            if omd.get("delta.columnMapping.physicalName"):
                md["delta.columnMapping.physicalName"] = \
                    omd["delta.columnMapping.physicalName"]
                md["delta.columnMapping.id"] = int(
                    omd["delta.columnMapping.id"])
            else:
                alloc["max"] += 1
                md["delta.columnMapping.id"] = alloc["max"]
                md["delta.columnMapping.physicalName"] = f"col-{_uuid.uuid4()}"
            fields.append({**f, "metadata": md,
                           "type": _with_column_mapping(
                               f["type"], alloc,
                               (old_f or {}).get("type"))})
        return {"type": "struct", "fields": fields}
    if isinstance(node, dict) and node.get("type") == "array":
        return {**node, "elementType": _with_column_mapping(
            node["elementType"], alloc,
            (old_node or {}).get("elementType")
            if isinstance(old_node, dict) else None)}
    if isinstance(node, dict) and node.get("type") == "map":
        old_k = old_node.get("keyType") if isinstance(old_node, dict) else None
        old_v = old_node.get("valueType") if isinstance(old_node, dict) else None
        return {**node,
                "keyType": _with_column_mapping(node["keyType"], alloc, old_k),
                "valueType": _with_column_mapping(
                    node["valueType"], alloc, old_v)}
    return node


def _evolve_mapped_meta(meta: dict, new_schema_json: dict) -> dict:
    """A new ``metaData`` action for a column-mapped table whose
    LOGICAL schema becomes ``new_schema_json``: surviving columns keep
    their physical names and ids (matched by logical name through
    :func:`_with_column_mapping`), new columns get freshly allocated
    ones, and ``delta.columnMapping.maxColumnId`` advances to the
    high-water mark — exactly the library writer's evolution shape, so
    both the bridge reader and delta-spark resolve old and new files
    alike. The table id is unchanged (same table, new schema)."""
    alloc = {"max": _max_column_id(meta)}
    mapped = _with_column_mapping(
        new_schema_json, alloc, json.loads(meta["schemaString"]))
    out = dict(meta)
    out["schemaString"] = json.dumps(mapped)
    out["configuration"] = {
        **(meta.get("configuration") or {}),
        "delta.columnMapping.maxColumnId": str(alloc["max"]),
    }
    return out


from sql_based_etl_spark.engine.sql_compat import (  # noqa: E402
    KLEENE_ANY as _ANY,
    condition_scope_tree as _condition_scope_tree,
    eval_scope_tree as _eval_scope_tree,
    filters_column,
    filters_sql,
    filters_tree,
    normalize_filters,
    prune_coerce as _prune_coerce,
    stats_value_set as _stats_value_set,
)


@_functools.lru_cache(maxsize=64)
def _tree_column_info(schema_string: str,
                      mapping_mode: str) -> dict[str, tuple[str, str | None]]:
    """name → (physicalName, logical type) map for scope-tree atom
    evaluation, memoized on the schema JSON itself — `_tree_may_match`
    runs once per live file in merge/delete pruning and once per
    winner add in OCC checks, and re-parsing `schemaString` per add is
    O(files) redundant JSON work on large tables."""
    schema = json.loads(schema_string)
    info: dict[str, tuple[str, str | None]] = {}
    for f in schema["fields"]:
        md = f.get("metadata") or {}
        phys = (md.get("delta.columnMapping.physicalName", f["name"])
                if mapping_mode != "none" else f["name"])
        typ = f["type"] if isinstance(f["type"], str) else None
        info[f["name"]] = (phys, typ)
    return info


def _tree_may_match(meta: dict, add: dict, tree) -> bool:
    """Kleene-set-evaluate a scope tree (engine/sql_compat.py:
    condition_scope_tree, or filters_tree of a filter list) against one
    add action — the one data-skipping decision behind pruned reads,
    MERGE/DELETE/UPDATE candidate scans and predicate-scoped OCC.
    False ONLY when the predicate provably excludes every row of the
    file:

    - PARTITION columns evaluate exactly (one value per file; a NULL
      partition value makes comparisons UNKNOWN — conservative);
    - other columns evaluate from the add's ``stats`` envelope:
      ``minValues`` is a LOWER bound on the file's true min and
      ``maxValues`` an UPPER bound on its true max — exact for the
      bridge's own footer-derived stats, still bounds under the
      library's string truncation (a truncated min is a prefix ≤ the
      value; a truncated max gets its last char incremented), and
      still bounds for files with deletion vectors (stats describe a
      superset of the live rows). Null rows contribute UNKNOWN unless
      ``nullCount`` proves there are none. Missing stats / an
      un-coercible type widen to no-information.

    Bounds, partition values and literals all pass through
    :func:`_prune_coerce` with the column's logical type. A literal
    that doesn't coerce keeps the file (partition lane) or leaves only
    the null-count proof (stats lane)."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    info = _tree_column_info(meta["schemaString"], mode)
    part_cols = set(meta.get("partitionColumns") or [])
    pv = add.get("partitionValues") or {}
    st = None
    if add.get("stats"):
        try:
            st = json.loads(add["stats"])
        except (TypeError, ValueError):
            st = None
    num = st.get("numRecords") if st else None
    if num == 0:
        return False  # a zero-row file matches nothing

    def _cmp(op: str, v, lit) -> bool:
        if op == "in":
            return any(v == x for x in lit)
        if op == "=":
            return v == lit
        if op == "<":
            return v < lit
        if op == "<=":
            return v <= lit
        if op == ">":
            return v > lit
        return v >= lit  # ">="

    def _atom(c: str, op: str, lit) -> frozenset:
        phys, typ = info.get(c, (c, None))
        if op == "in":
            lit = [_prune_coerce(typ, x) for x in lit]
            if None in lit:
                lit = None
        elif op not in ("is null", "is not null"):
            lit = _prune_coerce(typ, lit)
        if c in part_cols:
            raw = pv.get(phys)
            isnull = raw is None or raw == "__HIVE_DEFAULT_PARTITION__"
            if op == "is null":
                return frozenset("T") if isnull else frozenset("F")
            if op == "is not null":
                return frozenset("F") if isnull else frozenset("T")
            if isnull:
                return frozenset("U")  # SQL: NULL cmp anything → UNKNOWN
            v = _prune_coerce(typ, raw)
            if v is None or lit is None:
                return _ANY
            try:
                return frozenset("T") if _cmp(op, v, lit) else frozenset("F")
            except TypeError:
                return _ANY
        # stats lane (shared subset-lattice analysis)
        if st is None:
            return _ANY
        nulls = (st.get("nullCount") or {}).get(phys)
        lo = (st.get("minValues") or {}).get(phys)
        hi = (st.get("maxValues") or {}).get(phys)
        lov = _prune_coerce(typ, lo) if lo is not None else None
        hiv = _prune_coerce(typ, hi) if hi is not None else None
        if ((lo is None) != (lov is None) or (hi is None) != (hiv is None)
                or lit is None and op not in ("is null", "is not null")):
            lov = hiv = None  # no envelope proof; null counts still count
        return _stats_value_set(op, lit, lov, hiv, nulls, num)

    return _eval_scope_tree(tree, _atom)


def _prune_by_tree(meta: dict, adds: dict[str, dict],
                   tree) -> dict[str, dict]:
    """The adds a scope tree cannot exclude (all of them for None)."""
    if tree is None:
        return adds
    return {k: a for k, a in adds.items() if _tree_may_match(meta, a, tree)}


def _add_stats(f: DataFile) -> str:
    """Delta per-file ``stats`` JSON (numRecords / minValues /
    maxValues / nullCount) of a written file. Column keys are the
    file's own column names, so on column-mapped tables they are the
    physical names — the spec's requirement."""
    cols = f.columns.items()
    return json.dumps({
        "numRecords": f.rows,
        "minValues": {c: s["min"] for c, s in cols if s["min"] is not None},
        "maxValues": {c: s["max"] for c, s in cols if s["max"] is not None},
        "nullCount": {c: s["nulls"] for c, s in cols if s["nulls"] is not None},
    })


def _stage_files(df: DataFrame, path: str, meta: dict, mapping_mode: str,
                 passthrough: tuple[str, ...] = (),
                 subdir: str | None = None) -> list[dict]:
    """Write ``df`` (logical column names) as data files of the table
    and return their ``add`` actions. Mapped tables store data (and
    ``partitionValues`` keys) under PHYSICAL names — the reader's
    projection run in reverse (:func:`_project_to_physical`;
    ``passthrough`` columns ride verbatim). The shared file writer
    (``tables/files.py``: zstd parquet, rowless files dropped, stats
    from the footers) writes into a dot-prefixed staging dir (invisible
    to Delta readers — log listing matches data paths only); the files
    then move into the table root preserving hive partition dirs. Each
    ``add`` carries ``partitionValues`` parsed back from the dir names
    (``__HIVE_DEFAULT_PARTITION__`` → null) and ``stats``
    (:func:`_add_stats`; absent when no stats could be read).

    ``subdir`` relocates the published files under ``<path>/<subdir>/``
    with paths recorded relative to the TABLE root — the shape change
    data files need (``_change_data/...``, underscore-prefixed so plain
    parquet scans of the table root never see them)."""
    import uuid

    if mapping_mode != "none":
        df, part_cols = _project_to_physical(df, meta, mapping_mode,
                                             passthrough=passthrough)
    else:
        part_cols = list(meta.get("partitionColumns") or [])
    spark = df.sparkSession
    staging = f"{path}/.staging-{uuid.uuid4().hex[:12]}"
    adds: list[dict] = []
    for f in write_files(df, staging, part_cols):
        rel = f"{subdir}/{f.path}" if subdir else f.path
        if not files.rename(spark, f"{staging}/{f.path}", f"{path}/{rel}"):
            raise VersionedTableError(f"write_delta: cannot move {rel} into {path}")
        add = {
            "path": urllib.parse.quote(rel, safe="/="),
            "partitionValues": {c: f.partition_values.get(c) for c in part_cols},
            "size": f.size,
            "modificationTime": f.modification_time,
            "dataChange": True,
        }
        if f.rows is not None:
            add["stats"] = _add_stats(f)
        adds.append(add)
    files.delete(spark, staging, recursive=True)
    return adds


# Writer features the bridge's write shapes (blind appends, full
# overwrites, dataChange:false compaction) can honor — each entry is
# backed by a concrete config/schema check in _check_writer_allowed;
# anything else (rowTracking, icebergCompat*, v2Checkpoint,
# domainMetadata, clustering, …) fails loudly because the bridge
# cannot uphold its write-side obligations.
_BRIDGE_WRITER_FEATURES = {
    "appendOnly",        # delta.appendOnly gates overwrite below
    "invariants",        # ENFORCED per batch (_enforce_write_obligations)
    "checkConstraints",  # ENFORCED per batch (_enforce_write_obligations)
    "changeDataFeed",    # blind appends / full overwrites derive CDF
                         # from add/remove actions per the spec;
                         # merge_delta emits REAL cdc actions
    "columnMapping",     # all write shapes run through the reader's
                         # logical→physical projection in reverse;
                         # schema evolution reuses surviving ids and
                         # allocates fresh ones (_evolve_mapped_meta)
    "deletionVectors",   # appends leave live DVs untouched; rewrites
                         # (overwrite/merge/compact) read THROUGH them
                         # and their tombstones carry the descriptor,
                         # so reconciliation by (path, DV uid) holds;
                         # delete_delta WRITES them (roaring sidecar +
                         # remove/add of the same path)
    "timestampNtz",      # type-level; schema copied verbatim
    "generatedColumns",  # computed when omitted, validated when supplied
                         # (_enforce_write_obligations)
    "identityColumns",   # per-field delta.identity.* gates below
    "inCommitTimestamp", # every commit carries a monotonically
                         # increasing commitInfo.inCommitTimestamp as
                         # its FIRST action (_next_ict); the read side
                         # already resolves timestamp travel through it
    "domainMetadata",    # named domains replay + survive checkpoints;
                         # the bridge writes only delta.rowTracking,
                         # preserves every other domain verbatim
    "rowTracking",       # fresh baseRowId ranges + high-watermark
                         # domain on every add (_assign_row_ids);
                         # rewrites of ENABLED tables materialize
                         # stable ids into the config-named columns
                         # (_rt_materialized_cols/_snapshot_with_row_ids)
    "clustering",        # liquid clustering: a non-clustering writer's
                         # obligation is preserving the delta.clustering
                         # domain (generic now); compact_delta picks the
                         # clustering columns up automatically
    "v2Checkpoint",      # delta.checkpointPolicy=v2 tables checkpoint
                         # in the v2 layout (_write_checkpoint: sidecar
                         # file actions + uuid-named manifest with
                         # checkpointMetadata); the reader replays all
                         # three public layouts since round 6
    "typeWidening",      # a widened table's CURRENT schema is its
                         # widest: every bridge write stages files in
                         # that schema (always readable under it), and
                         # the bridge never retypes columns (mergeSchema
                         # evolution is additive-only), so the
                         # delta.typeWidening.typeChanges bookkeeping —
                         # the ALTER-side obligation — never falls on it
    "typeWidening-preview",
    "variantType",       # type-level: staged files carry Spark's
                         # native UNSHREDDED variant parquet encoding —
                         # the same bytes delta-spark's writer emits;
                         # stats for variant-bearing files fall back to
                         # a one-job Spark aggregation when pyarrow
                         # cannot parse the footer's VARIANT logical
                         # type (tables/files.py), so identity /
                         # rowTracking / stats-scoped OCC keep working.
                         # icebergCompatV2 tables refuse variant by
                         # name (Iceberg's field-id contract has no
                         # mapping for the variant group's subfields).
    "variantType-preview",
    "vacuumProtocolCheck",  # VACUUM must protocol-check the table
                            # instead of gating on a hardcoded
                            # version — vacuum_delta replays the log
                            # first (_replay_state → _check_protocol),
                            # so the obligation holds by construction;
                            # non-vacuum writes are unaffected
    "icebergCompatV2",   # UniForm-compatible writes: column mapping
                         # required, parquet field ids stamped into
                         # EVERY staged data file (both mapping modes —
                         # _project_to_physical), deletion vectors
                         # refused, array/map schemas refused (their
                         # nested element field ids are an obligation
                         # Spark's writer conf cannot stamp) — all
                         # gated in _check_writer_allowed
}


# known-but-unsupported writer features refuse BY NAME (the error says
# what blocks, not just "unknown feature") — the icebergCompatV2
# treatment, round-11
_NAMED_WRITER_REFUSALS = {
    "variantShredding": (
        "shredded variant layouts (variantShredding): the bridge "
        "writes only the unshredded variant encoding and cannot "
        "uphold a shredding schema's obligations"),
    "variantShredding-preview": (
        "shredded variant layouts (variantShredding-preview): the "
        "bridge writes only the unshredded variant encoding and "
        "cannot uphold a shredding schema's obligations"),
    "collations": (
        "collated string columns (collations): the bridge's stats, "
        "constraint evaluation and file pruning compare binary — "
        "collation-aware ordering is an obligation it cannot uphold"),
    "collations-preview": (
        "collated string columns (collations-preview): the bridge's "
        "stats, constraint evaluation and file pruning compare binary "
        "— collation-aware ordering is an obligation it cannot uphold"),
}


def _iceberg_compat_on(meta: dict) -> bool:
    """True when the table demands Iceberg-compatible data files:
    ``delta.enableIcebergCompatV2=true``, or UniForm's
    ``delta.universalFormat.enabledFormats`` includes ``iceberg``."""
    conf = meta.get("configuration") or {}
    if _flag(conf, "delta.enableIcebergCompatV2"):
        return True
    return "iceberg" in str(conf.get(
        "delta.universalFormat.enabledFormats", "")).lower()


def _walk_schema_fields(node):
    if isinstance(node, dict) and node.get("type") == "struct":
        for f in node.get("fields", []):
            yield f
            yield from _walk_schema_fields(f.get("type"))
    elif isinstance(node, dict) and node.get("type") == "array":
        yield from _walk_schema_fields(node.get("elementType"))
    elif isinstance(node, dict) and node.get("type") == "map":
        yield from _walk_schema_fields(node.get("keyType"))
        yield from _walk_schema_fields(node.get("valueType"))


def _check_writer_allowed(proto: dict | None, meta: dict, mode: str) -> None:
    """The write-side twin of :func:`_check_protocol`: refuse to commit
    to a table whose writer protocol imposes obligations the bridge
    cannot uphold — delta-spark refuses such writes too, and a bridge
    that appended anyway would silently break the table's invariants
    (``mode`` is append / overwrite / compact)."""
    p = proto or {}
    wv = int(p.get("minWriterVersion", 2))
    feats = set(p.get("writerFeatures") or [])
    unknown = feats - _BRIDGE_WRITER_FEATURES
    for f in sorted(unknown & _NAMED_WRITER_REFUSALS.keys()):
        raise VersionedTableError(
            f"write: {_NAMED_WRITER_REFUSALS[f]}; install delta-spark "
            "to write this table"
        )
    if (wv == 7 and unknown) or wv > 7:
        raise VersionedTableError(
            "write: table requires writer features the bridge cannot "
            f"honor ({sorted(unknown) if unknown else f'minWriterVersion {wv}'}); "
            "install delta-spark to write this table"
        )
    conf = meta.get("configuration") or {}
    if (_flag(conf, "delta.appendOnly")
            and mode in ("overwrite", "merge", "delete", "update")):
        raise VersionedTableError(
            "write: delta.appendOnly=true forbids removing data; only "
            "appends (and dataChange:false compaction) are allowed"
        )
    if _iceberg_compat_on(meta):
        # icebergCompatV2 / UniForm obligations the bridge CAN uphold
        # are enforced here; the two it cannot are refused by name.
        if conf.get("delta.columnMapping.mode", "none") not in ("name",
                                                                "id"):
            raise VersionedTableError(
                "write: icebergCompatV2/UniForm requires column mapping "
                "(delta.columnMapping.mode=name|id) — this table has "
                "none, so its field-id contract cannot hold"
            )
        if _flag(conf, "delta.enableDeletionVectors"):
            raise VersionedTableError(
                "write: icebergCompatV2 forbids deletion vectors "
                "(Iceberg readers of the UniForm metadata cannot apply "
                "them) — delta.enableDeletionVectors must be false"
            )
        if _schema_contains_type(json.loads(meta["schemaString"]),
                                 {"variant"}):
            raise VersionedTableError(
                "write: icebergCompatV2/UniForm has no field-id "
                "mapping for variant columns (the variant group's "
                "metadata/value subfields carry no ids Iceberg "
                "readers could resolve) — drop the variant column or "
                "disable Iceberg compatibility"
            )
        for f in _walk_schema_fields(json.loads(meta["schemaString"])):
            t = f.get("type")
            kind = t.get("type") if isinstance(t, dict) else None
            if kind in ("array", "map"):
                raise VersionedTableError(
                    "write: icebergCompatV2 requires parquet field ids "
                    "on NESTED list/map element types, which this "
                    "bridge cannot stamp (Spark's field-id writer "
                    f"covers named fields only) — column {f['name']!r} "
                    "blocks; install delta-spark to write this table"
                )
    # delta.enableRowTracking=true rewrites (merge/compact/cow-delete)
    # MATERIALIZE every surviving row's id + commit version into the
    # config-named physical columns (_rt_materialized_cols /
    # _snapshot_with_row_ids) — no refusal needed. CHECK constraints,
    # invariants and generated columns are ENFORCED at write time
    # (_enforce_write_obligations); identity columns are allocated on
    # append/overwrite AND inside MERGE (inserted rows with a NULL
    # identity get fresh values beyond the high watermark; GENERATED
    # ALWAYS refuses a source that supplies the column — merge_delta).


def _enforce_write_obligations(df: DataFrame, meta: dict) -> DataFrame:
    """Uphold the table's write-side data obligations the way the
    library writer does — in ONE validation pass over the batch:

    - ``delta.constraints.<name>`` CHECK constraints (Spark SQL
      predicates over logical column names) must hold on every row;
    - column ``delta.invariants`` (the legacy per-field JSON carrying a
      SQL expression) must hold on every row;
    - non-nullable schema fields reject NULLs;
    - ``delta.generationExpression`` columns are COMPUTED when the
      batch omits them and VALIDATED (value must equal the expression)
      when it supplies them — delta-spark's exact contract.

    Any violation raises :class:`VersionedTableError` naming the
    constraint/column; the single `agg` keeps the cost at one scan of
    the batch regardless of how many obligations the table carries."""
    import json as _json

    schema = _json.loads(meta["schemaString"])
    conf = meta.get("configuration") or {}
    checks: list[tuple[str, object]] = []
    for k in sorted(conf):
        if k.startswith("delta.constraints."):
            name = k[len("delta.constraints."):]
            checks.append((f"CHECK constraint {name!r} ({conf[k]})",
                           F.expr(conf[k])))
    for f in schema.get("fields", []):
        md = f.get("metadata") or {}
        col = f["name"]
        if not f.get("nullable", True):
            checks.append((f"column {col!r} is non-nullable",
                           F.col(col).isNotNull()))
        if "delta.invariants" in md:
            inv = md["delta.invariants"]
            if isinstance(inv, str):
                inv = _json.loads(inv)
            expr_sql = (inv.get("expression") or {}).get("expression")
            if not expr_sql:
                raise VersionedTableError(
                    f"write: column {col!r} carries an invariant in a "
                    "shape the bridge cannot parse; install delta-spark"
                )
            checks.append((f"invariant on {col!r} ({expr_sql})",
                           F.expr(expr_sql)))
        if "delta.generationExpression" in md:
            gen = md["delta.generationExpression"]
            if col in df.columns:
                checks.append((
                    f"generated column {col!r} must equal {gen}",
                    F.col(col).eqNullSafe(F.expr(gen))))
            else:
                df = df.withColumn(col, F.expr(gen))
    if not checks:
        return df
    # SQL-standard CHECK semantics: a row violates only when the
    # predicate is definitively FALSE — a NULL result passes (the
    # non-nullable check above is what rejects NULLs where they matter)
    counts = df.agg(*[
        F.sum(F.when(cond.cast("boolean").eqNullSafe(F.lit(False)),
                     1).otherwise(0)).alias(f"__viol_{i}")
        for i, (_, cond) in enumerate(checks)
    ]).collect()[0]
    for i, (what, _) in enumerate(checks):
        n = counts[f"__viol_{i}"]
        if n:
            raise VersionedTableError(
                f"write: {n} row(s) violate {what}; the batch was not "
                "committed"
            )
    return df


def write_delta(df: DataFrame, path: str, mode: str = "append",
                partition_by: list[str] | None = None,
                checkpoint_interval: int | None = 10,
                txn_app_id: str | None = None,
                txn_version: int | None = None,
                properties: dict[str, str] | None = None,
                merge_schema: bool = False,
                cluster_by: list[str] | None = None,
                cluster_method: str = "zorder") -> int:
    """Write a commit to a Delta-protocol table WITHOUT delta-spark jars
    — the write half of the interop bridge (read half:
    :func:`read_delta`), so engine output is consumable by any Delta
    deployment (scd2-job.ipynb:153's production format).

    ``cluster_by`` (round-11) is CREATE ... CLUSTER BY + clustered
    writes: the batch is laid out on the clustering key by
    :func:`~sql_based_etl_spark.tables.versioned.cluster_rows` (zorder
    by default — per-file min/max narrow on every clustered column — or
    'range' for leading-column locality incl. string keys; any other
    ``cluster_method`` raises), and table
    CREATION records the columns in the ``delta.clustering`` domain
    (physical names on mapped tables) claiming the
    clustering+domainMetadata features, so ``compact_delta`` OPTIMIZE
    auto-clusters by them and external engines see a liquid-clustered
    table.

    Emits the public transaction-log actions: ``protocol``
    (minReader 1 / minWriter 2 — no writer features the bridge cannot
    honor) + ``metaData`` (``schemaString`` is Spark's StructType JSON,
    which IS Delta's schema encoding) on table creation, ``add`` per
    data file (size/modificationTime from the FileSystem), ``remove``
    tombstones for every live file on overwrite. Data files are written
    by the shared file writer (``tables/files.py``: zstd parquet,
    rowless files dropped, per-file ``stats`` from the footers) into a
    dot-prefixed staging dir (invisible to Delta readers), then renamed
    into the table root preserving hive-style partition dirs;
    ``partitionValues`` are parsed back from those dir names
    (``__HIVE_DEFAULT_PARTITION__`` → null).

    Fail-loud contract: append with a drifted schema raises (Delta's
    own default) unless ``merge_schema=True``, which widens the table
    schema with the batch's NEW columns — ``metaData`` is re-emitted
    once with the same table id and the merged ``schemaString`` (type
    changes always raise; a batch missing table columns is padded with
    typed nulls), the library's ``mergeSchema`` shape. Repartitioning
    of an existing table raises; concurrent commits to the same
    version raise (see :func:`_commit_delta_log`).

    Column-mapped tables (both modes) take every shape: appends and
    overwrites run the reader's logical→physical projection in
    reverse, and schema evolution (mergeSchema append / overwrite)
    keeps surviving columns' physical names and field ids while
    allocating fresh ones for new columns and advancing
    ``delta.columnMapping.maxColumnId`` (:func:`_evolve_mapped_meta`).
    Tables with live deletion vectors also take every shape: appends
    leave the DVs untouched; overwrite tombstones carry each file's DV
    descriptor so reconciliation by (path, DV uid) cancels the right
    action.

    Every ``checkpoint_interval`` commits (Delta's own default, 10) the
    reconciled state is also published as a parquet checkpoint +
    ``_last_checkpoint`` (:func:`_write_checkpoint`), so readers of a
    long-lived table — the one-commit-per-micro-batch streaming sink
    pattern — replay a bounded JSON tail instead of the whole log.
    ``checkpoint_interval=None`` disables (pure-JSON logs are valid
    Delta at any version count).

    Idempotent streaming commits — Delta's ``txn`` action: pass
    ``txn_app_id`` + ``txn_version`` (the micro-batch id) and a commit
    whose ``txn_version`` is ≤ the appId's recorded watermark is
    SKIPPED (returns the current latest version, writes nothing) — the
    protocol's own exactly-once contract for ``foreachBatch`` sinks
    replaying after a crash. Watermarks survive log pruning through
    checkpoints (one ``txn`` row per appId, like Delta's own).

    Returns the committed version number.
    """
    import time
    import uuid

    spark = df.sparkSession
    path = path.rstrip("/")
    log_dir = f"{path}/_delta_log"
    mode = mode.lower()
    if mode not in ("append", "overwrite"):
        raise VersionedTableError(f"write_delta: unsupported mode {mode!r}")
    if (txn_app_id is None) != (txn_version is None):
        raise VersionedTableError(
            "write_delta: txn_app_id and txn_version come together"
        )
    if cluster_by:
        missing = [c for c in cluster_by if c not in df.columns]
        if missing:
            raise VersionedTableError(
                f"write_delta: cluster_by columns {missing} not in the "
                "batch")
        if partition_by and set(cluster_by) & set(partition_by):
            raise VersionedTableError(
                "write_delta: cluster_by and partition_by must be "
                "disjoint (liquid clustering replaces hive "
                "partitioning on those columns)")

    clustering: tuple[str, str] | None = None
    # a checkpoint-only log (every JSON commit pruned by external
    # cleanup) is still an EXISTING table: treating it as new would
    # commit an invisible version 0 that replay (which prefers the
    # checkpoint) never reads — silent data loss
    if files.stat(spark, log_dir) is not None and (
        _list_log(spark, log_dir)
        or _last_checkpoint(spark, log_dir) is not None
    ):
        snap = _replay_state(spark, path)
        meta, live, latest, txns, proto, _ = snap
        _check_writer_allowed(proto, meta, mode)
        mapping_mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none")
        # a batch may legitimately omit generated and identity columns
        # (the library writer computes/allocates them) — fill BEFORE the
        # schema-drift check so the omission doesn't read as drift
        for f_ in json.loads(meta["schemaString"]).get("fields", []):
            gen_ = (f_.get("metadata") or {}).get("delta.generationExpression")
            if gen_ and f_["name"] not in df.columns:
                df = df.withColumn(f_["name"], F.expr(gen_))
        idents = _identity_columns(meta)
        for ident in idents:
            if ident["name"] not in df.columns:
                df = _generate_identity(df, ident)
            elif not ident["explicit"]:
                raise VersionedTableError(
                    f"write: identity column {ident['name']!r} is "
                    "GENERATED ALWAYS (allowExplicitInsert=false); omit "
                    "it from the batch and the bridge allocates it"
                )
        if properties is not None and dict(properties) != dict(
                meta.get("configuration") or {}):
            raise VersionedTableError(
                "write_delta: table properties are settable at CREATE "
                "only (silently ignoring a properties change would be "
                "worse than refusing); the table has "
                f"{meta.get('configuration') or {}}"
            )
        if (
            txn_app_id is not None
            and txn_app_id in txns
            and int(txn_version) <= txns[txn_app_id]
        ):
            return latest  # replayed micro-batch: already committed
        part_cols = list(meta.get("partitionColumns") or [])
        if partition_by is not None and list(partition_by) != part_cols:
            raise VersionedTableError(
                f"write_delta: table is partitioned by {part_cols}, "
                f"got partition_by={list(partition_by)}"
            )
        emit_meta = False
        if mode == "append":
            from pyspark.sql.types import StructType

            existing = StructType.fromJson(json.loads(meta["schemaString"]))
            have = {f.name: f.dataType.simpleString() for f in existing.fields}
            got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            if have != got and not merge_schema:
                raise VersionedTableError(
                    f"write_delta: append schema drift (table {have}, "
                    f"batch {got}); pass merge_schema=True to add "
                    "columns, or write with mode='overwrite' to replace"
                )
            if have != got:
                conflicts = {c: (have[c], got[c]) for c in have
                             if c in got and have[c] != got[c]}
                if conflicts:
                    raise VersionedTableError(
                        "write_delta: mergeSchema cannot change column "
                        f"types ({conflicts}); a silent type change "
                        "would corrupt every older file"
                    )
                new_fields = [f for f in df.schema.fields
                              if f.name not in have]
                if new_fields:
                    # widen the table schema: old field JSON verbatim
                    # (its metadata — column-mapping identities included
                    # — must survive), new fields appended; metaData is
                    # re-emitted ONCE with the SAME table id (the
                    # library writer's mergeSchema shape), so readers of
                    # older versions are untouched
                    old_json = json.loads(meta["schemaString"])
                    new_jsons = [f.jsonValue() for f in new_fields]
                    meta = dict(meta)
                    if mapping_mode != "none":
                        alloc = {"max": _max_column_id(meta)}
                        new_jsons = _with_column_mapping(
                            {"type": "struct", "fields": new_jsons}, alloc
                        )["fields"]
                        meta["configuration"] = {
                            **(meta.get("configuration") or {}),
                            "delta.columnMapping.maxColumnId": str(alloc["max"]),
                        }
                    meta["schemaString"] = json.dumps({
                        "type": "struct",
                        "fields": old_json["fields"] + new_jsons,
                    })
                    _check_evolved_schema_claims(
                        meta["schemaString"], proto, "mergeSchema")
                    emit_meta = True
                # a batch missing table columns is also legal under
                # mergeSchema: pad with typed nulls so the staged files
                # carry the full merged schema (nulls are RLE-free in
                # parquet; a self-describing file beats relying on
                # reader-side missing-column fill)
                merged = StructType.fromJson(json.loads(meta["schemaString"]))
                df = df.select(*[
                    (F.col(f.name) if f.name in got
                     else F.lit(None).cast(f.dataType)).alias(f.name)
                    for f in merged.fields
                ])
        else:  # overwrite: schema may legitimately change
            emit_meta = True
            meta = dict(meta)
            if mapping_mode != "none":
                # surviving columns keep their physical identity, new
                # ones get freshly allocated names/ids, maxColumnId
                # advances — the library's overwriteSchema shape
                meta = _evolve_mapped_meta(meta, json.loads(df.schema.json()))
            else:
                meta["schemaString"] = df.schema.json()
            _check_evolved_schema_claims(
                meta["schemaString"], proto, "the overwrite's schema")
            if idents:
                # a data overwrite must not silently strip a surviving
                # column's identity definition (the batch's StructType
                # carries no delta.identity.* metadata)
                new_schema = json.loads(meta["schemaString"])
                by_name = {i["name"]: i for i in idents}
                for f_ in new_schema["fields"]:
                    ident = by_name.get(f_["name"])
                    if ident:
                        f_["metadata"] = {
                            **(f_.get("metadata") or {}),
                            "delta.identity.start": ident["start"],
                            "delta.identity.step": ident["step"],
                            "delta.identity.allowExplicitInsert":
                                ident["explicit"],
                            **({"delta.identity.highWaterMark": ident["hwm"]}
                               if ident["hwm"] is not None else {}),
                        }
                meta["schemaString"] = json.dumps(new_schema)
    else:
        live = {}
        part_cols = list(partition_by or [])
        emit_meta = True
        mapping_mode = "none"
        idents = []
        # the protocol must CLAIM what the table's properties require:
        # delta.enableChangeDataFeed is gated behind writer version 4
        # (the changeDataFeed feature) — a v2 claim would let external
        # writers run row-rewriting DML without emitting cdc actions,
        # making the property's promise unenforceable downstream.
        # delta.enableInCommitTimestamps is a table FEATURE (writer v7
        # + explicit writerFeatures, legacy capabilities listed per the
        # spec's upgrade rule) — an unclaiming protocol would let
        # external writers commit without the monotonic timestamp.
        cdf_on = _flag(properties, "delta.enableChangeDataFeed")
        ict_on = _flag(properties, "delta.enableInCommitTimestamps")
        # delta.enableDeletionVectors is a reader+writer FEATURE pair
        # (reader v3 + writer v7): readers that don't decode DVs would
        # resurrect deleted rows, so the claim is mandatory at CREATE
        # for delete_delta to ever attach one.
        dv_on = _flag(properties, "delta.enableDeletionVectors")
        # rowTracking rides domainMetadata (the high watermark lives in
        # a domain) — the spec requires claiming both
        rt_on = _flag(properties, "delta.enableRowTracking")
        # v2 checkpoints are a reader+writer feature pair: a reader
        # that can't follow sidecarFile pointers would replay an
        # incomplete file list
        v2cp_on = str((properties or {}).get(
            "delta.checkpointPolicy", "classic")).lower() == "v2"
        # icebergCompatV2/UniForm require column mapping, and a
        # delta.columnMapping.mode property at CREATE means the table's
        # files must store PHYSICAL names — allocate ids + physical
        # names now (the library's CREATE does the same; UniForm CREATE
        # auto-enables name mode when none was requested)
        props = dict(properties or {})
        ic_on = (_flag(props, "delta.enableIcebergCompatV2")
                 or "iceberg" in str(props.get(
                     "delta.universalFormat.enabledFormats", "")).lower())
        cm_mode = str(props.get("delta.columnMapping.mode",
                                "none")).lower()
        if ic_on and cm_mode == "none":
            cm_mode = "name"
            props["delta.columnMapping.mode"] = "name"
        schema_string = df.schema.json()
        if cm_mode in ("name", "id"):
            alloc = {"max": 0}
            schema_string = json.dumps(_with_column_mapping(
                json.loads(schema_string), alloc))
            props["delta.columnMapping.maxColumnId"] = str(alloc["max"])
            mapping_mode = cm_mode
        # timestamp_ntz columns are a reader+writer FEATURE pair
        # (reader v3 + writer v7): a reader unaware of the type would
        # misinterpret parquet isAdjustedToUTC=false values as
        # session-TZ instants, so the claim is mandatory at CREATE
        ntz_on = _schema_contains_type(json.loads(schema_string),
                                       {"timestamp_ntz"})
        # variant columns are likewise a mandatory reader+writer
        # feature pair (reader v3 + writer v7): a reader unaware of
        # the type would serve the binary encoding as opaque bytes
        var_on = _schema_contains_type(json.loads(schema_string),
                                       {"variant"})
        if (ict_on or dv_on or rt_on or v2cp_on or ntz_on or var_on
                or cluster_by or cm_mode != "none"):
            wf = {"appendOnly", "invariants"}
            rf: set[str] = set()
            if cdf_on:
                wf.add("changeDataFeed")
            if ict_on:
                wf.add("inCommitTimestamp")
            if dv_on:
                wf.add("deletionVectors")
                rf.add("deletionVectors")
            if rt_on:
                wf |= {"rowTracking", "domainMetadata"}
            if v2cp_on:
                wf.add("v2Checkpoint")
                rf.add("v2Checkpoint")
            if cm_mode != "none":
                wf.add("columnMapping")
                rf.add("columnMapping")
            if ntz_on:
                wf.add("timestampNtz")
                rf.add("timestampNtz")
            if var_on:
                wf.add("variantType")
                rf.add("variantType")
            if cluster_by:
                # liquid clustering: the clustering columns live in the
                # delta.clustering domain (emitted below), so both the
                # clustering feature AND domainMetadata are claimed —
                # external writers must preserve the domain, and the
                # bridge's own OPTIMIZE auto-picks the columns up
                wf |= {"clustering", "domainMetadata"}
            if ic_on:
                wf.add("icebergCompatV2")
            proto = {
                "minReaderVersion": 3 if rf else 1,
                "minWriterVersion": 7,
                **({"readerFeatures": sorted(rf)} if rf else {}),
                "writerFeatures": sorted(wf),
            }
        else:
            proto = {
                "minReaderVersion": 1,
                "minWriterVersion": 4 if cdf_on else 2,
            }
        meta = {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": part_cols,
            # table properties land in metaData.configuration — e.g.
            # delta.enableChangeDataFeed=true turns on CDF derivation
            # for every reader of this table (read_delta_changes and
            # delta-spark's table_changes alike). Settable at CREATE
            # only: changing properties later is an ALTER the bridge
            # deliberately does not model.
            "configuration": props,
            "createdTime": int(time.time() * 1000),
        }
        # the same obligations gate CREATE: an icebergCompatV2 table
        # with DVs enabled or an un-stampable array/map schema must
        # refuse at version 0, not at the first later write. Mode
        # "create": version 0 removes nothing, so appendOnly's
        # no-removal rule does not apply to the creating overwrite.
        _check_writer_allowed(proto, meta, "create")
        if cluster_by:
            # CREATE ... CLUSTER BY: the delta.clustering domain records
            # PHYSICAL column names (delta-spark's shape; the round-8
            # mapped-table fix reads them back through phys→logical);
            # compact_delta then auto-clusters OPTIMIZE by them
            phys_by_logical = {
                f_["name"]: (f_.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName", f_["name"])
                for f_ in json.loads(meta["schemaString"])["fields"]
            }
            clustering = ("delta.clustering", json.dumps(
                {"clusteringColumns": [[phys_by_logical[c]]
                                       for c in cluster_by]}))
        snap = (meta, live, -1, {}, proto, {})

    df = _enforce_write_obligations(df, meta)
    # clustered layout for THIS batch (logical names, before the
    # physical projection), as many files as the batch has partitions
    df = cluster_rows(df, cluster_by, cluster_method,
                      max(1, df.rdd.getNumPartitions()) if cluster_by else None)
    new_adds = _stage_files(df, path, meta, mapping_mode)
    if idents:
        upd = _advance_identity_hwm(meta, idents, new_adds)
        if upd is not None:
            meta = upd
            emit_meta = True

    # blind append commutes with concurrent data commits; overwrite
    # read the snapshot it replaces, so any concurrent data change is a
    # real conflict (its removes/result were computed from stale state)
    overwrite = list(live.values()) if mode == "overwrite" else None
    return _occ_commit(
        spark, path, snap,
        "WRITE" if snap[2] >= 0 else "CREATE TABLE AS SELECT",
        {"mode": mode.capitalize()}, {
            # staged adds always carry stats
            "numFiles": str(len(new_adds)),
            "numOutputRows": str(sum(json.loads(a["stats"])["numRecords"]
                                     for a in new_adds)),
            "numOutputBytes": str(sum(a["size"] for a in new_adds)),
        },
        removes=overwrite or (), adds=new_adds,
        metadata=meta if emit_meta else None, domain=clustering,
        txn=(txn_app_id, txn_version) if txn_app_id is not None else None,
        read=overwrite, checkpoint_interval=checkpoint_interval)


def _flag(conf: dict | None, key: str) -> bool:
    """A boolean table property (or field-metadata flag): true only
    when set to ``true`` in any case; absent means false."""
    return str((conf or {}).get(key, "false")).lower() == "true"


def _auto_compact_enabled(conf: dict) -> bool:
    return str(conf.get("delta.autoOptimize.autoCompact",
                        "false")).lower() in ("true", "auto")


def _maybe_auto_compact(spark: SparkSession, path: str,
                        new_adds: list[dict]) -> None:
    """Post-commit auto-compaction — the data-file twin of the
    post-checkpoint log cleanup: a ``delta.autoOptimize.autoCompact``
    table written one micro-batch at a time grows one small file per
    commit, and scan cost follows FILE COUNT, not bytes. After a
    write lands, the partitions it touched are checked for small-file
    buildup and bin-packed in a ``dataChange: false`` OPTIMIZE commit
    (streaming readers skip it; ``operationParameters.auto=true`` is
    delta-spark's marker for these commits).

    Thresholds follow delta-spark's session confs when set —
    ``spark.databricks.delta.autoCompact.minNumFiles`` (default 50
    qualifying files before a rewrite triggers, so steady-state write
    amplification is bounded: each row is rewritten ~1/minNumFiles
    times per cycle) and ``…autoCompact.maxFileSize`` (default 128
    MiB: both the small-file cutoff and the rewrite's byte-sized
    output target). Scope is the TOUCHED partitions only — on a
    100k-partition table the maintenance read is still proportional
    to this commit, not the table.

    Best-effort BY DESIGN: the data commit has already landed, so a
    maintenance failure (e.g. a racing writer producing a genuine OCC
    conflict) logs and returns — delta-spark's auto compaction
    likewise never fails the triggering write. The rewrite itself
    never recurses (compact_delta does not auto-compact)."""
    try:
        def _conf_int(key: str, default: int) -> int:
            try:
                v = spark.conf.get(key, None)
                return int(v) if v is not None else default
            except Exception:
                return default

        min_files = _conf_int(
            "spark.databricks.delta.autoCompact.minNumFiles", 50)
        max_size = _conf_int(
            "spark.databricks.delta.autoCompact.maxFileSize", 128 << 20)
        touched = {tuple(sorted((a.get("partitionValues") or {}).items()))
                   for a in new_adds}

        def _candidate(a: dict) -> bool:
            pv = tuple(sorted((a.get("partitionValues") or {}).items()))
            return pv in touched and int(a.get("size") or 0) < max_size

        compact_delta(spark, path, only=_candidate,
                      min_input_files=min_files,
                      target_size=max_size, auto=True)
    except Exception as e:
        _log.warning("auto-compact at %s skipped: %s", path, e)


def merge_delta(source: DataFrame, path: str, condition: str,
                when_matched_update: dict[str, object] | None = None,
                matched_condition: str | None = None,
                insert_not_matched: bool = True,
                num_partitions: int | None = None,
                validate_unique_match: bool = True,
                checkpoint_interval: int | None = 10,
                when_matched_delete: str | None = None,
                when_not_matched_by_source_delete: str | None = None) -> int:
    """Delta-style ``MERGE INTO`` a bridge Delta table — the write-side
    op that lets the reference's S4 workhorse (``DeltaLakeMergeLoad``,
    scd2-job.ipynb:337-354) target the very Delta tables the bridge
    writes. Same config surface as :meth:`VersionedTable.merge` (the
    branch semantics are literally shared —
    :func:`~sql_based_etl_spark.tables.versioned.build_merge_annotated`).

    Physical shape (copy-on-write at file granularity, the same plan
    that keeps VersionedTable merges 100 TB-viable):

    1. one join over ``input_file_name()`` (the find-files pass shared
       with the native format,
       :func:`~sql_based_etl_spark.tables.versioned.matched_files`)
       finds the live files containing condition-matched rows and, with
       ``validate_unique_match``, fails when a target row matches
       several source rows — everything else is untouched (no
       tombstone, no rewrite; a merge touching 1 of N files rewrites
       ~1 file);
    2. only those files join the source (full-outer) and are rewritten
       with the update / insert branches applied — a source row
       matching nothing in the matched subset matches nothing globally,
       so insert routing over the subset is exact;
    3. the commit is ``remove`` (matched files, ``dataChange: true``,
       partitionValues + size riding the tombstone) + ``add`` (rewritten
       files) through the same atomic put-if-absent publish as every
       bridge commit — a racing committer loses loudly.

    Change data feed: when the table has
    ``delta.enableChangeDataFeed=true``, the commit carries REAL ``cdc``
    actions (``_change_data/`` parquet with ``_change_type`` ∈
    {update_preimage, update_postimage, insert}) — the spec's writer
    obligation for row-level DML, and what keeps external CDF readers
    from deriving whole-file delete+insert churn out of the rewrite.
    A merge that updates, deletes and inserts NOTHING commits nothing
    and returns the current version — rewriting files byte-identically
    would be pure churn (and a CDF lie).

    Delete clauses (delta-spark's full MERGE surface): see
    :func:`~sql_based_etl_spark.tables.versioned.build_merge_annotated`
    — ``when_matched_delete`` runs before the update clause (the
    op='D'-first CDC-apply shape); ``when_not_matched_by_source_delete``
    inspects every target row and therefore widens the rewrite set to
    ALL live files, the same full-table cost delta-spark pays for it.
    Deleted rows appear in the change feed as ``delete`` rows.

    Column-mapped tables (both modes) merge like any other: the match
    and branch semantics run over LOGICAL names (the snapshot read
    projects physical→logical), and the rewritten data + cdc files are
    projected back to physical names before staging. Tables with live
    deletion vectors merge too: the snapshot read filters DV'd rows
    (a deleted row is not matchable — the library's semantics), the
    rewrite materializes the DV (dead rows are physically dropped from
    the rewritten files, which carry no DV), and each tombstone carries
    the removed file's DV descriptor so reconciliation by
    (path, DV uid) cancels the right action.

    Write-side gates (same fail-loud contract as :func:`write_delta`):
    appendOnly tables and writer features the bridge cannot honor
    raise.

    Returns the committed version (or the unchanged current version for
    a no-op merge)."""
    from pyspark.sql.types import StructType

    from sql_based_etl_spark.engine.sql_compat import coerce_condition_for_types
    from sql_based_etl_spark.tables.versioned import build_merge_annotated

    spark = source.sparkSession
    path = path.rstrip("/")
    snap = _replay_state(spark, path)
    meta, live, latest, _, proto, _ = snap
    _check_writer_allowed(proto, meta, "merge")
    conf = meta.get("configuration") or {}
    mapping_mode = conf.get("delta.columnMapping.mode", "none")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    t_cols = [f.name for f in schema.fields]
    cdf = _flag(conf, "delta.enableChangeDataFeed")
    # fast path: a PURE-DELETE merge (delete clause only — no update
    # map, no inserts, no by-source clause) on a DV-enabled table
    # attaches deletion vectors instead of rewriting the matched files
    # — the CDC delete-apply shape at 100 TB: work ∝ matched rows, not
    # touched-file bytes, and row ids stay put without materialization
    if (when_matched_delete is not None and when_matched_update is None
            and not insert_not_matched
            and when_not_matched_by_source_delete is None
            and _flag(conf, "delta.enableDeletionVectors")
            and "deletionVectors" in set(
                (proto or {}).get("writerFeatures") or [])):
        return _merge_delete_dv(
            source, path, snap, condition, when_matched_delete,
            validate_unique_match, checkpoint_interval, cdf,
            mapping_mode, t_cols, schema)

    # enableRowTracking: the rewrite must keep every surviving row's id
    # — materialize (id, commit version) into the config-named physical
    # columns. Updated rows get a NULL materialized version (their last
    # modification IS this commit — add.defaultRowCommitVersion
    # resolves it); inserted rows get NULL both (fresh = baseRowId +
    # position). Carried rows keep both materialized.
    rt_stable = _flag(conf, "delta.enableRowTracking")
    rt_pass: list[str] = []
    emit_meta = False
    if rt_stable:
        meta, rt_id, rt_ver, rt_changed = _rt_materialized_cols(meta)
        emit_meta = emit_meta or rt_changed
        rt_pass = [rt_id, rt_ver]
    # identity columns inside MERGE: inserted rows with a NULL (or
    # omitted) identity get fresh values beyond the high watermark —
    # the same gap-tolerant allocation as appends; matched rows keep
    # theirs. GENERATED ALWAYS refuses a source that supplies the
    # column, and the update map must never touch one (the library's
    # rule: identity values are immutable once assigned).
    idents = _identity_columns(meta)
    for ident in idents:
        if not ident["explicit"] and ident["name"] in source.columns:
            raise VersionedTableError(
                f"merge_delta: identity column {ident['name']!r} is "
                "GENERATED ALWAYS (allowExplicitInsert=false); omit it "
                "from the source and the bridge allocates inserts"
            )
        if ident["name"] in (when_matched_update or {}):
            raise VersionedTableError(
                f"merge_delta: identity column {ident['name']!r} cannot "
                "be updated — identity values are immutable once assigned"
            )

    # Spark-4 compat: rewrite boolean literals compared to non-boolean
    # columns (scd2-job.ipynb:346's `target.iscurrent = true` against an
    # INTEGER column) — needed here because the condition drives the
    # matched-file join too, not just the merge branches.
    dtmap = {"target": {f.name: f.dataType.simpleString() for f in schema.fields},
             "source": dict(source.dtypes)}
    condition = coerce_condition_for_types(condition, dtmap)

    # Predicate-scoped read footprint: the ON condition reduced to what
    # it implies over the file-decidable target columns (partition
    # values + stats envelopes; `target.p = 'A' AND ...` pins p, ORs
    # and NOTs keep their shape) bounds what this merge READ. It prunes
    # the matched-file scan driver-side (files provably outside the
    # predicate are never opened — the partition-scoped merge of a
    # 100 TB table scans one partition, not the table) and scopes OCC:
    # a concurrent append to a DIFFERENT partition commutes instead of
    # raising ConcurrentAppendError (delta-spark's own refinement; the
    # reference's concurrent scheduled jobs,
    # scd2-job-scheduler.yaml:15-48). A not-matched-by-source clause
    # inspects EVERY target row — rows in pruned files would be
    # silently kept alive — so it disables both.
    read_tree = None
    if not when_not_matched_by_source_delete:
        read_tree = _condition_scope_tree(condition, t_cols, "target")
    scan_live = _prune_by_tree(meta, live, read_tree)

    matched_keys: list[str] = []
    if scan_live and (validate_unique_match
                      or not when_not_matched_by_source_delete):
        # the shared find-files pass; the by-source clause rewrites every
        # live file anyway, so there it only validates the unique match
        matched_keys = matched_files(
            _snapshot_df(spark, path, meta, scan_live),
            _uri_keys(spark, path, scan_live),
            source, condition, validate_unique_match)
    if when_not_matched_by_source_delete:
        matched_keys = sorted(live)  # clause touches every target row
    matched = {k: live[k] for k in matched_keys}

    subset = (_snapshot_with_row_ids(spark, path, meta, matched,
                                     rt_id, rt_ver)
              if rt_stable else _snapshot_df(spark, path, meta, matched))
    annotated = build_merge_annotated(
        subset, source, condition,
        when_matched_update=when_matched_update,
        matched_condition=matched_condition,
        insert_not_matched=insert_not_matched,
        when_matched_delete=when_matched_delete,
        when_not_matched_by_source_delete=when_not_matched_by_source_delete,
    )
    # One persist, three consumers (change counts, data files, cdc
    # files) — the cached slice is exactly the rewritten subset, the
    # same bytes about to be written, so this re-runs the full-outer
    # join once instead of thrice; bounded by matched files + source,
    # never the whole table.
    annotated = annotated.persist()
    try:
        counts = annotated.agg(
            F.sum(F.col("__updated").cast("long")).alias("u"),
            F.sum(F.col("__inserted").cast("long")).alias("i"),
            F.sum(F.col("__deleted").cast("long")).alias("d"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        n_upd, n_ins, n_del = (int(counts["u"] or 0), int(counts["i"] or 0),
                               int(counts["d"] or 0))
        if n_upd == 0 and n_ins == 0 and n_del == 0:
            # nothing changed: a byte-identical rewrite would be churn
            # for every downstream (and force fabricated CDF) — no-op
            return latest

        ident_by = {i["name"]: i for i in idents}
        sel = []
        for c in t_cols:
            if c in ident_by:
                ident = ident_by[c]
                base = (ident["hwm"] if ident["hwm"] is not None
                        else ident["start"] - ident["step"])
                alloc = (F.lit(base) + F.lit(ident["step"])
                         * (F.monotonically_increasing_id() + 1)).cast("long")
                sel.append(
                    F.when(F.col("__inserted") & F.col(c).isNull(), alloc)
                    .otherwise(F.col(c)).alias(c))
            else:
                sel.append(F.col(c))
        if rt_stable:
            sel.append(F.col(rt_id))
            sel.append(
                F.when(F.col("__updated"), F.lit(None).cast("long"))
                .otherwise(F.col(rt_ver)).alias(rt_ver))
        # Identity allocation happens HERE, before the rewrite and the
        # change feed split: CDF 'insert' rows must carry the SAME
        # allocated values the data files do (staging them from the
        # pre-allocation `annotated` fed NULL identities to downstream
        # CDC consumers). `resolved` keeps the merge markers and
        # preimages so both consumers read one relation; it is persisted
        # when both exist because monotonically_increasing_id is only
        # consistent across the two staging jobs once materialized.
        carry = [F.col(c) for c in ("__updated", "__inserted", "__deleted")]
        if cdf:
            carry.extend(F.col(f"__pre_{c}") for c in t_cols)
        resolved = annotated.select(*sel, *carry)
        if idents and cdf:
            resolved = resolved.persist()
        out_cols = list(t_cols) + ([rt_id, rt_ver] if rt_stable else [])
        result = resolved.filter(~F.col("__deleted")).select(*out_cols)
        # merge keeps every table column, so obligations VALIDATE here
        # (a merge that would leave a generated column inconsistent with
        # its expression refuses, naming the column — include it in the
        # update map to keep it consistent; the library recomputes it)
        result = _enforce_write_obligations(result, meta)
        if num_partitions:
            result = result.repartition(int(num_partitions))
        elif matched:
            # default the rewrite width to the touched-file count: the
            # full-outer join leaves spark.sql.shuffle.partitions output
            # partitions, so a merge touching 1 of N files would emit
            # shuffle-partition-many small files — file-count bloat that
            # compounds per merge at 100 TB (round-9 audit: 1 removed →
            # 8 added before this). Insert-heavy merges that legitimately
            # grow the data should pass num_partitions explicitly; a
            # NO-MATCH insert-only merge keeps its natural width (a
            # coalesce(1) there would funnel millions of inserted rows
            # through one write task).
            result = result.coalesce(len(matched))
        new_adds = _stage_files(result, path, meta, mapping_mode,
                                passthrough=tuple(rt_pass))
        if idents:
            upd = _advance_identity_hwm(meta, idents, new_adds)
            if upd is not None:
                meta = upd
                emit_meta = True

        # inserts come from the post-allocation relation so the change
        # feed shows allocated identity values, not NULLs
        cdc_adds = _stage_changes({
            "update_preimage": resolved.filter("__updated").select(*[
                F.col(f"__pre_{c}").alias(c) for c in t_cols]),
            "update_postimage": resolved.filter("__updated").select(*t_cols),
            "insert": resolved.filter("__inserted").select(*t_cols),
            "delete": resolved.filter("__deleted").select(*[
                F.col(f"__pre_{c}").alias(c) for c in t_cols]),
        }, meta, mapping_mode, path) if cdf else []
    finally:
        annotated.unpersist()
        try:
            resolved.unpersist()
        except NameError:
            pass

    # MERGE read the candidate files its ON condition's scope tree
    # could touch (scan_live — all live files when the tree is
    # vacuous), so a concurrent data add conflicts only when it may
    # intersect that read predicate; commitInfo-only and disjoint
    # dataChange=false winners (vacuum, compact of untouched files)
    # commute. First rowTracking materialization records the column
    # names in metaData; identity merges re-record the high watermark.
    return _occ_commit(
        spark, path, snap, "MERGE", {"predicate": condition},
        _merge_metrics(n_upd, n_ins, n_del, len(matched), len(new_adds)),
        removes=matched.values(), adds=new_adds, cdc=cdc_adds,
        metadata=meta if emit_meta else None,
        read=scan_live.values(), read_tree=read_tree,
        checkpoint_interval=checkpoint_interval)


def _merge_metrics(n_upd: int, n_ins: int, n_del: int, n_removed: int,
                   n_added: int) -> dict[str, str]:
    return {
        "numTargetRowsUpdated": str(n_upd),
        "numTargetRowsInserted": str(n_ins),
        "numTargetRowsDeleted": str(n_del),
        "numTargetFilesRemoved": str(n_removed),
        "numTargetFilesAdded": str(n_added),
    }


def _dv_partition_kernel(table_path: str, file_info: dict,
                         encode: bool = True):
    """``mapInPandas`` kernel factory for the distributed DV writer:
    input rows are hash-partitioned by ``__file`` and sorted by
    (``__file``, ``__ridx``) within each partition, so every file's
    matched row indexes arrive contiguously. Per FILE: bitmap-encode
    the new indexes, union with the file's existing DV (decoded
    executor-side by :func:`_dv_row_indexes` — the old DV's raw
    indexes NEVER visit the driver), fail loudly on overlap (the
    snapshot read filters dead rows, so an overlap is an invariant
    breach), and detect fully-dead files (union cardinality reaches
    physical ``numRecords`` → remove-only, no payload written). Per
    PARTITION: all surviving payloads pack into ONE
    ``deletion_vector_<uuid>.bin`` (the library writer's per-task
    sidecar shape; 1-byte version, per DV 4-byte BE size + payload +
    4-byte BE CRC-32), written whole BEFORE any descriptor row leaves
    the kernel. The driver receives ONLY descriptor rows — uuid,
    offset, size, cardinalities — never payload bytes.

    ``file_info``: normalized file URI → ``{"dv": old descriptor or
    None, "rows": physical numRecords or None}`` (metadata-scale,
    bounded by candidate files)."""

    def kernel(batches):
        import uuid as uuid_mod
        import zlib

        import numpy as np
        import pandas as pd

        u = uuid_mod.uuid4()
        buf = bytearray(b"\x01")
        rows_out: list[tuple] = []
        cur: str | None = None
        chunks: list = []

        def flush():
            nonlocal cur, chunks
            if cur is None:
                return
            idx = np.unique(np.concatenate(chunks).astype(np.int64))
            new_card = len(idx)
            if not encode:
                # matched-file detection + counts only (the cow route
                # rewrites survivors — no bitmaps, no sidecars)
                rows_out.append((cur, new_card, new_card, "", -1, -1))
                cur, chunks = None, []
                return
            info = file_info.get(_norm_file_uri(cur)) or {}
            old_dv = info.get("dv")
            if old_dv:
                old_idx = _dv_row_indexes(None, table_path, old_dv)
                union = np.union1d(old_idx, idx)
                if len(union) != len(old_idx) + len(idx):
                    raise VersionedTableError(
                        f"new deletion indexes overlap the live DV of "
                        f"{cur!r} — the snapshot read failed to filter "
                        "dead rows"
                    )
                idx = union
            card = len(idx)
            phys = info.get("rows")
            if phys is not None and card >= int(phys):
                # fully dead: remove-only, no payload persisted
                rows_out.append((cur, new_card, card, "", -1, -1))
            else:
                payload = _roaring_array_serialize(idx)
                off = len(buf)
                buf.extend(len(payload).to_bytes(4, "big"))
                buf.extend(payload)
                buf.extend((zlib.crc32(payload) & 0xFFFFFFFF)
                           .to_bytes(4, "big"))
                rows_out.append((cur, new_card, card, u.hex, off,
                                 len(payload)))
            cur, chunks = None, []

        for pdf in batches:
            fnames = pdf["__file"].to_numpy()
            ridx = pdf["__ridx"].to_numpy()
            i = 0
            n = len(fnames)
            while i < n:
                j = i
                while j < n and fnames[j] == fnames[i]:
                    j += 1
                if cur is not None and fnames[i] != cur:
                    flush()
                cur = fnames[i]
                chunks.append(ridx[i:j])
                i = j
        flush()
        if any(r[4] >= 0 for r in rows_out):
            files.write_bytes(
                None, f"{table_path}/deletion_vector_{u}.bin", bytes(buf))
        if rows_out:
            yield pd.DataFrame(
                rows_out,
                columns=["file", "new_card", "card", "uid", "offset",
                         "size"])

    return kernel


def _dv_match_payloads(spark: SparkSession, path: str,
                       live: dict[str, dict], hits: DataFrame,
                       op: str, encode: bool = True):
    """The shared row-level-DML core, DISTRIBUTED: a tagged ``hits``
    frame (``__file``/``__ridx`` + table columns) → committed
    per-partition DV sidecars + descriptors. One exchange hash-
    partitions the matched rows by file; each non-empty partition's
    kernel (:func:`_dv_partition_kernel`) encodes bitmaps, unions with
    existing DVs (old payloads read executor-side — raw indexes never
    visit the driver), and writes ONE ``.bin`` per partition. The
    driver collects DESCRIPTOR rows only (uuid/offset/size/cardinality
    — O(files), not O(deleted rows)), maps them back to live adds, and
    returns ``(matched adds by key, [(key, descriptor-or-None)],
    n_deleted)`` or None when nothing matched; a None descriptor means
    the file is fully dead (remove-only)."""
    uri_keys = _uri_keys(spark, path, live)
    file_info: dict[str, dict] = {}
    for uri, k in uri_keys.items():
        a = live[k]
        try:
            phys = (json.loads(a["stats"])["numRecords"]
                    if a.get("stats") else None)
        except (KeyError, TypeError, ValueError):
            phys = None
        file_info[_norm_file_uri(uri)] = {"dv": a.get("deletionVector"),
                                          "rows": phys}

    desc_rows = (
        hits.select("__file", "__ridx")
        .repartition("__file")
        .sortWithinPartitions("__file", "__ridx")
        .mapInPandas(
            _dv_partition_kernel(files.local_path(spark, path) or path,
                                 file_info, encode),
            "file string, new_card long, card long, uid string, "
            "offset long, size long")
        .collect()
    )
    if not desc_rows:
        return None
    import uuid as uuid_mod

    n_del = sum(int(r["new_card"]) for r in desc_rows)
    matched: dict[str, dict] = {}
    descs: list[tuple[str, dict | None]] = []
    keys = map_back(uri_keys, (r["file"] for r in desc_rows), op)
    for key, r in zip(keys, desc_rows):
        matched[key] = live[key]
        if not r["uid"]:
            descs.append((key, None))  # fully dead: remove only
            continue
        descs.append((key, {
            "storageType": "u",
            "pathOrInlineDv": _z85_encode(uuid_mod.UUID(hex=r["uid"]).bytes),
            "offset": int(r["offset"]),
            "sizeInBytes": int(r["size"]),
            "cardinality": int(r["card"]),
        }))
    return matched, descs, n_del


def _dv_new_adds(spark: SparkSession, path: str, matched: dict[str, dict],
                 descs: list[tuple[str, dict | None]]) -> list[dict]:
    """Re-``add`` actions carrying the kernel-written DV descriptors
    (:func:`_dv_match_payloads` — sidecars are already on disk,
    published before the log commit that references them; this is pure
    driver-side action assembly). A None descriptor is a fully-dead
    file: NO add, its remove stands alone. Stats keep the physical
    ``numRecords`` with ``tightBounds: false`` — bounds are now a
    superset of live rows, which every stats consumer here treats
    conservatively."""
    new_adds: list[dict] = []
    for key, desc in descs:
        if desc is None:
            continue
        a = dict(matched[key])
        a["deletionVector"] = desc
        a["dataChange"] = True
        if a.get("stats"):
            try:
                st = json.loads(a["stats"])
                st["tightBounds"] = False
                a["stats"] = json.dumps(st)
            except (TypeError, ValueError):
                pass
        new_adds.append(a)
    return new_adds


def _merge_delete_dv(source: DataFrame, path: str, snap: tuple,
                     condition: str, when_matched_delete: str,
                     validate_unique_match: bool,
                     checkpoint_interval: int | None, cdf: bool,
                     mapping_mode: str, t_cols: list[str], schema) -> int:
    """:func:`merge_delta`'s pure-delete fast path on DV-enabled
    tables: matched rows satisfying the delete clause become deletion
    vectors — the data files are never rewritten. Semantics match the
    slow path exactly: the delete gate is ``matched AND
    when_matched_delete`` (NULL = not deleted), unique-match validation
    errors like delta's, CDF tables get real ``cdc`` delete rows, and
    a merge deleting nothing commits nothing. ``matched_condition``
    gates only the (absent) update clause, so it is ignored — the slow
    path's behavior too."""
    from sql_based_etl_spark.engine.sql_compat import (
        coerce_condition_for_types,
    )

    spark = source.sparkSession
    meta, live, latest = snap[:3]
    dtmap = {"target": {f.name: f.dataType.simpleString()
                        for f in schema.fields},
             "source": dict(source.dtypes)}
    condition = coerce_condition_for_types(condition, dtmap)
    wmd = coerce_condition_for_types(when_matched_delete, dtmap)
    if not live:
        return latest
    # same predicate-scoped footprint as the slow path: the ON
    # condition's scope tree prunes the scan and scopes OCC (a
    # pure-delete merge has no by-source clause by definition)
    read_tree = _condition_scope_tree(condition, t_cols, "target")
    scan_live = _prune_by_tree(meta, live, read_tree)
    if not scan_live:
        return latest  # predicate provably matches no live file
    tagged = _snapshot_df(spark, path, meta, scan_live,
                          tag_rows=True).alias("target")
    # matched pairs only (the inner join bounds it to matches) — up to
    # three consumers in separate jobs (unique-match count, bitmap
    # encode, cdc staging); persist so the snapshot×source join runs
    # once, mirroring the slow path's annotated.persist()
    pairs = tagged.join(source.alias("source"), F.expr(condition),
                        "inner").persist()
    try:
        if validate_unique_match:
            dup = (pairs.groupBy("__file", "__ridx").count()
                   .filter(F.col("count") > 1).limit(1).count())
            if dup:
                raise VersionedTableError(
                    "merge: multiple source rows match a single target row"
                )
        hits = (
            pairs.filter(
                F.coalesce(F.expr(wmd).cast("boolean"), F.lit(False)))
            .select("__file", "__ridx",
                    *[F.col(f"target.{c}").alias(c) for c in t_cols])
            .dropDuplicates(["__file", "__ridx"])
        )
        res = _dv_match_payloads(spark, path, live, hits, "merge_delta")
        if res is None:
            return latest  # nothing deleted: commit would be pure churn
        matched, dv_descs, n_del = res
        new_adds = _dv_new_adds(spark, path, matched, dv_descs)
        cdc_adds = (_stage_changes({"delete": hits.select(*t_cols)}, meta,
                                   mapping_mode, path) if cdf else [])
    finally:
        pairs.unpersist()
    # the re-added files are byte-identical: their baseRowId /
    # defaultRowCommitVersion ride the copied action verbatim
    return _occ_commit(
        spark, path, snap, "MERGE", {"predicate": condition},
        {**_merge_metrics(0, 0, n_del, len(matched), len(new_adds)),
         "numTargetDeletionVectorsAdded": str(len(new_adds))},
        removes=matched.values(), adds=new_adds, cdc=cdc_adds,
        read=scan_live.values(), read_tree=read_tree,
        checkpoint_interval=checkpoint_interval)


def delete_delta(spark: SparkSession, path: str,
                 predicate: str | list[tuple],
                 checkpoint_interval: int | None = 10) -> int:
    """Row-level ``DELETE FROM <table> WHERE <predicate>`` on a bridge
    Delta table — with DELETION-VECTOR writes when the table enables
    them, copy-on-write otherwise.

    ``predicate`` is a Spark SQL string, or the same
    ``(column, op, literal)`` conjunction grammar as
    ``read_delta(where=...)``. Either form ALSO prunes candidate files
    driver-side from per-file stats/partition values before any data
    file opens (:func:`_tree_may_match` over the predicate's scope
    tree), so a selective delete on a stats-carrying (e.g. z-ordered)
    100 TB table scans only the files the predicate can live in,
    exactly like the pruned read. Files kept conservatively never
    mis-delete: the full predicate still gates every row.

    Why DVs matter at 100 TB: a predicate deleting 0.1% of rows under
    copy-on-write rewrites every TOUCHED FILE end-to-end — data moved
    is proportional to touched-file bytes, not matched rows. With
    ``delta.enableDeletionVectors=true`` the data files are left
    BYTE-UNTOUCHED; the commit attaches a roaring-bitmap descriptor
    per touched file (``remove``+``add`` of the SAME path, reconciled
    by (path, DV uid) — the read side of this bridge has decoded these
    since round 7, :func:`_dv_row_indexes`). Work is proportional to
    matched rows: one filtered scan to find them, one KB-scale bitmap
    sidecar write, one log commit.

    Physical shape, DV route (the library writer's own):

    1. one tagged snapshot scan (``_metadata.file_path`` +
       ``row_index`` captured at the scan; the predicate is pushed
       into it) finds matched rows; rows already dead under a live DV
       are filtered out first, so re-deleting is impossible;
    2. matched rows hash-partition by file; each partition's kernel
       (:func:`_dv_partition_kernel`) serializes roaring bitmaps,
       unions with any existing DV of the same file EXECUTOR-side
       (old payloads read in the Python worker — raw indexes never
       visit the driver), and writes ONE ``deletion_vector_<uuid>.bin``
       per partition (1-byte format version, then per DV: 4-byte BE
       size + payload + 4-byte BE CRC-32 — the framing
       :func:`_dv_row_indexes` already validates), published BEFORE
       the log commit (an orphan sidecar from a crashed commit or
       task retry is harmless);
    3. the driver collects DESCRIPTOR rows only — uuid/offset/size/
       cardinality, O(touched files), never payload bytes, so a
       mega-delete's driver cost is flat in deleted rows;
    4. the commit is ``remove``(path, old DV uid) + ``add``(same path,
       new DV descriptor, ``tightBounds: false`` stats) per touched
       file — a file whose union cardinality reaches its physical
       ``numRecords`` is fully dead and gets ONLY the remove (the
       library's shape; vacuum reclaims it after retention);
    5. with ``delta.enableChangeDataFeed=true`` the deleted rows also
       land as real ``cdc`` files (``_change_type='delete'``).

    Copy-on-write route (DVs not enabled): the same tagged scan picks
    the touched files; ONLY those are rewritten without their matched
    rows (surviving = predicate not definitively TRUE — SQL DELETE
    semantics: a NULL predicate keeps the row), committed as
    ``remove``+``add`` with CDF delete rows when enabled. Untouched
    files are never read past the pruned scan.

    Row tracking: the DV route never rewrites a file, so
    ``baseRowId``/``defaultRowCommitVersion`` ride the re-added action
    verbatim and every surviving row keeps its id — no materialization
    needed, enableRowTracking tables take DV deletes as-is. The
    copy-on-write route on such tables MATERIALIZES survivors'
    (row id, commit version) into the config-named physical columns,
    the same machinery as rowTracking MERGE/OPTIMIZE
    (:func:`_snapshot_with_row_ids`).

    Time travel: older versions replay the pre-delete (path, DV uid)
    actions and see every row. Returns the committed version, or the
    current version unchanged when nothing matches.

    Delta-parity reference: delta-spark's ``DeleteCommand`` with
    deletion vectors (scd2-job.ipynb:153's table format is Delta; this
    is the write half of the DV support the reference ecosystem
    expects)."""
    from pyspark.sql.types import StructType

    path = path.rstrip("/")
    snap = _replay_state(spark, path)
    meta, live, latest, _, proto, _ = snap
    _check_writer_allowed(proto, meta, "delete")
    conf = meta.get("configuration") or {}
    mapping_mode = conf.get("delta.columnMapping.mode", "none")
    cdf = _flag(conf, "delta.enableChangeDataFeed")
    dv_mode = _flag(conf, "delta.enableDeletionVectors")
    if dv_mode:
        feats = set((proto or {}).get("writerFeatures") or [])
        rfeats = set((proto or {}).get("readerFeatures") or [])
        if "deletionVectors" not in feats or (
                int((proto or {}).get("minReaderVersion", 1)) >= 3
                and "deletionVectors" not in rfeats):
            raise VersionedTableError(
                "delete_delta: delta.enableDeletionVectors=true but the "
                "protocol does not claim the deletionVectors feature — "
                "a bridge table carries the claim from CREATE; this log "
                "was edited or written by a non-compliant engine"
            )
    # enableRowTracking composes with both routes: the DV route never
    # rewrites a file (ids stay put by construction); the cow route
    # materializes survivors' (id, commit version) like compact does
    rt_stable = _flag(conf, "delta.enableRowTracking")
    rt_pass: list[str] = []
    emit_meta = False
    if rt_stable and not dv_mode:
        meta, rt_id, rt_ver, rt_changed = _rt_materialized_cols(meta)
        emit_meta = rt_changed
        rt_pass = [rt_id, rt_ver]
    if not live:
        return latest
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    t_cols = schema.fieldNames()
    cond, pred_str, read_tree = _dml_predicate(predicate, schema)

    # files provably excluded by stats/partition values never open —
    # the candidate scan is proportional to matching files, not table
    # size (the same _tree_may_match the pruned read pins with an IO
    # test)
    scan_adds = _prune_by_tree(meta, live, read_tree)
    if not scan_adds:
        return latest  # predicate provably matches no live file
    tagged = _snapshot_df(spark, path, meta, scan_adds, tag_rows=True)
    # matched rows only (bounded by deleted rows), consumed by TWO
    # separate jobs — the bitmap-encode collect and the cdc staging —
    # so the pruned scan + predicate runs once, not per consumer (the
    # same cross-job recompute the round-9 dedup persist fixed)
    hits = tagged.filter(cond).persist()  # TRUE only — NULL survives
    try:
        res = _dv_match_payloads(spark, path, live, hits, "delete_delta",
                                 encode=dv_mode)
        if res is None:
            return latest  # nothing matched: commit would be pure churn
        matched, dv_descs, n_del = res
        if dv_mode:
            new_adds = _dv_new_adds(spark, path, matched, dv_descs)
        else:
            # copy-on-write: rewrite ONLY the touched files without
            # their matched rows (NULL predicate keeps the row — SQL
            # semantics); rowTracking survivors carry materialized ids
            sub = (_snapshot_with_row_ids(spark, path, meta, matched,
                                          rt_id, rt_ver)
                   if rt_stable else
                   _snapshot_df(spark, path, meta, matched, tag_rows=False))
            survivors = sub.filter(
                ~F.coalesce(cond.cast("boolean"), F.lit(False))
            ).select(*t_cols, *rt_pass)
            new_adds = _stage_files(survivors, path, meta, mapping_mode,
                                    passthrough=tuple(rt_pass))
        cdc_adds = (_stage_changes({"delete": hits.select(*t_cols)}, meta,
                                   mapping_mode, path) if cdf else [])
    finally:
        hits.unpersist()

    # DELETE read the candidate files its predicate could touch (the
    # pruned set — files provably excluded contain no matching rows,
    # so a winner touching only those commutes); concurrent appends
    # conflict only when the added files may fall INSIDE the predicate
    # (its scope tree — an append to a different partition commutes).
    # DV route: baseRowId/defaultRowCommitVersion ride the re-added
    # action verbatim ({**matched[key]} copies them) — fresh assignment
    # would break the stable-id promise the DV route exists to keep
    return _occ_commit(
        spark, path, snap, "DELETE", {"predicate": pred_str}, {
            "numDeletedRows": str(n_del),
            "numRemovedFiles": str(len(matched)),
            "numAddedFiles": str(len(new_adds)),
            "numDeletionVectorsAdded": str(len(new_adds) if dv_mode else 0),
        },
        removes=matched.values(), adds=new_adds, cdc=cdc_adds,
        metadata=meta if emit_meta else None,
        read=scan_adds.values(), read_tree=read_tree,
        checkpoint_interval=checkpoint_interval)


def _dml_predicate(predicate, schema) -> tuple:
    """DELETE's and UPDATE's predicate — a SQL string or the
    ``read_delta(where=...)`` filter list — over the table ``schema``
    as ``(row condition, SQL text, scope tree)``. A string gets the BooleanEquality
    coercion of merge conditions (``iscurrent = true`` against an int
    column behaves the same in MERGE, DELETE and UPDATE); either form's
    scope tree prunes candidate files driver-side and scopes OCC, while
    the full condition still gates every row."""
    from sql_based_etl_spark.engine.sql_compat import (
        coerce_predicate_for_types,
    )

    if not isinstance(predicate, str):
        filters = normalize_filters(predicate)
        return (filters_column(filters), filters_sql(filters),
                filters_tree(filters))
    pred = coerce_predicate_for_types(
        predicate, {f.name: f.dataType.simpleString() for f in schema.fields})
    return (F.expr(pred), pred,
            _condition_scope_tree(pred, schema.fieldNames(), None))


def _stage_changes(changes: dict[str, DataFrame], meta: dict,
                   mapping_mode: str, path: str) -> list[dict]:
    """Stage change rows as ``_change_data/`` files — the CDF writer
    obligation of merge, update and both delete routes. ``changes`` maps
    a ``_change_type`` to rows of the table's data columns, stored under
    the same (physical, on mapped tables) names as data files;
    ``_change_type`` is not a table column and is stored verbatim — the
    library's shape."""
    rows = _functools.reduce(DataFrame.unionByName, [
        df.withColumn("_change_type", F.lit(ctype))
        for ctype, df in changes.items()])
    return _stage_files(rows, path, meta, mapping_mode,
                        passthrough=("_change_type",), subdir="_change_data")


def update_delta(spark: SparkSession, path: str,
                 predicate, set: dict[str, object],
                 num_partitions: int | None = None,
                 checkpoint_interval: int | None = 10) -> int:
    """``UPDATE <table> SET ... WHERE ...`` on a bridge Delta table —
    the standalone row-update surface (delta-spark's
    ``DeltaTable.update`` / UpdateCommand), file-granular
    copy-on-write like MERGE's matched path but with no source
    relation: SET expressions evaluate against each row's own
    PRE-update values.

    Scale shape, same as DELETE's cow route: the predicate's scope
    tree prunes the candidate scan driver-side from per-file
    stats/partition values, a tagged scan of the CANDIDATES finds the
    files actually holding matched rows, and only those files rewrite
    — work is proportional to touched files, never table size.
    ``predicate`` is a SQL string
    (BooleanEquality-coerced like MERGE/DELETE conditions) or the
    ``read_delta``-style filter list; ``set`` maps column name → SQL
    expression string (or Python literal). Rows where the predicate is
    NULL keep their values (SQL semantics); a no-match update commits
    NOTHING (current version returned — a byte-identical rewrite would
    be churn and force fabricated CDF).

    Obligations all compose: SET values cast to the target column
    type (Delta's coercion); CHECK constraints / invariants /
    generated-column consistency re-validated on the rewritten rows
    (updating a generated column's input without the column refuses,
    naming it — include it in ``set``, the library recomputes it the
    same way); identity columns may never be SET (delta-spark's rule);
    ``delta.appendOnly`` refuses; CDF tables stage
    ``update_preimage``/``update_postimage`` cdc rows; rewritten files
    on ``enableRowTracking`` tables MATERIALIZE every surviving row's
    id — updated rows keep their id and move to the NEW commit version
    (NULL materialized version resolves to the add's
    defaultRowCommitVersion, so an OCC retry re-stamps correctly),
    carried rows keep both; column-mapped tables stage physical names;
    rows dead under a live deletion vector are not matchable and the
    rewrite materializes the DV (descriptor rides the tombstone).

    Concurrency: the read footprint is the pruned candidate set plus
    the predicate's scope tree, so concurrent appends whose
    files provably fall OUTSIDE the predicate commute (the same
    partition/stats-scoped OCC as MERGE and DELETE).

    Delta-parity reference: delta-spark's UpdateCommand."""
    from pyspark.sql.types import StructType

    from sql_based_etl_spark.tables.versioned import _sql_literal

    path = path.rstrip("/")
    snap = _replay_state(spark, path)
    meta, live, latest, _, proto, _ = snap
    _check_writer_allowed(proto, meta, "update")
    conf = meta.get("configuration") or {}
    mapping_mode = conf.get("delta.columnMapping.mode", "none")
    cdf = _flag(conf, "delta.enableChangeDataFeed")
    rt_stable = _flag(conf, "delta.enableRowTracking")
    rt_pass: list[str] = []
    emit_meta = False
    rt_id = rt_ver = None
    if rt_stable:
        meta, rt_id, rt_ver, rt_changed = _rt_materialized_cols(meta)
        emit_meta = rt_changed
        rt_pass = [rt_id, rt_ver]
    if not live:
        return latest
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    t_cols = schema.fieldNames()
    t_dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}

    unknown = [c for c in set if c not in t_dtypes]
    if unknown:
        raise VersionedTableError(
            f"update_delta: SET references unknown column(s) "
            f"{sorted(unknown)} (table columns: {t_cols})")
    ident_names = {i["name"] for i in _identity_columns(meta)}
    bad_ident = sorted(ident_names & set.keys())
    if bad_ident:
        raise VersionedTableError(
            f"update_delta: identity column(s) {bad_ident} can never be "
            "SET (their values are engine-allocated; delta-spark "
            "refuses the same)")

    cond, pred_str, read_tree = _dml_predicate(predicate, schema)
    scan_adds = _prune_by_tree(meta, live, read_tree)
    if not scan_adds:
        return latest  # predicate provably matches no live file

    # candidate scan → files actually holding matched rows (bounded by
    # the pruned set; the rewrite below re-reads only those files)
    tagged = _snapshot_df(spark, path, meta, scan_adds, tag_rows=True)
    hit = tagged.filter(cond).select("__file").distinct().collect()
    matched_keys = map_back(_uri_keys(spark, path, scan_adds),
                            (r["__file"] for r in hit), "update_delta")
    if not matched_keys:
        return latest  # no row matched: nothing to commit
    matched = {k: live[k] for k in sorted(matched_keys)}

    sub = (_snapshot_with_row_ids(spark, path, meta, matched, rt_id, rt_ver)
           if rt_stable else _snapshot_df(spark, path, meta, matched))
    gate = F.coalesce(cond.cast("boolean"), F.lit(False))
    upd = {c: _sql_literal(v) for c, v in set.items()}
    post_cols = []
    for c in t_cols:
        if c in upd:
            post_cols.append(
                F.when(gate, F.expr(upd[c]).cast(t_dtypes[c]))
                .otherwise(F.col(c)).alias(c))
        else:
            post_cols.append(F.col(c))
    sel = list(post_cols)
    if rt_stable:
        sel.append(F.col(rt_id))
        # updated rows move to the NEW commit version: NULL materialized
        # version resolves to the rewritten add's
        # defaultRowCommitVersion (correct across OCC retries)
        sel.append(F.when(gate, F.lit(None).cast("long"))
                   .otherwise(F.col(rt_ver)).alias(rt_ver))
    carry = [gate.alias("__hit")]
    if cdf:
        carry.extend(F.col(c).alias(f"__pre_{c}") for c in t_cols)
    ann = sub.select(*sel, *carry).persist()
    try:
        n_upd = int(ann.agg(F.sum(F.col("__hit").cast("long")))
                    .collect()[0][0] or 0)
        if n_upd == 0:
            return latest
        out_cols = list(t_cols) + rt_pass
        result = ann.select(*out_cols)
        result = _enforce_write_obligations(result, meta)
        if num_partitions:
            result = result.repartition(int(num_partitions))
        else:
            # rewrite width defaults to the touched-file count (the
            # merge treatment — an update touching 1 of N files must
            # not fan out to shuffle-partition-many small files)
            result = result.coalesce(len(matched))
        new_adds = _stage_files(result, path, meta, mapping_mode,
                                passthrough=tuple(rt_pass))

        cdc_adds = _stage_changes({
            "update_preimage": ann.filter("__hit").select(*[
                F.col(f"__pre_{c}").alias(c) for c in t_cols]),
            "update_postimage": ann.filter("__hit").select(*t_cols),
        }, meta, mapping_mode, path) if cdf else []
    finally:
        ann.unpersist()

    return _occ_commit(
        spark, path, snap, "UPDATE", {"predicate": pred_str}, {
            "numUpdatedRows": str(n_upd),
            "numRemovedFiles": str(len(matched)),
            "numAddedFiles": str(len(new_adds)),
        },
        removes=matched.values(), adds=new_adds, cdc=cdc_adds,
        metadata=meta if emit_meta else None,
        read=scan_adds.values(), read_tree=read_tree,
        checkpoint_interval=checkpoint_interval)


def compact_delta(spark: SparkSession, path: str,
                  target_files: int = 1,
                  cluster_by: list[str] | None = None,
                  cluster_method: str = "zorder",
                  purge: bool = False,
                  purge_dead_fraction: float = 0.0,
                  only=None,
                  min_input_files: int = 0,
                  target_size: int | None = None,
                  auto: bool = False) -> int:
    """OPTIMIZE-style rewrite of a bridge Delta table — bin-packing
    compaction, and with ``cluster_by`` the OPTIMIZE ZORDER analogue.
    Bin-packing is the maintenance op the streaming sink NEEDS: one
    commit per micro-batch means one small file per micro-batch, and
    scan cost grows with file count, not data. Reads the live
    snapshot, rewrites it as ``target_files`` files (per partition
    directory when the table is partitioned), and commits
    ``remove``(old) + ``add``(new) with ``dataChange: false`` — the
    protocol's marker that the commit reorganizes bytes without
    changing rows, which is what lets streaming readers skip it (see
    :func:`read_delta_appends`).

    ``cluster_by`` + ``cluster_method='zorder'`` (default) clusters the
    rewrite on an interleaved-bit key
    (:func:`~sql_based_etl_spark.tables.versioned.cluster_rows` — the
    one layout of every clustered write on both formats), narrowing
    per-file min/max ranges on EVERY clustered column at once;
    ``'range'`` range-partitions + sorts for leading-column locality;
    any other ``cluster_method`` raises. Either way the files go
    through the shared writer (``tables/files.py``): rowless files are
    dropped, and each ``add`` carries Delta per-file ``stats`` JSON
    (footer-derived, driver-side, O(files)) so library readers — and
    anything else that honors add.stats — actually skip files on those
    columns. This is what gives a long-lived BRIDGE table the same
    multi-dimensional skipping the engine's own format gets from
    ``cluster_method='zorder'`` writes.

    Column-mapped tables are rewritten through the reader's
    logical→physical projection run in reverse (clustering operates on
    LOGICAL names; staged files and stats keys carry physical ones).
    Files with live deletion vectors are rewritten WITHOUT their dead
    rows — the DV is materialized and the tombstone carries its
    descriptor, the library OPTIMIZE's behavior — which stays
    ``dataChange: false`` because the logical row set is unchanged.

    ``purge=True`` is the REORG TABLE … APPLY (PURGE) analogue: instead
    of rewriting the whole live set, ONLY files whose deletion-vector
    dead fraction (DV cardinality / physical numRecords) is ≥
    ``purge_dead_fraction`` are rewritten without their dead rows,
    dropping their DVs; clean files (and files below the threshold) are
    BYTE-UNTOUCHED — not even re-added. This is how a long-lived
    DV-table converges back to clean files: every read of a live DV
    pays the bitmap anti-join forever otherwise, and
    :func:`vacuum_delta` can only reclaim a ``.bin`` sidecar once no
    live add references it. A purge with no qualifying file is a
    NO-OP (returns the current version, no commit churn). Files whose
    stats are unreadable purge conservatively (treated as fully dead —
    rewriting a clean file is correct, just wasted work).

    Subset lanes (the auto-compaction machinery, all composable):
    ``only`` is a predicate over live ``add`` actions restricting the
    rewrite to the files it accepts (everything else is BYTE-UNTOUCHED,
    like purge's clean files); ``min_input_files`` makes the call a
    NO-OP (current version, no commit churn) unless at least that many
    files qualify — the trigger gate that keeps a maintenance loop
    from churning one-file rewrites; ``target_size`` sizes the output
    by BYTES instead of a fixed count (``target_files`` becomes
    ceil(candidate bytes / target_size) — OPTIMIZE's real contract is
    "files of ~N bytes", and a fixed count is wrong on both ends of a
    growing table). ``auto=True`` stamps
    ``operationParameters.auto=true`` (delta-spark's marker for
    auto-compaction commits).

    Schema, metaData and txn watermarks are untouched; the commit races
    through the same conditional-create protocol as any other. Returns
    the committed version."""
    path = path.rstrip("/")
    snap = _replay_state(spark, path)
    meta, live, latest, _, proto, domains = snap
    _check_writer_allowed(proto, meta, "compact")
    conf = meta.get("configuration") or {}
    mapping_mode = conf.get("delta.columnMapping.mode", "none")
    if purge:
        dirty: dict[str, dict] = {}
        for k, a in live.items():
            dv = a.get("deletionVector")
            if not dv:
                continue
            try:
                n = int(json.loads(a["stats"])["numRecords"])
                frac = int(dv.get("cardinality") or 0) / max(n, 1)
            except (KeyError, TypeError, ValueError):
                frac = 1.0
            if frac >= purge_dead_fraction:
                dirty[k] = a
        if not dirty:
            _log.info("compact_delta: purge at %s is a no-op — no live "
                      "file carries a DV at dead fraction >= %s",
                      path, purge_dead_fraction)
            return latest
        live = dirty
    if only is not None:
        live = {k: a for k, a in live.items() if only(a)}
        if len(live) < max(min_input_files, 1):
            _log.info("compact_delta: subset at %s below min_input_files "
                      "(%d < %d) — no-op", path, len(live),
                      max(min_input_files, 1))
            return latest
    if target_size:
        total = sum(int(a.get("size") or 0) for a in live.values())
        target_files = max(1, -(-total // int(target_size)))
    if not live:
        raise VersionedTableError(f"compact_delta: nothing to compact at {path}")
    # enableRowTracking: OPTIMIZE moves bytes but not rows — every row
    # keeps BOTH its id and its commit version, so both are
    # materialized into the rewritten files (a compacted file's fresh
    # baseRowId/defaultRowCommitVersion never resolve for these rows)
    rt_stable = _flag(conf, "delta.enableRowTracking")
    rt_pass: list[str] = []
    emit_meta = False
    if rt_stable:
        meta, rt_id, rt_ver, rt_changed = _rt_materialized_cols(meta)
        emit_meta = rt_changed
        rt_pass = [rt_id, rt_ver]
    if cluster_by is None:
        # liquid-clustered tables record their clustering columns in the
        # delta.clustering domain — OPTIMIZE on such a table clusters by
        # them without being told (the library's behavior). The domain
        # records PHYSICAL names (delta-spark's shape), so on a
        # column-mapped table they must map back to logical names
        # before clustering (the snapshot DataFrame exposes logical
        # columns). Auto-pickup is best-effort by design: a column
        # that cannot be resolved, or that isn't zorder-able (string
        # clustering columns are legal liquid clustering; the bridge's
        # zorder needs numeric/timestamp), degrades to plain bin-pack
        # with a log line rather than crashing the maintenance op —
        # an EXPLICIT cluster_by still fails loudly on bad columns.
        raw = domains.get("delta.clustering")
        if raw:
            try:
                cols = json.loads(raw).get("clusteringColumns") or []
            except (TypeError, ValueError):
                cols = []
            flat = [c[0] if isinstance(c, list) else c
                    for c in cols
                    if not isinstance(c, list) or len(c) == 1]
            if flat and len(flat) == len(cols):
                schema_fields = json.loads(meta["schemaString"]).get(
                    "fields", [])
                phys2logical = {
                    (f.get("metadata") or {}).get(
                        "delta.columnMapping.physicalName", f["name"]
                    ): f["name"]
                    for f in schema_fields
                }
                zorderable = {
                    f["name"] for f in schema_fields
                    if isinstance(f.get("type"), str)
                    and (f["type"] in ("byte", "short", "integer", "long",
                                       "float", "double", "timestamp",
                                       "timestamp_ntz")
                         or f["type"].startswith("decimal"))
                }
                resolved = [phys2logical.get(c) for c in flat]
                if all(c is not None and c in zorderable for c in resolved):
                    cluster_by = resolved
                else:
                    _log.info(
                        "compact_delta: skipping auto-clustering at %s — "
                        "recorded clustering columns %s resolve to %s, "
                        "not all zorder-able; bin-packing only (pass "
                        "cluster_by explicitly to override)",
                        path, flat, resolved,
                    )
    df = (_snapshot_with_row_ids(spark, path, meta, live, rt_id, rt_ver)
          if rt_stable else _snapshot_df(spark, path, meta, live))
    df = cluster_rows(df, cluster_by, cluster_method, target_files)
    new_adds = _stage_files(df, path, meta, mapping_mode,
                            passthrough=tuple(rt_pass))
    # OPTIMIZE reorganizes exactly the files it read — a concurrent
    # blind append commutes (its files are untouched and stay live); a
    # winner that removed one of the inputs is a real conflict. No
    # checkpoint: maintenance leaves that to the next data commit.
    return _occ_commit(
        spark, path, snap, "REORG" if purge else "OPTIMIZE", {
            "targetFiles": str(target_files),
            **({"applyPurge": "true"} if purge else {}),
            **({"auto": "true"} if auto else {}),
            **({"zOrderBy": json.dumps(list(cluster_by))}
               if cluster_by else {}),
        }, {
            "numRemovedFiles": str(len(live)),
            "numAddedFiles": str(len(new_adds)),
            "numRemovedBytes": str(sum(a["size"] for a in live.values())),
            "numAddedBytes": str(sum(a["size"] for a in new_adds)),
        },
        removes=live.values(),
        adds=[{**a, "dataChange": False} for a in new_adds],
        data_change=False, metadata=meta if emit_meta else None,
        read=live.values())


def restore_delta(spark: SparkSession, path: str,
                  version: int | None = None,
                  timestamp: float | str | None = None,
                  checkpoint_interval: int | None = 10) -> int:
    """``RESTORE TABLE … TO VERSION/TIMESTAMP AS OF`` on a bridge Delta
    table — re-commit an earlier snapshot's live file set (and its
    metaData, when it differs: RESTORE rolls back schema/configuration
    changes too, delta-spark's behavior) as the NEW latest version.

    Metadata-only at any scale: no data is copied — files are
    immutable and shared across versions, so the commit is ``add``
    (target-live files not live now, carried VERBATIM — stats,
    partitionValues, deletion-vector descriptors and rowTracking
    baseRowIds all preserved, so DV reads and stable row ids keep
    working on the restored snapshot) + ``remove`` (currently-live
    files not in the target), both ``dataChange: true`` so readers and
    CDF derivation see rows come back / go away. A file whose live DV
    changed since the target restores by (path, DV uid)
    reconciliation: the old descriptor rides the re-add, the newer one
    the remove.

    Files the restore would resurrect must still EXIST — a vacuum past
    the target makes it unrestorable, and this fails loudly naming the
    first missing file instead of committing an unreadable snapshot
    (delta-spark refuses the same way without ignoreMissingFiles).
    History is preserved: the pre-restore versions still time-travel.

    Concurrency: a restore replaces the snapshot it read, so any
    concurrent data change is a real conflict (named by the OCC
    classification); commitInfo-only winners commute.

    Delta-parity reference: delta-spark's RestoreTableCommand."""
    path = path.rstrip("/")
    if (version is None) == (timestamp is None):
        raise VersionedTableError(
            "restore_delta: pass exactly one of version / timestamp")
    if timestamp is not None:
        version = _resolve_log_version(spark, path, timestamp, None)
    meta_t, live_t, _, _, _, _ = _replay_state(spark, path, version)
    snap = _replay_state(spark, path)
    meta_c, live_c, latest, _, proto, _ = snap
    # restoring REMOVES data the later versions added — appendOnly
    # tables forbid that, same gate as overwrite
    _check_writer_allowed(proto, meta_c, "overwrite")
    if version == latest:
        return latest
    # dataChange is FORCED true on the re-adds: a target file originally
    # added by OPTIMIZE carries dataChange:false verbatim, but restoring
    # it IS a data change (CDF derivation and streaming readers filter
    # on it — a false re-add would make the resurrection invisible)
    to_add = [{**live_t[k], "dataChange": True}
              for k in sorted(set(live_t) - set(live_c))]
    to_remove = [live_c[k] for k in sorted(set(live_c) - set(live_t))]
    restore_meta = meta_t != meta_c
    if not to_add and not to_remove and not restore_meta:
        return latest  # identical snapshot: a commit would be churn
    # existence check batched per DIRECTORY (one listing each, not
    # one exists() RPC per file — a 50k-file restore would otherwise
    # serialize 50k driver→store round trips)
    by_dir: dict[str, list[tuple[str, str]]] = {}
    for a in to_add:
        absolute = _file_location(path, a["path"])
        by_dir.setdefault(posixpath.dirname(absolute), []).append(
            (posixpath.basename(absolute), a["path"]))
    for d, wanted in by_dir.items():
        present = {f.name for f in files.list_dir(spark, d) or []}
        for base, orig in wanted:
            if base not in present:
                raise VersionedTableError(
                    f"restore_delta: data file {orig!r} of version "
                    f"{version} no longer exists (vacuumed?) — the "
                    "snapshot cannot be restored")
    # the re-adds carry their stats, DVs and row ids verbatim
    return _occ_commit(
        spark, path, snap, "RESTORE", {"version": str(version)}, {
            "numRestoredFiles": str(len(to_add)),
            "numRemovedFiles": str(len(to_remove)),
        },
        removes=to_remove, adds=to_add,
        metadata=meta_t if restore_meta else None,
        read=live_c.values(), checkpoint_interval=checkpoint_interval)


def clone_delta(spark: SparkSession, source_path: str, dest_path: str,
                version: int | None = None,
                timestamp: float | str | None = None) -> int:
    """``CREATE TABLE … SHALLOW CLONE`` — a new, independently-writable
    Delta table whose version 0 references the SOURCE snapshot's data
    files by ABSOLUTE path (no data copied; metadata-only at any
    scale). ``version`` / ``timestamp`` clone a time-traveled snapshot.

    What carries over: the source's protocol (the clone's files need
    every feature claim the source's do), schemaString / partition
    columns / configuration (fresh table id + createdTime), per-file
    stats, partitionValues, rowTracking baseRowIds AND the rowTracking
    high-watermark domain (fresh appends to the clone must not alias
    cloned row ids), and deletion vectors — ``u``-storage descriptors
    are rewritten to absolute ``p`` storage so the clone's readers
    find the source's sidecars. ``txn`` watermarks do NOT carry (the
    clone is a new idempotence domain).

    Independence contract: writes to the clone (appends, DML,
    OPTIMIZE) land under the CLONE's directory and never touch the
    source; the clone's VACUUM never reclaims outside its own root
    (``vacuum_delta``'s own-root rule), so tombstoned source
    references are simply dropped from the clone's metadata. The
    library's shallow-clone caveat applies equally: VACUUMING THE
    SOURCE can reclaim files the clone still references — the clone is
    a cheap fork, not a backup.

    Delta-parity reference: delta-spark's CloneTableCommand (shallow)."""
    import time
    import uuid

    source_path = source_path.rstrip("/")
    dest_path = dest_path.rstrip("/")
    if len([s for s in (version, timestamp) if s is not None]) > 1:
        raise VersionedTableError(
            "clone_delta: pass at most one of version / timestamp")
    if timestamp is not None:
        version = _resolve_log_version(spark, source_path, timestamp, None)
    meta_s, live_s, src_v, _, proto_s, domains_s = _replay_state(
        spark, source_path, version)
    dest_log = f"{dest_path}/_delta_log"
    if files.stat(spark, dest_log) is not None and (
        _list_log(spark, dest_log)
        or _last_checkpoint(spark, dest_log) is not None
    ):
        raise VersionedTableError(
            f"clone_delta: destination {dest_path} is already a Delta "
            "table — SHALLOW CLONE creates a NEW table")

    adds: list[dict] = []
    for a in live_s.values():
        a = dict(a)
        absolute = _file_location(source_path, a["path"])
        a["path"] = urllib.parse.quote(absolute, safe="/:")
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            # relative-uuid sidecars resolve against the TABLE root —
            # the clone's root has no sidecars, so pin the absolute
            # source path ('p' storage, spec-equivalent)
            enc = dv["pathOrInlineDv"]
            prefix, tail = enc[:-20], enc[-20:]
            u = uuid.UUID(bytes=_z85_decode(tail))
            a["deletionVector"] = {
                **dv, "storageType": "p",
                "pathOrInlineDv": (
                    f"{source_path}/{prefix + '/' if prefix else ''}"
                    f"deletion_vector_{u}.bin"),
            }
        a["dataChange"] = True
        adds.append(a)

    now_ms = int(time.time() * 1000)
    meta_d = {**meta_s, "id": str(uuid.uuid4()), "createdTime": now_ms}
    proto_d = proto_s or {"minReaderVersion": 1, "minWriterVersion": 2}
    info = _commit_info("CLONE", {"sourceTable": source_path,
                                  "sourceVersion": str(src_v)},
                        {"numClonedFiles": str(len(adds))}, now_ms)
    # the cloned adds keep their row ids, and the clone's version 0 is
    # published as is: no .crc, no retry (a raced CREATE is a conflict)
    _stamp(spark, dest_log, 0, now_ms, info, meta_d, proto_d, {}, [])
    actions: list[dict] = [
        {"commitInfo": info}, {"protocol": proto_d}, {"metaData": meta_d}]
    actions.extend(
        {"domainMetadata": {"domain": dom, "configuration": cfg,
                            "removed": False}}
        for dom, cfg in sorted((domains_s or {}).items())
    )
    actions.extend({"add": a} for a in sorted(adds,
                                              key=lambda a: a["path"]))
    _commit_delta_log(spark, dest_log, 0,
                      "\n".join(json.dumps(a) for a in actions))
    return 0


def vacuum_delta(spark: SparkSession, path: str,
                 retention_hours: float = 168.0,
                 enforce_retention_check: bool = True,
                 dry_run: bool = False) -> list[str]:
    """Physically delete ``remove``-tombstoned data files of a bridge
    Delta table — the storage-reclamation half of the streaming-sink +
    OPTIMIZE story: one commit per micro-batch plus periodic
    :func:`compact_delta` emits tombstones forever, and without VACUUM
    the table's disk footprint only ever grows.

    Semantics mirror Delta's own VACUUM: a file is deleted iff it is
    (a) NOT referenced by the latest snapshot and (b) its tombstone's
    ``deletionTimestamp`` is older than ``retention_hours``. Time
    travel to any version still inside retention keeps working (its
    files haven't been touched); time travel to a version whose files
    were vacuumed fails loudly at read time (:func:`_snapshot_df`
    names the VACUUM as the cause rather than surfacing a bare
    path-not-found). Tombstones are gathered from the surviving JSON
    log only — commits pruned below a checkpoint are by construction
    older than the checkpoint and their non-live files are *also*
    vacuum candidates, but the bridge deliberately deletes only data
    files it can prove were tombstoned (never "anything unreferenced",
    which would race in-flight writers' staged files).

    Deletion-vector ``.bin`` sidecars are reclaimed by the same proof:
    a sidecar is deleted iff NO live add's descriptor points into it
    and the newest tombstone carrying a descriptor into it is past
    retention (one ``.bin`` holds many files' bitmaps — one young or
    live reference keeps the whole sidecar). Orphan sidecars from
    crashed commits are never touched (no tombstone proves them dead);
    pair :func:`compact_delta(purge=True) <compact_delta>` with vacuum
    so long-lived DV tables converge back to clean files AND reclaim
    their bitmap storage.

    Change data files (``_change_data/``, written by CDF merges,
    updates and deletes) belong to no snapshot and no tombstone names
    them; like delta-spark's VACUUM, a change file is deleted iff its
    modification time is older than ``retention_hours``. A change read
    (:func:`read_delta_changes`) over a commit whose change files were
    vacuumed fails loudly the same way time travel does.

    ``retention_hours < 168`` raises unless
    ``enforce_retention_check=False`` (Delta's own guard: a reader or
    in-flight committer may still reference recent files). ``dry_run``
    returns the candidate list without deleting. A ``commitInfo``-only
    VACUUM commit records the operation in the log (replay ignores it;
    it is observability, exactly like Delta's VACUUM START/END pair).

    Returns the table-relative paths of the deleted (or, dry-run,
    deletable) files, change files included; the VACUUM END commit
    counts them all in ``numDeletedFiles``. Driver-side cost is
    O(tombstones + change files) — bounded by log length, the same
    order as the replay VACUUM already does."""
    import time

    if retention_hours < 168.0 and enforce_retention_check:
        raise VersionedTableError(
            f"vacuum_delta: retention {retention_hours}h is below the "
            "168h safety floor — concurrent readers/writers may still "
            "reference recent files; pass enforce_retention_check=False "
            "to override (test/maintenance contexts only)"
        )
    path = path.rstrip("/")
    log_dir = f"{path}/_delta_log"
    logs = _list_log(spark, log_dir)
    snap = _replay_state(spark, path)
    live = snap[1]
    cutoff_ms = (time.time() - retention_hours * 3600.0) * 1000.0

    tombstones: dict[str, int] = {}
    dv_tomb: dict[str, int] = {}
    for v in sorted(logs):
        for action in _log_actions(spark, logs[v]):
            if "remove" in action:
                r = action["remove"]
                # a DV'd remove is an ordinary tombstone for the PARQUET
                # file: whether the path is still live under a newer DV
                # is exactly what the live_paths check below decides
                # (actions reconcile by (path, DV uid), but a path has
                # at most one live action at a time). The DV .bin
                # sidecar the descriptor points into becomes a vacuum
                # candidate by the SAME rule: reclaimable once no live
                # add references it and its newest referencing tombstone
                # is past retention (one .bin holds many files' bitmaps
                # — dv_tomb keeps the max, so one young reference
                # blocks the whole sidecar).
                tombstones[r["path"]] = int(r.get("deletionTimestamp") or 0)
                dv_rel = _dv_file_rel(r.get("deletionVector"))
                if dv_rel:
                    ts = int(r.get("deletionTimestamp") or 0)
                    dv_tomb[dv_rel] = max(dv_tomb.get(dv_rel, 0), ts)
            elif "add" in action:
                # re-added later ⇒ the old tombstone no longer governs
                tombstones.pop(action["add"]["path"], None)

    live_paths = {a["path"] for a in live.values()}
    live_dvs = {_dv_file_rel(a.get("deletionVector"))
                for a in live.values()} - {None}
    dv_candidates = {rel: ts for rel, ts in dv_tomb.items()
                     if rel not in live_dvs}
    tombstones.update(dv_candidates)
    deleted: list[str] = []
    for rel in sorted(tombstones):
        if rel in live_paths or tombstones[rel] > cutoff_ms:
            continue
        target = urllib.parse.unquote(rel)
        if "://" in target or target.startswith("/"):
            # absolute path: VACUUM only ever reclaims files under ITS
            # OWN table root (the library's rule) — an absolute
            # tombstone pointing elsewhere is a shallow clone's
            # reference into its SOURCE table, and deleting it would
            # destroy the source's data
            if not _norm_file_uri(target).startswith(
                    _norm_file_uri(path) + "/"):
                continue
        else:
            target = f"{path}/{target}"
        if (files.stat(spark, target) is not None if dry_run
                else files.delete(spark, target)):
            deleted.append(rel)
    # change data files belong to no snapshot, so no tombstone ever
    # names them: age them out by modification time, as delta-spark does
    cdc = files.list_dir(spark, f"{path}/_change_data", recursive=True) or []
    for f in sorted(cdc):
        if f.mtime_ms <= cutoff_ms:
            if not dry_run:
                files.delete(spark, f"{path}/_change_data/{f.name}")
            deleted.append(urllib.parse.quote(f"_change_data/{f.name}",
                                              safe="/="))
    if not dry_run:
        # the audit commit is commitInfo-only: it changes no state, so
        # it commutes with every concurrent writer and leaves no .crc
        _occ_commit(spark, path, snap, "VACUUM END",
                    {"retentionDurationHours": str(retention_hours)},
                    {"numDeletedFiles": str(len(deleted))})
    return deleted


# Delta's delta.logRetentionDuration default: "interval 30 days"
DEFAULT_LOG_RETENTION_HOURS = 720.0

_INTERVAL_UNIT_HOURS = {
    "week": 168.0, "day": 24.0, "hour": 1.0,
    "minute": 1.0 / 60.0, "second": 1.0 / 3600.0,
}


def _parse_interval_hours(s: str | None) -> float | None:
    """Parse a Delta duration table property ("interval 30 days",
    "interval 12 hours", "interval 1 week") to hours; None passes
    through (caller applies the default). Rejects the shapes Delta
    itself rejects — a misparsed retention silently deleting history
    is the failure mode this guards."""
    if s is None:
        return None
    m = re.match(
        r"^\s*(?:interval\s+)?(\d+)\s+(week|day|hour|minute|second)s?\s*$",
        str(s), re.IGNORECASE)
    if not m:
        raise VersionedTableError(
            f"cannot parse duration property {s!r} "
            "(expected e.g. 'interval 30 days')")
    return int(m.group(1)) * _INTERVAL_UNIT_HOURS[m.group(2).lower()]


def _manifest_sidecar_refs(spark: SparkSession | None, log_dir: str,
                           name: str) -> set[str]:
    """sidecarFile paths referenced by one V2 checkpoint manifest."""
    return {a["sidecarFile"]["path"]
            for a in _checkpoint_actions(spark, f"{log_dir}/{name}")
            if "sidecarFile" in a}


def _cleanup_expired_logs(spark: SparkSession, log_dir: str,
                          retention_hours: float,
                          dry_run: bool = False) -> list[str]:
    """Core of :func:`cleanup_log_metadata`; see its contract. Returns
    the log-dir-relative names of deleted (or, dry-run, deletable)
    files."""
    import time as _time

    entries = _list_log_entries(spark, log_dir)
    mtimes = dict(entries)
    names = [n for n, _ in entries]
    jsons = {int(n[:-5]): n for n in names
             if n.endswith(".json") and n[:-5].isdigit()}
    if not jsons:
        return []
    cutoff_ms = (_time.time() - retention_hours * 3600.0) * 1000.0
    # first commit that must survive on age alone: the horizon never
    # exceeds it, so in the normal monotonic-mtime case the deletion is
    # a contiguous prefix; each file is additionally age-gated below
    unexpired = [v for v in jsons if mtimes[jsons[v]] >= cutoff_ms]
    first_young = min(unexpired) if unexpired else max(jsons) + 1

    cps = _complete_checkpoints(names)
    pointer = _last_checkpoint(spark, log_dir)
    # the horizon is a COMPLETE checkpoint ≤ every deleted commit's
    # successor, capped at the _last_checkpoint pointer: a pointer left
    # aiming at a deleted checkpoint would poison readers that trust it
    # (the bridge's own reader falls back to scanning, foreign ones may
    # not)
    candidates = [v for v in cps
                  if v <= first_young
                  and (pointer is None or v <= pointer[0])]
    if not candidates:
        return []
    horizon = max(candidates)

    deletable: list[str] = []
    v2_deleted: list[str] = []
    v2_kept: list[str] = []
    for v, n in jsons.items():
        # each file is age-gated individually: mtimes are usually
        # monotonic in version, but nothing guarantees it (clock skew,
        # copied tables) and the contract is that a commit younger
        # than retention is NEVER deleted — even below the horizon
        # (holes below the horizon are harmless: reads there refuse
        # loudly either way)
        if v < horizon and mtimes[n] < cutoff_ms:
            deletable.append(n)
    # per-commit checksum files (%020d.crc — the bridge writes one
    # after every unraced commit, foreign writers too) expire with
    # their commit; leaking them forever defeats the cleanup
    for n in names:
        if n.endswith(".crc") and n[:-4].isdigit():
            v = int(n[:-4])
            if v < horizon and mtimes[n] < cutoff_ms:
                deletable.append(n)
    for n in names:
        m = (_CKPT_CLASSIC_RE.match(n) or _CKPT_MULTIPART_RE.match(n))
        is_v2 = False
        if not m:
            m = _CKPT_V2_RE.match(n)
            is_v2 = bool(m and not m.group(2).isdigit())
            if m and not is_v2:
                m = None
        if not m:
            continue
        cv = int(m.group(1))
        # age-gate each checkpoint file individually: a young re-written
        # checkpoint below the horizon is a harmless leftover, not worth
        # racing whoever just wrote it
        if cv < horizon and mtimes[n] < cutoff_ms:
            deletable.append(n)
            if is_v2:
                v2_deleted.append(n)
        elif is_v2:
            v2_kept.append(n)

    # V2 sidecars: reclaim only those referenced EXCLUSIVELY by deleted
    # manifests — the spec allows manifests to share sidecars, so a
    # surviving reference keeps the file. Absolute/external references
    # are never deleted (vacuum's own-root rule).
    sidecars: set[str] = set()
    if v2_deleted:
        refs_deleted: set[str] = set()
        for n in v2_deleted:
            refs_deleted |= _manifest_sidecar_refs(spark, log_dir, n)
        refs_kept: set[str] = set()
        for n in v2_kept:
            refs_kept |= _manifest_sidecar_refs(spark, log_dir, n)
        sidecars = {
            p for p in refs_deleted - refs_kept
            if "://" not in p and not p.startswith("/")
        }

    deleted: list[str] = []
    for n in sorted(deletable):
        if not dry_run:
            files.delete(spark, f"{log_dir}/{n}")
        deleted.append(n)
    for rel in sorted(sidecars):
        if not dry_run:
            files.delete(spark, f"{log_dir}/_sidecars/{rel}")
        deleted.append(f"_sidecars/{rel}")
    return deleted


def cleanup_log_metadata(spark: SparkSession, path: str,
                         retention_hours: float | None = None,
                         enforce_retention_check: bool = True,
                         dry_run: bool = False) -> list[str]:
    """Expire aged transaction-log metadata of a bridge Delta table —
    Delta's metadata-cleanup contract (``delta.logRetentionDuration``,
    default 30 days). Without it a long-lived table's ``_delta_log``
    grows one JSON per commit forever (the streaming sink commits every
    micro-batch) and every ``_list_log`` listing slows with it.

    Rules, mirroring Delta's own cleanup:

    - The retained HORIZON is the newest complete checkpoint that is at
      or below both (a) the oldest commit younger than retention and
      (b) the ``_last_checkpoint`` pointer. Nothing at or above the
      horizon is ever touched.
    - Deleted: commit JSONs below the horizon; checkpoint files below
      the horizon that are themselves past retention; V2 sidecars
      referenced only by deleted manifests.
    - Time travel to any version whose commits survive keeps working:
      the reader falls back from the pointer to the newest complete
      checkpoint at or below the requested version
      (:func:`_replay_state`), so versions between the horizon and the
      pointer replay from the horizon checkpoint. Versions below the
      horizon fail loudly at read time (missing-commit /
      cannot-timestamp-resolve errors name the pruning), the vacuum
      treatment.
    - Commits younger than retention are NEVER deleted, whatever the
      checkpoint layout — the horizon is capped below the first young
      commit.

    ``retention_hours`` defaults to the table's
    ``delta.logRetentionDuration`` property (else 30 days). Values
    below 168h raise unless ``enforce_retention_check=False`` (same
    guard as :func:`vacuum_delta`: a downstream CDF/streaming consumer
    may still need recent commits). ``dry_run`` returns the candidate
    list without deleting. No commit is written — metadata cleanup is
    not a table change (Delta is silent too).

    Runs automatically after every checkpoint the bridge writes unless
    the table sets ``delta.enableExpiredLogCleanup=false`` (Delta's
    default-on behavior); the automatic path takes the retention from
    the table property, which is the owner's explicit authorization —
    the 168h floor applies to ad-hoc calls only.

    Returns the ``_delta_log``-relative names of deleted files.
    """
    path = path.rstrip("/")
    log_dir = f"{path}/_delta_log"
    if retention_hours is None:
        meta, *_ = _replay_state(spark, path)
        # mirror the automatic post-checkpoint path exactly: a parsed
        # 0.0 ('interval 0 hours') is a real retention, not a fallback
        # to the default — `or` would make dry_run preview different
        # deletions than the auto cleanup performs
        hours = _parse_interval_hours(
            (meta.get("configuration") or {}).get(
                "delta.logRetentionDuration"))
        retention_hours = (DEFAULT_LOG_RETENTION_HOURS
                           if hours is None else hours)
    if retention_hours < 168.0 and enforce_retention_check:
        raise VersionedTableError(
            f"cleanup_log_metadata: retention {retention_hours}h is below "
            "the 168h safety floor — a streaming/CDF consumer may still "
            "need recent commits; pass enforce_retention_check=False to "
            "override (test/maintenance contexts only)"
        )
    return _cleanup_expired_logs(spark, log_dir, retention_hours, dry_run)


def _read_commit(spark: SparkSession | None, log_dir: str,
                 logs: dict[int, str], v: int, who: str,
                 meta: dict | None = None, cdf: bool = False,
                 ignore_deletes: bool = False):
    """Commit ``v`` as the incremental readers see it — batch
    :func:`read_delta_appends` / :func:`read_delta_changes` and the
    ``delta_bridge`` stream source (``who`` names the reader in
    errors): ``(adds, removes, cdcs, ts_ms)``, the data-changing file
    actions keyed by path and the commit timestamp
    (``commitInfo.inCommitTimestamp``, else the commit file's mtime —
    the timestamp time-travel rule).

    Given the ``meta`` the reader serves, each refusal rule lives here
    once:

    - a ``metaData`` whose schema cannot serve the commit's files under
      ``meta``'s (:func:`_schema_readable_under`; identity watermarks
      and additive nullable columns can) refuses;
    - an append reader (``cdf`` false) refuses a data-changing remove —
      unless ``ignore_deletes`` and the commit is a pure delete
      (removes only, or every add re-attaches a DV to a path removed in
      the same commit), which returns None (skip) — and a
      deletion-vector add;
    - a change reader (``cdf``) refuses, in a commit without ``cdc``
      actions, a deletion-vector add (whole-file derivation would
      fabricate row churn) and a remove without the partition values
      its delete rows need.

    Without ``meta`` (start-timestamp resolution) nothing refuses."""
    if v not in logs:
        raise VersionedTableError(
            f"{who}: commit {v} missing at {log_dir} — commits pruned "
            "below a checkpoint cannot be read incrementally; re-read "
            "the full snapshot"
        )
    adds: dict[str, dict] = {}
    removes: dict[str, dict] = {}
    cdcs: dict[str, dict] = {}
    ts_ms = None
    for action in _log_actions(spark, logs[v]):
        if "metaData" in action and meta is not None and not (
                _schema_readable_under(action["metaData"].get("schemaString"),
                                       meta["schemaString"])):
            raise VersionedTableError(
                f"{who}: commit {v} changes the table schema — its files "
                "cannot be read under the schema being served; "
                + ("split the range at the schema change" if cdf else
                   "re-read the full snapshot")
            )
        if "cdc" in action:
            cdcs[action["cdc"]["path"]] = action["cdc"]
        elif "add" in action and action["add"].get("dataChange", True):
            adds[action["add"]["path"]] = action["add"]
        elif "remove" in action and action["remove"].get("dataChange", True):
            removes[action["remove"]["path"]] = action["remove"]
        elif "commitInfo" in action:
            ict = action["commitInfo"].get("inCommitTimestamp")
            ts_ms = int(ict) if ict is not None else None
    if ts_ms is None:
        ts_ms = files.stat(spark, logs[v]).mtime_ms
    if meta is None or (cdf and cdcs):
        return adds, removes, cdcs, ts_ms
    dv_add = any(a.get("deletionVector") for a in adds.values())
    if cdf:
        if dv_add:
            raise VersionedTableError(
                f"{who}: commit {v} attaches a deletion vector without "
                "cdc actions — whole-file derivation would fabricate row "
                "churn; install delta-spark"
            )
        # the spec lets a remove omit partitionValues when
        # extendedFileMetadata is false (external writers emit these);
        # its delete rows would carry NULL partition columns — a silent
        # wrong answer on this module's fail-loud contract
        part_cols = meta.get("partitionColumns") or []
        for r in removes.values():
            pv = r.get("partitionValues")
            if part_cols and (pv is None or any(c not in pv for c in part_cols)):
                raise VersionedTableError(
                    f"{who}: commit {v} removes {r.get('path')!r} without "
                    f"partitionValues for partition columns {part_cols} — "
                    "delete rows cannot be reconstructed; install delta-spark"
                )
        return adds, removes, cdcs, ts_ms
    if removes:
        if ignore_deletes and all(p in removes for p in adds):
            return None
        raise VersionedTableError(
            f"{who}: commit {v} removes data — the table is not "
            "append-only past the start; "
            + ("its rewritten files may carry NEW rows, so ignore_deletes "
               "cannot skip it safely — re-read the full snapshot"
               if ignore_deletes else
               "pass ignore_deletes=True (the stream's ignoreDeletes) to "
               "skip pure-delete commits, or re-read the full snapshot")
        )
    if dv_add:
        raise VersionedTableError(
            f"{who}: commit {v} attaches a deletion vector — row-level "
            "deletes are not append-only; re-read the full snapshot"
        )
    return adds, removes, cdcs, ts_ms


def read_delta_appends(spark: SparkSession, path: str,
                       since_version: int,
                       ignore_deletes: bool = False) -> DataFrame:
    """Incremental consumption of an append-only bridge table: the rows
    in files ADDED by commits ``(since_version, latest]`` — the source
    half of the streaming story (the sink half is
    ``streaming/events.py:stream_append_to_delta``). A consumer stores
    the last version it processed and pulls only the delta each cycle,
    never rescanning the table — the same offset contract as Delta's
    own streaming source.

    Semantics match that source's defaults: ``dataChange: false``
    commits (compaction — :func:`compact_delta`) are INVISIBLE (their
    adds are reorganized old rows, not new data); a ``dataChange: true``
    remove (overwrite/delete) raises — the table is no longer
    append-only and a file-level reader cannot represent row deletion.
    ``ignore_deletes=True`` is the library source's ``ignoreDeletes``:
    pure-delete commits (:func:`delete_delta` — removes, plus DV
    re-adds of already-seen paths) are SKIPPED rather than fatal, for
    consumers that only care about new rows; commits that both remove
    and add NEW data (overwrites) still raise, exactly like the
    library (that needs ``ignoreChanges``/CDF semantics, not a
    file-level append reader). Returns an empty frame when already
    caught up."""
    path = path.rstrip("/")
    log_dir = f"{path}/_delta_log"
    logs = _list_log(spark, log_dir)
    meta, _, latest, _, _, _ = _replay_state(spark, path)
    if since_version > latest:
        raise VersionedTableError(
            f"read_delta_appends: since_version {since_version} is beyond "
            f"latest commit {latest} at {path}"
        )
    new_adds: dict[str, dict] = {}
    for v in range(since_version + 1, latest + 1):
        commit = _read_commit(spark, log_dir, logs, v, "read_delta_appends",
                              meta, ignore_deletes=ignore_deletes)
        if commit is not None:
            new_adds.update(commit[0])
    return _snapshot_df(spark, path, meta, new_adds)


def read_delta_changes(spark: SparkSession, path: str,
                       starting_version: int,
                       ending_version: int | None = None) -> DataFrame:
    """Change Data Feed over a Delta table's log — the bridge
    equivalent of ``table_changes(start, end)``: the table's rows as
    they changed in commits ``[starting_version, ending_version]``
    (inclusive, latest when ``ending_version`` is None), each with
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp_ms``
    columns.

    Per the public CDF contract: a commit that wrote ``cdc`` actions is
    read from those ``_change_data`` files (they carry ``_change_type``
    — insert / delete / update_preimage / update_postimage — the ONLY
    faithful record when a commit rewrote rows); a commit without
    ``cdc`` derives inserts from its ``dataChange`` adds and deletes
    from its ``dataChange`` removes (whole-file changes, exactly what
    Delta's own reader does). ``_commit_timestamp_ms`` follows the same
    rule as timestamp time travel (``commitInfo.inCommitTimestamp``
    when written, else commit-file mtime).

    Column-mapped tables read through the same logical←physical
    projection as snapshots (cdc files store physical data-column
    names + a verbatim ``_change_type``). Fail-loud: the table must
    have ``delta.enableChangeDataFeed=true``; DV-carrying adds without
    cdc actions raise (the add/remove derivation would fabricate row
    churn); commits pruned below a checkpoint cannot be change-read.
    """
    path = path.rstrip("/")
    log_dir = f"{path}/_delta_log"
    logs = _list_log(spark, log_dir)
    meta, _, latest, _, _, _ = _replay_state(spark, path)
    conf = meta.get("configuration") or {}
    if not _flag(conf, "delta.enableChangeDataFeed"):
        raise VersionedTableError(
            f"read_delta_changes: delta.enableChangeDataFeed is not set on "
            f"{path} — the log records no change data"
        )
    mapping_mode = conf.get("delta.columnMapping.mode", "none")
    end = latest if ending_version is None else int(ending_version)
    if starting_version > end:
        raise VersionedTableError(
            f"read_delta_changes: starting_version {starting_version} > "
            f"ending_version {end}"
        )
    if starting_version < 0 or end > latest:
        raise VersionedTableError(
            f"read_delta_changes: range [{starting_version}, {end}] is "
            f"outside the table's commits [0, {latest}]"
        )
    if end != latest:
        # the reference schema for the range is the schema AS OF its
        # end — a later schema change must not poison earlier windows
        meta = _replay_state(spark, path, end)[0]

    schema_json = json.loads(meta["schemaString"])
    # _change_type is stored VERBATIM in cdc files (it is not a table
    # column); on mapped tables it rides the physical projection with
    # a passthrough physicalName and resolves by name even in id mode
    ct_md = ({"delta.columnMapping.physicalName": "_change_type"}
             if mapping_mode != "none" else {})
    cdc_meta = {**meta, "schemaString": json.dumps({
        "type": "struct",
        "fields": schema_json["fields"] + [
            {"name": "_change_type", "type": "string",
             "nullable": True, "metadata": ct_md}
        ],
    })}

    out: DataFrame | None = None

    def _emit(df: DataFrame) -> None:
        nonlocal out
        out = df if out is None else out.unionByName(df)

    for v in range(int(starting_version), end + 1):
        adds, removes, cdcs, ts_ms = _read_commit(
            spark, log_dir, logs, v, "read_delta_changes", meta, cdf=True)

        def _stamp(df: DataFrame) -> DataFrame:
            return df.withColumn("_commit_version", F.lit(v).cast("long")) \
                     .withColumn("_commit_timestamp_ms",
                                 F.lit(ts_ms).cast("long"))

        if cdcs:
            # cdc parquet carries _change_type physically; reuse the
            # snapshot reader with the widened schema for partition
            # injection
            _emit(_stamp(_snapshot_df(spark, path, cdc_meta, cdcs)))
            continue
        if adds:
            _emit(_stamp(
                _snapshot_df(spark, path, meta, adds)
                .withColumn("_change_type", F.lit("insert"))))
        if removes:
            _emit(_stamp(
                _snapshot_df(spark, path, meta, removes)
                .withColumn("_change_type", F.lit("delete"))))
    if out is None:
        # valid empty range (e.g. metadata-only commits): typed empty
        from pyspark.sql.types import StructType

        empty = StructType.fromJson(json.loads(cdc_meta["schemaString"]))
        return (
            spark.createDataFrame([], empty)
            .withColumn("_commit_version", F.lit(None).cast("long"))
            .withColumn("_commit_timestamp_ms", F.lit(None).cast("long"))
        )
    return out
