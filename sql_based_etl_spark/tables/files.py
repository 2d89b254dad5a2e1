"""The file layer of both table formats: every read, listing, stat,
write, delete and rename of a table file, plus one data-file writer and
one stats reader.

File access. Both formats, the stream source and the deletion-vector
kernels reach table files only through these functions:

- :func:`read_bytes` / :func:`read_text` — one whole file;
- :func:`list_dir` — ``(name, size, mtime_ms, is_dir)`` entries of a
  directory, optionally recursive, None when the directory is absent;
- :func:`stat` — one entry, None when absent;
- :func:`write_bytes`, :func:`delete` and :func:`rename`;
- :func:`qualify` — the URI form Spark's scans report for a path.

One set of rules picks the lane:

- **Local paths** (:func:`local_path`: a ``file:`` URI, or a bare path
  under a ``file:`` ``fs.defaultFS``): reads, listings and stats use
  ``os``, with none of the ~1-3 ms py4j round trips of the Hadoop FS.
  A listing hides Hadoop's checksum sidecars (``.``-prefixed ``*.crc``)
  as ``ChecksumFileSystem.listStatus`` does, and a modification time is
  ``st_mtime_ns // 1_000_000``, which is Hadoop's
  ``getModificationTime``.
- **Writes, deletes and renames stay on Hadoop for every store**: the
  local FS writes and deletes the ``.<name>.crc`` siblings that
  delta-spark readers verify.
- **Other stores** (``hdfs://``, ``s3a://``, a non-``file:`` default
  FS) go through the session's Hadoop FileSystem.
- **``spark=None`` is the no-JVM lane** of executors and the stream
  planner: ``os`` for local paths, ``pyarrow.fs`` for URIs.
- **A bare relative path resolves against the Hadoop working
  directory**, never Python's cwd, so ``os`` and Hadoop name the same
  file. It is fetched once per session, with ``fs.defaultFS``.

A missing file raises :class:`FileNotFoundError` on every lane.

Data files. :func:`write_files` writes a DataFrame as zstd parquet into
a fresh directory and returns one :class:`DataFile` per file written:
its path, hive partition values, rows, bytes and per-column
min/max/null counts. The native ``VersionedTable`` maps each record
into its manifest ``stats`` entry; the Delta bridge maps it into an
``add`` action and its ``stats`` JSON (the protocol's per-file
statistics,
https://github.com/delta-io/delta/blob/master/PROTOCOL.md#per-file-statistics).

Stats come from the parquet footers the writer just produced, read
driver-side with pyarrow: KB of metadata per file and no Spark job. One
Spark aggregate over the files stands in only for footers pyarrow
cannot read (Spark's VARIANT type) and for directories on non-local
URIs. Every data-skipping and conflict-scoping decision of both formats
trusts these numbers, so both paths apply one rule per column:

- only top-level scalar columns get stats;
- an all-null row group adds to the null count and keeps the bounds;
- binary, decimal, timestamp, non-finite float and non-binary-collated
  string columns get a null count but no bounds: binary, NaN and
  infinities have no JSON form, decimals would round through JSON
  floats, Spark's default INT96 timestamps carry no footer stats,
  parquet records a NaN as the max, and byte-ordered string bounds say
  nothing under a collation such as ``UTF8_LCASE`` ('a' = 'A');
- what a footer does not record (a null count, or the bounds of a row
  group that holds values) is None: unknown, so pruning keeps the file.
"""

from __future__ import annotations

import datetime
import math
import os
import posixpath
import stat as stat_mod
import urllib.parse
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Parquet codec of every data and change file either table format
# writes. Set per writer, not in the session conf, so tables stay
# compact under any session. zstd shrinks high-entropy text such as hex
# digests, which snappy stores almost raw; readers need zstd parquet
# support (Spark >= 3.2, or 3.0/3.1 with Hadoop's native zstd; Athena,
# DuckDB, pyarrow and delta-rs all read it).
TABLE_FILE_COMPRESSION = "zstd"

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# Spark types the fallback aggregate bounds (see :func:`_bounded`), and
# the wider set it counts nulls for — the same split :func:`_bound`
# makes on footer values
_BOUNDED = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.BooleanType, T.DateType,
            T.StringType)
_COUNTED = _BOUNDED + (T.BinaryType, T.DecimalType, T.TimestampType,
                       T.TimestampNTZType)

# session-id → the local working directory when fs.defaultFS is
# file:, else None (one py4j fetch per session; see local_path)
_LOCAL_CWD_CACHE: dict[int, str | None] = {}


@dataclass
class DataFile:
    """One written parquet file. ``path`` is relative to the written
    directory as on disk ('/'-separated, partition directories still
    hive-escaped); ``partition_values`` are parsed back from those
    directories. ``rows`` is None when no stats could be read.
    ``columns`` maps a column to ``{"min", "max", "nulls"}``, each None
    when unknown; min and max are both set or both None."""

    path: str
    partition_values: dict[str, str | None]
    size: int
    modification_time: int
    rows: int | None = None
    columns: dict[str, dict] = field(default_factory=dict)


class FileInfo(NamedTuple):
    """One listed file or directory. ``name`` is the base name, or the
    '/'-separated path under the listed directory for a recursive
    listing."""

    name: str
    size: int
    mtime_ms: int
    is_dir: bool


def local_path(spark: SparkSession | None, uri: str) -> str | None:
    """Absolute OS path of ``uri`` when it provably lives on the LOCAL
    filesystem, else None: an explicit ``file:`` URI, or a bare path
    under a ``file:`` defaultFS (with ``spark=None``, any bare path).
    A relative path resolves against the Hadoop working directory
    (Python's cwd without a session)."""
    if uri.startswith("file:"):
        u = urllib.parse.urlparse(uri)
        # a non-empty authority (file://host/…) names a REMOTE host:
        # stripping it would silently read the wrong local path — keep
        # the Hadoop path for anything but the local host
        if u.netloc not in ("", "localhost"):
            return None
        return u.path or "/"
    head = uri.split("/", 1)[0]
    if "://" in uri or ":" in head:
        return None  # non-file scheme
    if spark is None:
        return os.path.abspath(uri)
    key = id(spark)
    if key not in _LOCAL_CWD_CACHE:
        conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
        cwd = None
        if conf.get("fs.defaultFS", "file:///").startswith("file:"):
            fs = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem  # noqa: SLF001
            cwd = fs.getLocal(conf).getWorkingDirectory().toUri().getPath()
        _LOCAL_CWD_CACHE[key] = cwd
    cwd = _LOCAL_CWD_CACHE[key]
    return None if cwd is None else posixpath.normpath(posixpath.join(cwd, uri))


def qualify(spark: SparkSession, uri: str) -> str:
    """``uri`` as a qualified, percent-encoded URI, the form Spark's
    scans report for files (``input_file_name()``)."""
    local = local_path(spark, uri)
    if local is not None:
        return "file:" + urllib.parse.quote(local)
    fs, jp = _hadoop(spark, uri)
    return fs.makeQualified(jp).toUri().toString()


def read_bytes(spark: SparkSession | None, uri: str) -> bytes:
    """The whole file at ``uri``."""
    local = local_path(spark, uri)
    if local is not None:
        with open(local, "rb") as fh:
            return fh.read()
    if spark is None:
        fs, p = _arrow(uri)
        with fs.open_input_stream(p) as fh:
            return fh.read()
    fs, jp = _hadoop(spark, uri)
    stream = _not_found(uri, fs.open, jp)
    try:
        return bytes(spark.sparkContext._jvm.org.apache.commons.io  # noqa: SLF001
                     .IOUtils.toByteArray(stream))
    finally:
        stream.close()


def read_text(spark: SparkSession | None, uri: str) -> str:
    """The whole UTF-8 file at ``uri``."""
    return read_bytes(spark, uri).decode("utf-8")


def list_dir(spark: SparkSession | None, uri: str,
             recursive: bool = False) -> list[FileInfo] | None:
    """The entries of directory ``uri``, or None when it is absent.
    A recursive listing returns files only, named by their path under
    ``uri``. Checksum sidecars are hidden on every lane."""
    local = local_path(spark, uri)
    if local is not None:
        try:
            return _scan_local(local, recursive)
        except (FileNotFoundError, NotADirectoryError):
            return None
    if spark is None:
        import pyarrow.fs as pafs

        fs, p = _arrow(uri)
        if fs.get_file_info(p).type != pafs.FileType.Directory:
            return None
        infos = fs.get_file_info(pafs.FileSelector(p, recursive=recursive))
        return [FileInfo(i.path[len(p.rstrip("/")) + 1:], i.size or 0,
                         i.mtime_ns // 1_000_000,
                         i.type == pafs.FileType.Directory)
                for i in infos
                if not (recursive and i.type == pafs.FileType.Directory)
                and not _is_checksum(i.base_name)]
    fs, jp = _hadoop(spark, uri)
    try:
        if not recursive:
            return [_info(st, st.getPath().getName())
                    for st in _not_found(uri, fs.listStatus, jp)]
        root = _not_found(uri, fs.getFileStatus, jp).getPath().toString()
        it = fs.listFiles(jp, True)
    except FileNotFoundError:
        return None
    cut = len(root.rstrip("/")) + 1
    out = []
    while it.hasNext():
        st = it.next()
        out.append(_info(st, st.getPath().toString()[cut:]))
    return out


def stat(spark: SparkSession | None, uri: str) -> FileInfo | None:
    """The entry of ``uri`` (its base name), or None when absent."""
    local = local_path(spark, uri)
    if local is not None:
        try:
            st = os.stat(local)
        except (FileNotFoundError, NotADirectoryError):
            return None
        return FileInfo(os.path.basename(local), st.st_size,
                        st.st_mtime_ns // 1_000_000,
                        stat_mod.S_ISDIR(st.st_mode))
    if spark is None:
        import pyarrow.fs as pafs

        fs, p = _arrow(uri)
        i = fs.get_file_info(p)
        if i.type == pafs.FileType.NotFound:
            return None
        return FileInfo(i.base_name, i.size or 0, i.mtime_ns // 1_000_000,
                        i.type == pafs.FileType.Directory)
    fs, jp = _hadoop(spark, uri)
    try:
        st = _not_found(uri, fs.getFileStatus, jp)
    except FileNotFoundError:
        return None
    return _info(st, st.getPath().getName())


def write_bytes(spark: SparkSession | None, uri: str, data: bytes) -> None:
    """Create or replace the file at ``uri`` with ``data``, making its
    parent directories."""
    if spark is None:
        local = local_path(None, uri)
        if local is not None:
            os.makedirs(os.path.dirname(local), exist_ok=True)
            with open(local, "wb") as fh:
                fh.write(data)
            return
        fs, p = _arrow(uri)
        with fs.open_output_stream(p) as fh:
            fh.write(data)
        return
    fs, jp = _hadoop(spark, uri)
    out = fs.create(jp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def delete(spark: SparkSession, uri: str, recursive: bool = False) -> bool:
    """Delete ``uri`` (a directory only when ``recursive``); False when
    nothing was there."""
    fs, jp = _hadoop(spark, uri)
    return bool(fs.delete(jp, recursive))


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Move ``src`` to ``dst``, making ``dst``'s parent directories;
    False when the store refused (as Hadoop's ``rename`` reports)."""
    fs, jsrc = _hadoop(spark, src)
    jdst = _hadoop(spark, dst)[1]
    fs.mkdirs(jdst.getParent())
    return bool(fs.rename(jsrc, jdst))


def _scan_local(path: str, recursive: bool) -> list[FileInfo]:
    out = []
    with os.scandir(path) as it:
        for e in it:
            if e.is_dir():
                if recursive:
                    out += [f._replace(name=f"{e.name}/{f.name}")
                            for f in _scan_local(e.path, True)]
                    continue
            elif _is_checksum(e.name):
                continue
            st = e.stat()
            out.append(FileInfo(e.name, st.st_size,
                                st.st_mtime_ns // 1_000_000, e.is_dir()))
    return out


def _is_checksum(name: str) -> bool:
    """Hadoop's checksum sidecar ``.<name>.crc`` (not Delta's
    ``<version>.crc``)."""
    return name.startswith(".") and name.endswith(".crc")


def _info(st, name: str) -> FileInfo:
    return FileInfo(name, int(st.getLen()), int(st.getModificationTime()),
                    bool(st.isDirectory()))


def _hadoop(spark: SparkSession, uri: str):
    jp = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(uri)  # noqa: SLF001
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    return jp.getFileSystem(conf), jp


def _arrow(uri: str):
    import pyarrow.fs as pafs

    return pafs.FileSystem.from_uri(uri)


def _not_found(uri: str, call, *args):
    """``call(*args)`` over py4j, with Hadoop's FileNotFoundException
    raised as Python's."""
    try:
        return call(*args)
    except Exception as e:
        if "java.io.FileNotFoundException" in str(e):
            raise FileNotFoundError(uri) from None
        raise


def write_files(df: DataFrame, uri: str, partition_by: list[str] | None = None,
                options: dict[str, str] | None = None,
                stats_columns: list[str] | None = None) -> list[DataFile]:
    """Write ``df`` as ``TABLE_FILE_COMPRESSION`` parquet into the fresh
    directory ``uri`` (hive partition directories for ``partition_by``;
    ``options`` are extra parquet writer options) and return its files
    with stats (see :func:`collect_files`)."""
    writer = df.write.mode("errorifexists").option(
        "compression", TABLE_FILE_COMPRESSION)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(uri)
    return collect_files(df.sparkSession, uri, df.schema, partition_by,
                         stats_columns)


def collect_files(spark: SparkSession, uri: str, schema: T.StructType,
                  partition_by: list[str] | None = None,
                  stats_columns: list[str] | None = None) -> list[DataFile]:
    """The parquet files under ``uri`` (sorted by path; ``_``/``.``
    names skipped, as Spark's own listing does) with their stats, for
    ``stats_columns`` only when given; the fallback aggregate reads the
    files under ``schema``, the written DataFrame's. Rowless files —
    Spark writes one per empty writer partition — are deleted and not
    returned, unless every file is rowless: an empty write still needs
    one file to carry its schema."""
    partition_by = list(partition_by or [])
    local = local_path(spark, uri)
    files = sorted(
        (DataFile(f.name, _partition_values(f.name), f.size, f.mtime_ms)
         for f in list_dir(spark, uri, recursive=True) or []
         if _is_data(f.name)),
        key=lambda f: f.path)
    want = None if stats_columns is None else set(stats_columns)
    # a footer does not know the column's collation: drop the bounds the
    # Spark type gets none of
    unbounded = {f.name for f in schema.fields if not _bounded(f.dataType)}
    unread = files
    if local is not None:
        import pyarrow as pa

        unread = []
        for f in files:
            try:
                f.rows, f.columns = footer_stats(os.path.join(local, f.path), want)
            except (OSError, ValueError, pa.ArrowException):
                unread.append(f)  # e.g. a footer with Spark's VARIANT type
                continue
            for c in unbounded & f.columns.keys():
                f.columns[c].update(min=None, max=None)
    if unread:
        _scan_stats(spark, uri, unread, schema, partition_by, want)
    rowless = [f for f in files if f.rows == 0]
    if rowless and len(rowless) < len(files):
        for f in rowless:
            delete(spark, f"{uri}/{f.path}")
        files = [f for f in files if f.rows != 0]
    return files


def footer_stats(path: str, columns: set[str] | None = None
                 ) -> tuple[int, dict[str, dict]]:
    """``(rows, {column: {min, max, nulls}})`` of one local parquet file,
    from its footer alone (``columns`` narrows the set). Raises OSError
    when pyarrow cannot parse the footer (Spark's VARIANT type)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    out: dict[str, dict] = {}
    for i in range(md.num_columns):
        col = md.schema.column(i)
        # a top-level scalar is a leaf whose path is its own name and
        # that repeats nowhere (lists, maps and struct fields fail one)
        if col.path != col.name or col.max_repetition_level:
            continue
        if columns is not None and col.name not in columns:
            continue
        nulls: int | None = 0
        lo = hi = None
        bounded = True
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(i).statistics
            if st is None or not st.has_null_count:
                nulls = None
            elif nulls is not None:
                nulls += st.null_count
            if st is not None and st.has_min_max:
                try:
                    mn, mx = _bound(st.min), _bound(st.max)
                except NotImplementedError:  # e.g. Spark's INT64 decimals
                    mn = mx = None
                if mn is None or mx is None:
                    bounded = False
                else:
                    lo = mn if lo is None else min(lo, mn)
                    hi = mx if hi is None else max(hi, mx)
            elif st is None or not st.has_null_count or st.null_count < rg.num_rows:
                bounded = False  # the row group holds values, unbounded
        if not bounded:
            lo = hi = None
        if nulls is not None or lo is not None:
            out[col.name] = {"min": lo, "max": hi, "nulls": nulls}
    return md.num_rows, out


def _bound(v: object) -> object:
    """``v`` as a stat bound, or None when its type gets no bounds (see
    the module rules). Numbers, booleans and strings stay as they are:
    Python orders them as parquet footers and Spark's ``min``/``max``
    do (strings by code point, which is UTF-8 byte order). Dates become
    ISO text, which sorts chronologically."""
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return v.isoformat()
    return None


def _bounded(dtype: T.DataType) -> bool:
    """Whether a column of Spark type ``dtype`` gets min/max bounds
    (the module rules; a collated string is still a ``StringType``)."""
    return (isinstance(dtype, _BOUNDED)
            and getattr(dtype, "collation", "UTF8_BINARY") == "UTF8_BINARY")


def _scan_stats(spark: SparkSession, uri: str, files: list[DataFile],
                schema: T.StructType, partition_by: list[str],
                want: set[str] | None) -> None:
    """Fill ``rows`` and ``columns`` of ``files`` with ONE Spark
    aggregate over them, grouped by ``_metadata.file_path``, under the
    same per-column rule as the footer path. A file no group row names
    held no rows."""
    fields = [f for f in schema.fields if f.name not in partition_by]
    stat_fields = [f for f in fields if isinstance(f.dataType, _COUNTED)
                   and (want is None or f.name in want)]
    df = spark.read.schema(T.StructType(fields)).parquet(
        *[f"{uri}/{f.path}" for f in files])
    aggs = [F.count(F.lit(1)).alias("rows")]
    for i, f in enumerate(stat_fields):
        c = F.col("`" + f.name.replace("`", "``") + "`")
        if _bounded(f.dataType):
            aggs += [F.min(c).alias(f"min{i}"), F.max(c).alias(f"max{i}")]
        aggs.append(F.sum(c.isNull().cast("long")).alias(f"nulls{i}"))
    depth = len(partition_by) + 1  # path segments of a file under uri
    by_path = {f.path: f for f in files}
    for f in files:
        f.rows, f.columns = 0, {}
    for r in (df.groupBy(F.col("_metadata.file_path").alias("fp"))
              .agg(*aggs).collect()):
        # _metadata.file_path is URL-encoded; unquoting restores the
        # on-disk (hive-escaped) names the listing returned
        rel = "/".join(urllib.parse.unquote(r["fp"]).split("/")[-depth:])
        f = by_path[rel]
        f.rows = r["rows"]
        for i, sf in enumerate(stat_fields):
            lo = hi = None
            if _bounded(sf.dataType):
                lo, hi = _bound(r[f"min{i}"]), _bound(r[f"max{i}"])
                if lo is None or hi is None:
                    lo = hi = None
            f.columns[sf.name] = {"min": lo, "max": hi, "nulls": r[f"nulls{i}"]}


def _is_data(rel: str) -> bool:
    """Spark's listing rule: ``.`` names, and ``_`` names other than
    partition directories (``_c=1``), hold no data."""
    return rel.endswith(".parquet") and not any(
        n.startswith(".") or (n.startswith("_") and "=" not in n)
        for n in rel.split("/"))


def _partition_values(rel: str) -> dict[str, str | None]:
    """Hive partition values of a relative file path
    (``__HIVE_DEFAULT_PARTITION__`` is null)."""
    pv: dict[str, str | None] = {}
    for seg in rel.split("/")[:-1]:
        k, _, v = seg.partition("=")
        pv[urllib.parse.unquote(k)] = (
            None if v == _HIVE_NULL else urllib.parse.unquote(v))
    return pv
