"""Shared helpers for query modules.

Oracle-parity conventions (the driver hashes values order-insensitively
and matches column names, so both engines must emit bit-identical
values under identical names):

- Sums of double measures: scale to integer micro-units per row
  (``round(x * 1e6)`` → BIGINT), sum exactly (order-independent int64
  addition), divide once by 1e6. Raw double sums are not reproducible
  across engines (accumulation order), and double→DECIMAL casts diverge
  at shortest-repr half boundaries (Spark rounds Java's shortest string
  HALF_UP; DuckDB rounds the exact binary expansion).
- Averages: compute on double, round(2+) — value is O(1e-10) stable.
- Timestamps in output: 'yyyy-MM-dd[ HH:mm:ss]' strings (Spark session
  TZ pinned to UTC; DuckDB timestamps are naive UTC).
- Top-k / limit: always order with a unique key tiebreaker.

The integer-micros pattern also holds at 100 TB: int64 micros overflow
at ~9.2e12 currency units per group, far above any realistic group sum,
and partial aggregation stays map-side combinable.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MICROS = 1_000_000.0


def load(
    spark: SparkSession, sf_dir: str, name: str, wide: bool = False
) -> DataFrame:
    """Read one driver table. Parquet scan → Catalyst gets pushdown and
    column pruning for free; never cache here (operators decide).

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) in one
    testdata generation and TIMESTAMP(MICROS, isAdjustedToUTC=false) in
    another; normalize both to a session-TZ TIMESTAMP so downstream
    numeric casts (``unix_micros``, ``cast("long")``) work and match the
    oracle. DuckDB reads either encoding as a naive-UTC µs TIMESTAMP:
    - NANOS: the Spark vectorized reader rejects it; read as int64 nanos
      (``spark.sql.legacy.parquet.nanosAsLong``) and convert losslessly
      (the data is µs-aligned).
    - MICROS without UTC adjustment: Spark infers TIMESTAMP_NTZ, which
      refuses numeric casts; ``to_timestamp`` reinterprets the naive
      value in the session TZ (pinned UTC) — the same instant DuckDB
      sees, zero-cost projection, pushdown unaffected.

    Session TZ is pinned to UTC here (runtime conf) because the caller
    may hand us an arbitrarily-configured session (the driver does) and
    timestamp rendering must match the oracle's naive-UTC values."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.to_timestamp("ts"))
        path = os.path.join(sf_dir, "events.parquet")
        return _widen_scan(spark, df, path) if wide else df
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _read_parquet(spark, path)
    return _widen_scan(spark, df, path) if wide else df


# (path, mtime) → read schema. Plain CATALOG METADATA, not results: a
# production engine resolves table schemas from its catalog instead of
# re-reading parquet footers per query, and footer inference measured
# ~0.15s of driver time per load() call (the bench constructs each
# query three times). Keyed on mtime so a regenerated file re-infers;
# every query still scans and computes from the parquet data itself.
_SCHEMA_CACHE: dict[tuple[str, float], object] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        key = (path, os.path.getmtime(path))
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


# Tables smaller than this stay un-widened: they are broadcast/dimension
# sides (region, nation, supplier, part) where an extra exchange before
# the broadcast build is pure overhead.
_WIDEN_MIN_BYTES = 256 * 1024

_BYTE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1024, "kb": 1024,
    "m": 1024**2, "mb": 1024**2,
    "g": 1024**3, "gb": 1024**3,
    "t": 1024**4, "tb": 1024**4,
    "p": 1024**5, "pb": 1024**5,
}


def _parse_byte_conf(raw: object, default: int) -> int:
    """Spark size confs accept unit suffixes ('128MB', '134217728b');
    a bare ``int()`` raises on those and silently pinned the widen
    threshold to the default (r14 advice). Mirrors JavaUtils
    byteStringAsBytes for the suffixes Spark documents."""
    import re

    try:
        m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", str(raw))
        return int(m.group(1)) * _BYTE_SUFFIX[m.group(2).lower()]
    except (AttributeError, KeyError, TypeError, ValueError):
        return default


def _file_size(spark: SparkSession, uri: str) -> int | None:
    """Size in bytes of one scan input file, on ANY filesystem, through
    the shared file layer (``os`` on local paths, the session's Hadoop
    FileSystem elsewhere — a bare path follows ``fs.defaultFS``). None
    when the size can't be read (caller treats the scan as not
    widenable)."""
    from sql_based_etl_spark.tables import files

    try:
        st = files.stat(spark, uri)
    except Exception:
        return None
    return None if st is None else st.size


def _widen_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Spread an under-split scan across the session's cores (guide
    §2.5 "input skew: one huge unsplittable file ... repartition
    immediately after the read").

    The driver tables ship as ONE parquet file with ONE row group, so
    every scan is a single split no matter the core count, and the
    compute-dense first stage of a query — positioned-gram explosion,
    Bloom gram probes, per-doc quality regexes — runs on one core of
    N. The remedy is the guide's own: a round-robin repartition right
    after the read, APPLIED ONLY when the scan's expected split count
    is below the session parallelism. The condition is derived from
    input size (bytes / maxPartitionBytes vs defaultParallelism), so on
    a real multi-file, multi-row-group table the expected split count
    exceeds the core count and this is a NO-OP — nothing here is tuned
    to local[32]; at any scale it only fires when the scan genuinely
    cannot feed the cores, in which case the input is by construction
    at most cores x maxPartitionBytes bytes and the one narrow shuffle
    is the documented fix. Filters/projections still push down: Catalyst
    moves them through Repartition to the scan (verified in the r13
    plan captures: PushedFilters unchanged).

    OPT-IN per call site (``load(..., wide=True)``): the exchange only
    pays for itself where downstream per-row compute dominates. The r13
    interleaved A/B (OPTIMIZATION_r13.md) measured −52%/−22%/−22%/−9%
    on quality-score / substring-spans / bloom-decontaminate /
    ngram-jaccard, but +9-13% on the scan-light relational queries and
    the multi-consumer pinned minhash pipelines (whose cached-relation
    partitioning interacts badly with a pre-widened scan) — so the
    default stays narrow.

    ``SQL_ETL_SCAN_WIDEN=0`` disables (measurement/ablation hook).
    """
    if os.environ.get("SQL_ETL_SCAN_WIDEN", "1") == "0":
        return df
    cores = spark.sparkContext.defaultParallelism
    # expected split count from the scan relation's OWN file index
    # (df.inputFiles — any filesystem), not os.stat of a local path:
    # ≥cores files already feed every core with zero size lookups
    try:
        files = list(df.inputFiles())
    except Exception:
        files = [path]
    if not files or len(files) >= cores:
        return df
    sizes = [_file_size(spark, f) for f in files]
    if any(s is None for s in sizes):
        return df  # unknown size: don't guess an exchange into the plan
    size = sum(sizes)
    if size < _WIDEN_MIN_BYTES:
        return df
    max_split = _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", None),
        128 * 1024 * 1024,
    )
    if size // max_split >= cores:
        return df
    return df.repartition(cores)


def micros(expr: Column) -> Column:
    """Exact int64 micro-units view of a double expression."""
    return F.round(expr * F.lit(MICROS)).cast("long")


def xsum(expr: Column) -> Column:
    """Exact, order-independent distributed sum of a double expression
    (sum int64 micros, one final division)."""
    return F.sum(micros(expr)) / F.lit(MICROS)


def xsum_sql(expr: str) -> str:
    """DuckDB rendering of :func:`xsum` for oracle SQL strings."""
    return f"sum(CAST(round(({expr}) * 1000000.0) AS BIGINT)) / 1000000.0"
