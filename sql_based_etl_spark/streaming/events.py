"""Structured Streaming path for the ``events`` table (SURVEY.md §1:
the reference is batch-only; streams are the engine's extension, built
on watermarks + windowed aggregation + stateful ``applyInPandasWithState``).

Local smoke/testing drives the parquet file as a bounded stream with a
memory sink + ``processAllAvailable()`` (synchronous); in production
the same plan reads Kafka/file streams — only ``readStream`` options
change.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """``readStream`` over the events parquet, normalizing ``ts`` to a
    session-TZ TIMESTAMP (same semantics as the batch loader).

    File streams require an explicit schema, and the testdata has
    shipped ``ts`` as TIMESTAMP(NANOS) in one generation and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) in another — sniff the
    footer once (driver-side, metadata-only) and build the matching
    requested schema: NANOS must be read as int64
    (``nanosAsLong``, the vectorized reader rejects it) then converted;
    naive MICROS is read as TIMESTAMP_NTZ then reinterpreted in the
    session TZ (pinned UTC — the instant DuckDB's naive read sees).

    SESSION-CONF CONTRACT (deliberate session-wide mutation, shared
    with the batch loader ``queries/_util.py:load()``): this pins
    ``spark.sql.legacy.parquet.nanosAsLong=true`` and
    ``spark.sql.session.timeZone=UTC`` on the session. Both are
    prerequisites of cross-engine parity for every events consumer in
    the process, so pinning them at first use is the contract, not an
    accident — anything in the same session that needs a different TZ
    for display must convert explicitly rather than repoint the
    session.

    The requested schema is frozen from a REAL file's footer: if no
    parquet file exists yet, this raises rather than guessing an
    encoding (a guess would misread int64-nanos files that arrive
    after the stream starts — schema resolution must wait until the
    first file exists)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # file-stream sources want a directory; point at the parent dir and
    # glob-filter to the events file
    if path.endswith(".parquet"):
        base, fname = os.path.dirname(path), os.path.basename(path)
        sniff = path
    else:
        base, fname = path, "*.parquet"
        import glob

        hits = glob.glob(os.path.join(path, "*.parquet"))
        if not hits:
            raise FileNotFoundError(
                f"read_events_stream: no parquet file under {path!r} to "
                "sniff the ts encoding from — defer starting the stream "
                "until a file exists (guessing the encoding would misread "
                "late-arriving NANOS files)"
            )
        sniff = hits[0]

    import pyarrow.parquet as pq

    ts_arrow = str(pq.read_schema(sniff).field("ts").type)

    if ts_arrow.startswith("timestamp[ns"):
        schema = _events_schema(T.LongType())
        fix = F.expr("timestamp_micros(ts div 1000)")
    elif "tz=" in ts_arrow:  # already instant-typed (isAdjustedToUTC)
        schema = _events_schema(T.TimestampType())
        fix = F.col("ts")
    else:  # naive micros → NTZ → reinterpret in session TZ
        schema = _events_schema(T.TimestampNTZType())
        fix = F.to_timestamp("ts")

    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", fname)
        .parquet(base)
    )
    return raw.withColumn("ts", fix)


def windowed_counts(events: DataFrame, window: str = "5 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Tumbling-window counts + exact sums with a watermark for late
    data. Map-side partial aggregation applies; state is bounded by the
    watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 1e6).cast("long")) / 1e6).alias("sum_value"),
        )
    )


def run_bounded(agg: DataFrame, mode: str = "complete") -> tuple[DataFrame, str]:
    """Drive a (bounded) streaming aggregation to completion via a
    memory sink; returns the result table DataFrame."""
    name = "stream_out_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    spark = agg.sparkSession
    return spark.table(name), name


def sliding_counts(events: DataFrame, window: str = "10 minutes",
                   slide: str = "5 minutes",
                   watermark: str = "10 minutes") -> DataFrame:
    """Sliding-window counts: each event lands in window/slide
    overlapping buckets (state bounded by the watermark, same shape as
    the tumbling agg — the bucket replication happens at the source)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def deduped_counts(events_a: DataFrame, events_b: DataFrame,
                   watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: union two event streams (at-least-once
    delivery produces duplicates), drop repeated event_ids within the
    watermark horizon, then count per type. Two chained stateful
    operators (dedup state + agg state) — the canonical exactly-once
    ingest shape; state for dedup is bounded by the watermark."""
    both = events_a.unionByName(events_b)
    return (
        both.withWatermark("ts", watermark)
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def stream_append_to_table(stream_df: DataFrame, table_path: str,
                           num_partitions: int | None = None,
                           checkpoint: str | None = None):
    """Streaming sink into the engine's versioned table: each
    micro-batch commits as one APPEND version via ``foreachBatch``
    (file-additive — no rewrite of earlier data), giving the streaming
    path the same ACID-ish, time-travelable storage as batch loads.

    EXACTLY-ONCE: ``foreachBatch`` is at-least-once (a crash between
    the table commit and the checkpoint advance replays the batch), so
    the sink is made idempotent the way Delta's txn table is — each
    commit records its ``stream_batch_id`` in the manifest, and a
    replayed batch id that any surviving manifest already carries is
    skipped. Checking manifests is metadata-only; vacuuming every
    version between a commit and its replay is the one (operationally
    absurd) hole. Returns the started StreamingQuery (caller
    awaits/stops)."""
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        append_stream_batch(batch_df, batch_id, table_path, num_partitions)

    writer = stream_df.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint is not None:
        # durable progress log: a restarted query resumes at the first
        # uncommitted batch (and replays the last possibly-uncommitted
        # one — which the manifest batch-id dedup above absorbs)
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def append_stream_batch(batch_df: DataFrame, batch_id: int, table_path: str,
                        num_partitions: int | None = None) -> bool:
    """One idempotent micro-batch commit (the ``foreachBatch`` body of
    :func:`stream_append_to_table`, module-level so the replay contract
    is directly testable). Returns True if a commit happened, False
    for an empty or already-committed (replayed) batch."""

    from sql_based_etl_spark.tables.versioned import (
        ConcurrentStreamBatchError,
        VersionedTable,
    )

    if batch_df.isEmpty():
        return False
    t = VersionedTable(batch_df.sparkSession, table_path)
    mode = "append" if t.exists() else "overwrite"
    if t.exists() and any(
        m.get("stream_batch_id") == batch_id for m in t.history()
    ):
        return False  # replayed batch — already committed
    try:
        t.write(batch_df, mode=mode, num_partitions=num_partitions,
                operation=f"STREAM_BATCH_{batch_id}",
                extra={"stream_batch_id": batch_id})
    except ConcurrentStreamBatchError:
        # two instances of this sink raced the SAME micro-batch and the
        # other one won — the rows are in the table exactly once
        return False
    return True


def append_stream_batch_delta(batch_df: DataFrame, batch_id: int,
                              table_path: str, app_id: str,
                              num_partitions: int | None = None,
                              properties: dict[str, str] | None = None,
                              ) -> bool:
    """Delta-bridge twin of :func:`append_stream_batch`: one idempotent
    micro-batch APPEND to a real ``_delta_log`` table, exactly-once via
    the Delta protocol's OWN mechanism — a ``txn {appId, version}``
    action per commit; a replayed batch whose version is ≤ the appId's
    recorded watermark is skipped inside :func:`~..tables.delta_interop.
    write_delta` itself. This is the streaming sink pattern for output
    that external Delta tooling tails directly: every micro-batch is
    one protocol commit, and the bridge's periodic parquet checkpoints
    keep long-table read cost bounded. ``properties`` apply at
    first-batch CREATE only (table properties are CREATE-time in the
    bridge) — e.g. ``delta.autoOptimize.autoCompact`` keeps the live
    FILE count bounded too (one small file per micro-batch otherwise),
    the data-file twin of the checkpoint/log-cleanup story, and
    exactly-once replay skipping composes with the auto OPTIMIZE
    commits (txn watermarks survive compaction untouched). Returns
    True if a commit happened, False for an empty or replayed batch."""
    from sql_based_etl_spark.tables.delta_interop import (
        VersionedTableError,
        _list_log,
        write_delta,
    )

    if batch_df.isEmpty():
        return False
    spark = batch_df.sparkSession
    if num_partitions:
        batch_df = batch_df.repartition(num_partitions)
    path = table_path.rstrip("/")
    try:
        logs = _list_log(spark, f"{path}/_delta_log")
    except VersionedTableError:
        logs = {}
    exists = bool(logs)
    before = max(logs) if logs else None
    v = write_delta(batch_df, path, mode="append" if exists else "overwrite",
                    txn_app_id=app_id, txn_version=batch_id,
                    properties=(None if exists else properties))
    return before is None or v > before


def stream_append_to_delta(stream: DataFrame, table_path: str, app_id: str,
                           checkpoint: str | None = None,
                           properties: dict[str, str] | None = None):
    """Start an exactly-once streaming append into a Delta-protocol
    table via the write bridge; returns the started StreamingQuery.
    ``properties`` apply at first-batch CREATE (see
    :func:`append_stream_batch_delta`)."""
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: append_stream_batch_delta(
            df, bid, table_path, app_id, properties=properties)
    ).outputMode("append")
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def enriched_counts(events: DataFrame, dim: DataFrame,
                    key: str = "user_id", dim_key: str = "c_custkey",
                    dim_attr: str = "c_mktsegment") -> DataFrame:
    """Stream-static enrichment: join the event stream to a static
    dimension and aggregate per (attribute, event_type).

    The stream-static join is stateless — each micro-batch hash-joins
    against the (broadcast) dimension snapshot, no join state
    accumulates — which is why enrichment belongs *before* stateful
    aggregation in a streaming DAG. Left join: events with no
    dimension row keep flowing (NULL attribute), an enrichment must
    never drop facts."""
    joined = events.join(
        F.broadcast(dim.select(F.col(dim_key).alias(key), dim_attr)),
        key,
        "left",
    )
    return joined.groupBy(F.col(dim_attr).alias("segment"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


def click_purchase_join(events: DataFrame, gap: str = "30 minutes",
                        watermark: str = "10 minutes") -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding ``gap`` — the attribution-join shape.

    Both sides carry watermarks and the join condition bounds p_ts
    relative to c_ts, so the state store can evict clicks older than
    (watermark + gap): state is bounded by time, not by stream length —
    the property that lets this run forever at 100 TB/day. Inner
    stream-stream joins emit eagerly on match (append mode), so a
    bounded run produces exactly the batch join's rows."""
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    cond = (
        (c.user_id == p.p_user)
        & (p.p_ts >= c.c_ts)
        & (p.p_ts <= c.c_ts + F.expr(f"INTERVAL {gap}"))
    )
    return c.join(p, cond, "inner").select("click_id", "purchase_id")


def windowed_cms(events: DataFrame, col: str = "user_id",
                 window: str = "1 hour", watermark: str = "10 minutes",
                 width: int | None = None, depth: int | None = None) -> DataFrame:
    """Per-window count-min sketch maintained BY the streaming engine —
    the rolling heavy-hitter dashboard shape: each window's sketch is a
    (d, bucket) counter relation (operators/sketches.py semantics), so
    closed windows are tiny mergeable artifacts (``cms_merge`` folds
    hours into days without rescanning events) and point-frequency
    estimates never touch the raw stream again.

    Plan shape: the bucket projection is stateless codegen per arm of a
    ``depth``-way union; the ONLY stateful operator is one windowed
    groupBy over int pairs, so state per window is ≤ width·depth
    counters regardless of event volume — the watermark bounds how many
    windows stay open. Output: (window, d, bucket, cnt)."""
    from sql_based_etl_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH, _cms_bucket

    w = width or CMS_WIDTH
    dep = depth or CMS_DEPTH
    arms = [
        events.select(
            "ts", F.lit(d).alias("d"),
            _cms_bucket(F.col(col), d, w).alias("bucket"),
        )
        for d in range(dep)
    ]
    probes = arms[0]
    for a in arms[1:]:
        probes = probes.unionByName(a)
    return (
        probes.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def windowed_histogram(events: DataFrame, col: str = "value",
                       window: str = "1 hour", watermark: str = "10 minutes",
                       lo: float = 0.0, hi: float = 500.0,
                       nbins: int = 100) -> DataFrame:
    """Per-window equi-width histogram maintained BY the streaming
    engine — the rolling latency/size-distribution dashboard shape
    (the quantile complement to ``windowed_cms``): each closed window
    is a ≤ nbins counter relation with ``operators/sketches.py``
    semantics, so windows fold into days via ``histogram_merge`` and
    ``histogram_quantiles`` reads p50/p99 without touching the raw
    stream again.

    Plan shape: the bin rule is one stateless codegen projection; the
    only stateful operator is a windowed groupBy over (window, bin)
    ints — state per window is ≤ nbins counters regardless of event
    volume, watermark bounds open windows. Output:
    (window, bin, cnt)."""
    from sql_based_etl_spark.operators.sketches import hist_bin

    return (
        events.filter(F.col(col).isNotNull())
        .select("ts", hist_bin(F.col(col), lo, hi, nbins).alias("bin"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def stream_materialized_aggregate(stream_df: DataFrame, base_path: str,
                                  agg_path: str, group_cols: list[str],
                                  sum_cols: list[str],
                                  num_partitions: int | None = None,
                                  checkpoint: str | None = None):
    """Streaming MATERIALIZED VIEW: each micro-batch (1) appends to the
    base versioned table and (2) incrementally refreshes the aggregate
    table from the base's change feed — the Delta-Live-Tables shape on
    the engine's own storage. Readers always see a consistent,
    time-travelable aggregate snapshot; the raw stream is never
    rescanned (each refresh reads only the batch's files via CDF).

    Exactly-once falls out of composing the two idempotence contracts:
    a replayed batch id is skipped by the manifest dedup
    (``append_stream_batch``) and the refresh is a no-op when the
    aggregate's recorded ``source_version`` already matches — and a
    crash BETWEEN append and refresh self-heals because the next
    batch's refresh folds every unapplied base version, not just its
    own. Returns the started StreamingQuery."""
    from sql_based_etl_spark.tables.incremental import IncrementalAggregate
    from sql_based_etl_spark.tables.versioned import VersionedTable

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        append_stream_batch(batch_df, batch_id, base_path, num_partitions)
        spark = batch_df.sparkSession
        if VersionedTable(spark, base_path).exists():
            IncrementalAggregate(
                spark, base_path, agg_path, group_cols, sum_cols, num_partitions
            ).refresh()

    writer = stream_df.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
