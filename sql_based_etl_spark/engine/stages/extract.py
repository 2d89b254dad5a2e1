"""Extract stages (SURVEY.md §2a S1/S2 + parquet extension)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from sql_based_etl_spark.engine.pipeline import PipelineContext
from sql_based_etl_spark.engine.sql_compat import (
    filters_column,
    normalize_filters,
)
from sql_based_etl_spark.tables.versioned import VersionedTable


_DELIMITERS = {"Comma": ",", "Tab": "\t", "Pipe": "|", "Semicolon": ";"}


def delimited_extract(ctx: PipelineContext, conf: dict) -> DataFrame:
    """S1 ``DelimitedExtract`` (scd2-job.ipynb:38-49): read delimited
    text into a view; header=false + quote=None ⇒ untyped all-string
    columns (_c0, _c1, …) for a later TypingTransform.

    ``authentication`` (scd2-job.ipynb:47-49) is accepted and ignored
    locally — on a cluster it maps to Hadoop S3A credential-provider
    conf, not engine code.
    """
    reader = (
        ctx.spark.read.option("header", bool(conf.get("header", False)))
        .option("sep", _DELIMITERS.get(conf.get("delimiter", "Comma"), conf.get("delimiter", ",")))
        .option("inferSchema", False)
    )
    quote = conf.get("quote", "DoubleQuote")
    reader = reader.option("quote", "" if quote in (None, "None") else '"')
    return reader.csv(conf["inputURI"])


def text_extract(ctx: PipelineContext, conf: dict) -> DataFrame:
    """Extension: line-oriented text extract (one ``value`` row per
    line; ``wholetext`` reads each file as a single row) — the input
    shape of the wordcount native job
    (native-spark-job-scheduler.yaml:12)."""
    reader = ctx.spark.read
    if conf.get("wholetext"):
        reader = reader.option("wholetext", True)
    return reader.text(conf["inputURI"])


def parquet_extract(ctx: PipelineContext, conf: dict) -> DataFrame:
    """Extension: columnar extract (the driver's tables; pushdown and
    pruning reach the scan via Catalyst)."""
    return ctx.spark.read.parquet(conf["inputURI"])


def json_extract(ctx: PipelineContext, conf: dict) -> DataFrame:
    """Extension: JSON-lines extract. ``schema`` (DDL string) skips the
    inference pass — at scale, always pass it (inference is a full
    extra read of the data)."""
    reader = ctx.spark.read
    if conf.get("schema"):
        reader = reader.schema(conf["schema"])
    multi_line = conf.get("multiLine")
    if multi_line is not None:
        reader = reader.option("multiLine", bool(multi_line))
    return reader.json(conf["inputURI"])


def orc_extract(ctx: PipelineContext, conf: dict) -> DataFrame:
    """Extension: ORC columnar extract (pushdown/pruning via Catalyst,
    same as parquet)."""
    return ctx.spark.read.orc(conf["inputURI"])


def versioned_table_extract(ctx: PipelineContext, conf: dict) -> DataFrame:
    """S2 ``DeltaLakeExtract`` incl. time travel (scd2-job.ipynb:418-427,
    461-472): ``options.relativeVersion`` (0 = latest, -1 = previous),
    ``options.versionAsOf`` (absolute), or ``options.timestampAsOf``
    (Delta parity — epoch seconds or ISO string, newest commit at or
    before that instant). ``options.filters`` — a list of
    ``[column, op, value]`` conjuncts, op one of ``= < <= > >= in``
    or ``is null`` / ``is not null`` (engine/sql_compat.py:
    normalize_filters) — enables data skipping: files whose stats
    can't match are never opened (the predicate is still applied
    row-level afterwards).

    Interop: when ``inputURI`` holds a REAL Delta table (a
    ``_delta_log`` directory exists), the stage routes to delta-spark
    if its jars are present, else to the engine's no-jar log-replay
    bridge (tables/delta_interop.py) — so notebooks pointed at the
    reference's actual Delta tables run unchanged. ``versionAsOf``,
    ``timestampAsOf`` and ``relativeVersion`` work on all three routes
    (the bridge resolves timestamps from commit-file modification
    times, the Delta protocol's own rule; the delta-spark library has
    no relativeVersion, so it is resolved to a versionAsOf through the
    bridge's log listing first). ``filters`` works on all three routes
    with one grammar and identical semantics: VersionedTable prunes
    from manifest stats and the bridge from ``add.stats`` + partition
    values (read_delta's ``where``), both through the filter list's
    scope tree; the library applies the predicate and does its own
    stats skipping.

    CDF: ``options.changesStartingVersion`` (+ optional
    ``changesEndingVersion``) returns the change feed instead of a
    snapshot. It deliberately pins the BRIDGE reader on every route —
    delta-spark's ``readChangeFeed`` emits a differently-named/typed
    timestamp column (``_commit_timestamp`` timestamp vs the bridge's
    exact ``_commit_timestamp_ms`` long), and a pipeline whose output
    schema changes when jars appear is the route-divergence trap the
    time-travel selectors above were cured of."""
    opts = conf.get("options", {}) or {}
    version = opts.get("versionAsOf")
    ts = opts.get("timestampAsOf")
    rel = opts.get("relativeVersion")
    # One selector contract for ALL routes (bridge, library,
    # VersionedTable): at most one of versionAsOf / timestampAsOf /
    # relativeVersion. Without this the library route silently let
    # relativeVersion overwrite an also-provided versionAsOf while the
    # bridge raised — same config, different behavior per route.
    if sum(x is not None for x in (version, ts, rel)) > 1:
        from sql_based_etl_spark.engine.pipeline import StageError

        raise StageError(
            "DeltaLakeExtract: pass at most one of options.versionAsOf / "
            "options.timestampAsOf / options.relativeVersion"
        )
    from sql_based_etl_spark.tables import delta_interop

    changes = opts.get("changesStartingVersion")
    if changes is not None and not delta_interop.is_delta_dir(
            ctx.spark, conf["inputURI"]):
        # a consumer expecting _change_type rows must never silently
        # receive a plain full snapshot instead
        from sql_based_etl_spark.engine.pipeline import StageError

        raise StageError(
            "DeltaLakeExtract: options.changesStartingVersion requires a "
            f"Delta table (no _delta_log at {conf['inputURI']}); the "
            "versioned table's change feed is the "
            "VersionedTableChangesExtract stage"
        )
    if delta_interop.is_delta_dir(ctx.spark, conf["inputURI"]):
        if changes is not None:
            # CDF consumption: rows as they changed in
            # [changesStartingVersion, changesEndingVersion] with
            # _change_type/_commit_version/_commit_timestamp_ms — the
            # Delta-table twin of the versioned table's change feed
            # (delta_interop.read_delta_changes). Selectors are
            # mutually exclusive with snapshot time travel.
            if sum(x is not None for x in (version, ts, rel)):
                from sql_based_etl_spark.engine.pipeline import StageError

                raise StageError(
                    "DeltaLakeExtract: options.changesStartingVersion "
                    "cannot be combined with snapshot time-travel options"
                )
            ev = opts.get("changesEndingVersion")
            return delta_interop.read_delta_changes(
                ctx.spark, conf["inputURI"], int(changes),
                int(ev) if ev is not None else None,
            )
        filters = opts.get("filters")
        if delta_interop.delta_available():
            reader = ctx.spark.read.format("delta")
            if rel is not None or ts is not None:
                # resolve BOTH selectors through the bridge's log
                # resolution so the library route shares the bridge's
                # contract: delta-spark has no relativeVersion at all,
                # and its timestampAsOf rejects the epoch-seconds form
                # the bridge and VersionedTable accept.
                version = delta_interop._resolve_log_version(  # noqa: SLF001
                    ctx.spark, conf["inputURI"], ts,
                    int(rel) if rel is not None else None,
                )
            if version is not None:
                reader = reader.option("versionAsOf", int(version))
            df = reader.load(conf["inputURI"])
            if filters:
                # same semantics as the bridge's where=: the library
                # does its own stats skipping from the filter
                df = df.filter(filters_column(normalize_filters(filters)))
            return df
        return delta_interop.read_delta(
            ctx.spark, conf["inputURI"],
            version=int(version) if version is not None else None,
            timestamp=ts,
            relative_version=int(rel) if rel is not None else None,
            where=filters or None,
        )
    t = VersionedTable(ctx.spark, conf["inputURI"])
    rel = opts.get("relativeVersion")
    filters = opts.get("filters")
    return t.read(
        version=int(version) if version is not None else None,
        relative_version=int(rel) if rel is not None else None,
        filters=filters or None,
        timestamp=opts.get("timestampAsOf"),
    )


def jdbc_extract(ctx: PipelineContext, conf: dict) -> DataFrame:
    """Arc ``JDBCExtract`` analogue: read an external JDBC table (or a
    pushed-down subquery via the parenthesized-``tableName`` idiom).

    Scale levers pass straight through to Spark's JDBC relation:
    ``partitionColumn``/``lowerBound``/``upperBound``/``numPartitions``
    split the read into concurrent range queries (without them a JDBC
    read is ONE task — never acceptable for a big table), ``fetchsize``
    batches the cursor. Catalyst pushes filters and projections into
    the remote query where the dialect allows."""
    reader = (
        ctx.spark.read.format("jdbc")
        .option("url", conf["jdbcURL"])
        .option("dbtable", conf["tableName"])
    )
    for key in ("partitionColumn", "lowerBound", "upperBound",
                "numPartitions", "fetchsize", "queryTimeout"):
        if key in conf:
            reader = reader.option(key, conf[key])
    return reader.load()


def versioned_table_changes_extract(ctx: PipelineContext, conf: dict) -> DataFrame:
    """Extension: change-data-feed extract — rows inserted/deleted
    between ``options.fromVersion`` and ``options.toVersion`` (default
    latest), tagged in a ``change_type`` column. The Delta
    ``readChangeFeed`` analogue; the diff reads only files the two
    manifests don't share (VersionedTable.changes)."""
    opts = conf.get("options", {}) or {}
    t = VersionedTable(ctx.spark, conf["inputURI"])
    to_v = opts.get("toVersion")
    return t.changes(
        from_version=int(opts["fromVersion"]),
        to_version=int(to_v) if to_v is not None else None,
    )
