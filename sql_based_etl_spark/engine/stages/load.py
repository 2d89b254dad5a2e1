"""Load / execute stages (SURVEY.md §2a S3/S4/S5)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from sql_based_etl_spark.engine.config import substitute_sql_params
from sql_based_etl_spark.engine.pipeline import PipelineContext, StageError
from sql_based_etl_spark.tables import files
from sql_based_etl_spark.tables.versioned import VersionedTable


def versioned_table_load(ctx: PipelineContext, conf: dict) -> DataFrame | None:
    """S3 ``DeltaLakeLoad`` (scd2-job.ipynb:162-172): write a view to a
    versioned table; ``numPartitions`` (:168) controls output file
    count / write parallelism, ``saveMode`` (:169) Overwrite/Append;
    ``options.mergeSchema`` allows an append to widen the table schema
    (Delta's option of the same name); ``options.clusterBy`` clusters
    the written files on the given columns (``options.clusterMethod``
    ``range``, the default, or ``zorder``; any other value fails the
    stage) so the manifest's per-file stats become selective
    (liquid-clustering analogue); ``options.statsColumns`` narrows
    stats collection on wide tables."""
    df = ctx.view(conf["inputView"])
    n = conf.get("numPartitions")
    opts = conf.get("options", {}) or {}
    if str(opts.get("protocol", "")).lower() == "delta":
        # emit the actual Delta transaction-log format so external
        # tooling can consume the table directly: through the
        # delta-spark library when its jars are importable (mirroring
        # the read route), else through the no-jar bridge.
        # options.forceBridge=true pins the bridge in jar-ful
        # environments (both write valid Delta).
        from sql_based_etl_spark.tables.delta_interop import (
            delta_available,
            write_delta,
        )

        # tableProperties pins the bridge: delta-spark's DataFrameWriter
        # has no portable per-write table-properties surface, and a
        # config that creates a CDF-enabled table in one environment
        # but a plain table where jars exist is exactly the per-route
        # divergence the extract selectors were cured of
        if delta_available() and not opts.get("tableProperties") and str(
                opts.get("forceBridge", False)).lower() != "true":
            writer = (
                (df.repartition(int(n)) if n else df)
                .write.format("delta")
                .mode(str(conf.get("saveMode", "Overwrite")).lower())
            )
            part_cols = conf.get("partitionBy")
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            if str(opts.get("mergeSchema", False)).lower() == "true":
                writer = writer.option("mergeSchema", "true")
            writer.save(conf["outputURI"])
            return None

        # distinguish 'absent' (default 10) from an explicit 0 / "0"
        # (the natural 'disable checkpointing' spelling → None)
        cpi = opts.get("checkpointInterval")
        write_delta(
            df.repartition(int(n)) if n else df,
            conf["outputURI"],
            mode=str(conf.get("saveMode", "Overwrite")).lower(),
            partition_by=conf.get("partitionBy"),
            checkpoint_interval=(
                10 if cpi is None else (int(cpi) or None)
            ),
            # CREATE-time table properties (metaData.configuration),
            # e.g. {"delta.enableChangeDataFeed": "true"}
            properties=opts.get("tableProperties"),
            # same option name as the library route's DataFrameWriter
            merge_schema=str(opts.get("mergeSchema", False)).lower() == "true",
        )
        return None
    t = VersionedTable(ctx.spark, conf["outputURI"])
    t.write(
        df,
        mode=str(conf.get("saveMode", "Overwrite")).lower(),
        # after ${VAR} splicing numPartitions may arrive as a string —
        # repartition("4") would treat it as a column name
        num_partitions=int(n) if n else None,
        operation="LOAD",
        merge_schema=str(opts.get("mergeSchema", False)).lower() == "true",
        cluster_by=opts.get("clusterBy"),
        cluster_method=str(opts.get("clusterMethod", "range")).lower(),
        stats_columns=opts.get("statsColumns"),
        bloom_filter_columns=opts.get("bloomFilterColumns"),
    )
    return None


def file_load(ctx: PipelineContext, conf: dict) -> DataFrame | None:
    """S6 native file sink (native-spark-job-scheduler.yaml:12-13, the
    wordcount job's ``df.write.save(argv[1])``): write a view to files.

    ``format`` parquet|json|orc|csv (default parquet); ``numPartitions``
    caps output file count (repartition before write — same knob as the
    reference's DeltaLakeLoad numPartitions); ``partitionBy`` writes
    hive-style partition directories, the 100 TB layout lever that lets
    downstream scans prune whole partitions.

    ``rangePartitionBy`` writes a RANGE-partitioned, within-file-sorted
    export (one range exchange + local sort): file k holds keys strictly
    below file k+1's, so each parquet footer's min/max covers a disjoint
    slice and a key-predicate scan prunes to ~one file — the sorted-
    export layout for handing data to consumers that binary-search or
    merge-join it. Combine with ``numPartitions`` to set the file
    count."""
    df = ctx.view(conf["inputView"])
    n = conf.get("numPartitions")
    range_cols = conf.get("rangePartitionBy")
    if range_cols:
        parts = [int(n)] if n else []
        df = df.repartitionByRange(*parts, *range_cols).sortWithinPartitions(
            *range_cols
        )
    elif n:
        df = df.repartition(int(n))
    writer = df.write.mode(str(conf.get("saveMode", "Overwrite")).lower())
    part_cols = conf.get("partitionBy")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    fmt = str(conf.get("format", "parquet")).lower()
    writer.format(fmt).save(conf["outputURI"])
    return None


def versioned_table_merge_load(ctx: PipelineContext, conf: dict) -> DataFrame | None:
    """S4 ``DeltaLakeMergeLoad`` (scd2-job.ipynb:337-354): MERGE a source
    view into the target table. Config shape mirrors the reference:
    ``condition`` (:344), ``whenMatchedUpdate.condition/values``
    (:345-350), ``whenNotMatchedByTargetInsert`` (:353).

    Target routing matches the extract/load stages: a ``_delta_log``
    directory routes to the bridge's :func:`merge_delta` (file-granular
    copy-on-write ``remove``+``add`` commit; real ``cdc`` actions when
    the table has CDF enabled), anything else to
    :meth:`VersionedTable.merge` — so the reference's S4 workhorse runs
    against the engine's own Delta output as well as its native
    tables."""
    from sql_based_etl_spark.tables.delta_interop import is_delta_dir, merge_delta

    df = ctx.view(conf["inputView"])
    wmu = conf.get("whenMatchedUpdate") or {}
    n = conf.get("numPartitions")
    # delete clauses (delta-spark's full MERGE surface): a present-but-
    # empty block means unconditional; a `condition` key gates it
    wmd = conf.get("whenMatchedDelete")
    nmbs = conf.get("whenNotMatchedBySourceDelete")
    kwargs = dict(
        source=df,
        condition=conf["condition"],
        when_matched_update=wmu.get("values"),
        matched_condition=wmu.get("condition"),
        insert_not_matched="whenNotMatchedByTargetInsert" in conf,
        num_partitions=int(n) if n else None,
        validate_unique_match=bool(conf.get("validateUniqueMatch", True)),
        when_matched_delete=(
            (wmd.get("condition") or "true") if wmd is not None else None),
        when_not_matched_by_source_delete=(
            (nmbs.get("condition") or "true") if nmbs is not None else None),
    )
    if is_delta_dir(ctx.spark, conf["outputURI"]):
        merge_delta(path=conf["outputURI"], **kwargs)
        return None
    t = VersionedTable(ctx.spark, conf["outputURI"])
    if not t.exists():
        raise StageError(f"merge target does not exist: {conf['outputURI']}")
    t.merge(**kwargs)
    return None


def sql_execute(ctx: PipelineContext, conf: dict) -> DataFrame | None:
    """S5 local form: execute side-effect SQL (catalog DDL) against the
    Spark session — the rebuild's stand-in for the reference's Athena
    DDL (scd2-job.ipynb:372-384). Returns no view."""
    if "sql" in conf:
        sql = conf["sql"]
    else:
        with open(conf["inputURI"]) as f:
            sql = f.read()
    for stmt in filter(None, (s.strip() for s in substitute_sql_params(sql, conf.get("sqlParams")).split(";"))):
        ctx.spark.sql(stmt)
    return None


def jdbc_execute(ctx: PipelineContext, conf: dict) -> DataFrame | None:
    """S5 ``JDBCExecute`` (scd2-job.ipynb:372-384): execute a SQL script
    against an external JDBC endpoint via the JVM's DriverManager.
    Requires the driver jar on the Spark classpath; without a
    ``jdbcURL`` it degrades to local :func:`sql_execute`."""
    url = conf.get("jdbcURL")
    if not url:
        return sql_execute(ctx, conf)
    if "sql" in conf:
        sql = conf["sql"]
    else:
        with open(conf["inputURI"]) as f:
            sql = f.read()
    sql = substitute_sql_params(sql, conf.get("sqlParams"))
    jvm = ctx.spark.sparkContext._jvm  # noqa: SLF001
    try:
        conn = jvm.java.sql.DriverManager.getConnection(url)
    except Exception as e:  # noqa: BLE001
        raise StageError(f"JDBCExecute: cannot connect to {url!r} "
                         f"(driver jar on classpath?): {e}") from e
    try:
        stmt = conn.createStatement()
        # split multi-statement scripts like sql_execute does — JDBC
        # Statement.execute takes one statement at a time (Athena DDL
        # scripts commonly hold several, scd2-job.ipynb:379)
        for piece in filter(None, (x.strip() for x in sql.split(";"))):
            stmt.execute(piece)
        stmt.close()
    finally:
        conn.close()
    return None


def jdbc_load(ctx: PipelineContext, conf: dict) -> DataFrame | None:
    """Arc ``JDBCLoad`` analogue: write a view to an external JDBC
    table. ``numPartitions`` bounds write concurrency (each partition
    opens one connection — at 100 TB the constraint is the *database's*
    ingest capacity, so this is a throttle, not a parallelism
    maximizer); ``batchsize`` amortizes row round-trips; ``truncate``
    reuses the existing table on overwrite instead of dropping it
    (preserves remote indexes/grants)."""
    df = ctx.view(conf["inputView"])
    n = conf.get("numPartitions")
    if n:
        df = df.repartition(int(n))
    writer = (
        df.write.format("jdbc")
        .option("url", conf["jdbcURL"])
        .option("dbtable", conf["tableName"])
        .mode(str(conf.get("saveMode", "Append")).lower())
    )
    for key in ("batchsize", "isolationLevel", "truncate"):
        if key in conf:
            writer = writer.option(key, conf[key])
    writer.save()
    return None


def incremental_agg_load(ctx: PipelineContext, conf: dict) -> DataFrame | None:
    """``IncrementalAggLoad``: maintain a grouped sum/count rollup of a
    versioned source table incrementally via its change-data-feed
    (tables/incremental.py) — the refresh reads only changed files plus
    the (small) aggregate table, never the full source.

    conf: ``inputURI`` (source table), ``outputURI`` (aggregate table),
    ``groupBy`` (list), ``sumColumns`` (list), ``numPartitions``."""
    from sql_based_etl_spark.tables.incremental import IncrementalAggregate

    n = conf.get("numPartitions")
    groups = conf["groupBy"]
    sums = conf.get("sumColumns", [])
    IncrementalAggregate(
        ctx.spark,
        conf["inputURI"],
        conf["outputURI"],
        group_cols=groups if isinstance(groups, list) else [groups],
        sum_cols=sums if isinstance(sums, list) else [sums],
        num_partitions=int(n) if n else None,
    ).refresh()
    return None


def versioned_table_maintenance(ctx: PipelineContext, conf: dict) -> DataFrame | None:
    """``VersionedTableMaintenance``: compact small files and/or vacuum
    old versions of a versioned table — the scheduled housekeeping job
    a streaming append sink needs (the reference schedules maintenance
    through the same Argo DAG machinery as its loads,
    scd2-job-scheduler.yaml:15-48).

    conf: ``inputURI``; optional ``restore`` {``version`` |
    ``relativeVersion``}, ``compact`` {``smallFileBytes``,
    ``numPartitions``} and ``vacuum`` {``retainVersions``} blocks —
    any subset, executed in that order (restore → compact → vacuum).

    When ``inputURI`` holds a REAL Delta table (a ``_delta_log``
    exists) the same blocks route to the bridge's maintenance ops:
    ``compact.numPartitions`` → :func:`compact_delta` target file
    count, ``vacuum.retentionHours`` (default 168) →
    :func:`vacuum_delta` (``retainVersions`` has no Delta meaning —
    Delta retention is time-based; ``vacuum.enforceRetentionCheck:
    false`` permits sub-168h windows). That vacuum also deletes change
    data files (``_change_data/``) older than the retention window, so
    change reads reach back only that far. ``restore`` raises: the
    bridge writes no re-point commits, use time-travel reads instead.

    Both routes rewrite files as zstd parquet (see
    ``tables/files.py:TABLE_FILE_COMPRESSION``)."""
    from sql_based_etl_spark.tables import delta_interop

    if delta_interop.is_delta_dir(ctx.spark, conf["inputURI"]):
        if conf.get("restore") is not None:
            raise StageError(
                "VersionedTableMaintenance: restore is not supported on "
                "Delta-bridge tables (read with versionAsOf / "
                "timestampAsOf and rewrite instead)"
            )
        c = conf.get("compact")
        if c is not None:
            if "smallFileBytes" in c:
                # versioned-table-only knob: dropping the user's explicit
                # threshold on the floor would silently change behavior
                # (restore on this route raises for the same reason)
                raise StageError(
                    "VersionedTableMaintenance: compact.smallFileBytes has "
                    "no Delta-bridge meaning (compact_delta bin-packs "
                    "everything); remove it or use compact.numPartitions"
                )
            delta_interop.compact_delta(
                ctx.spark, conf["inputURI"],
                target_files=int(c.get("numPartitions", 1)),
            )
        v = conf.get("vacuum")
        if v is not None:
            if "retainVersions" in v:
                raise StageError(
                    "VersionedTableMaintenance: vacuum.retainVersions has "
                    "no Delta-bridge meaning (Delta retention is "
                    "time-based); use vacuum.retentionHours"
                )
            delta_interop.vacuum_delta(
                ctx.spark, conf["inputURI"],
                retention_hours=float(v.get("retentionHours", 168.0)),
                enforce_retention_check=str(
                    v.get("enforceRetentionCheck", True)
                ).lower() != "false",
            )
        return None
    t = VersionedTable(ctx.spark, conf["inputURI"])
    r = conf.get("restore")
    if r is not None:
        ver, rel = r.get("version"), r.get("relativeVersion")
        t.restore(
            version=int(ver) if ver is not None else None,
            relative_version=int(rel) if rel is not None else None,
        )
    c = conf.get("compact")
    if c is not None:
        t.compact(
            small_file_bytes=int(c.get("smallFileBytes", 32 * 1024 * 1024)),
            num_partitions=int(c.get("numPartitions", 1)),
        )
    v = conf.get("vacuum")
    if v is not None:
        t.vacuum(retain_versions=int(v.get("retainVersions", 1)),
                 staging_grace_hours=float(
                     v.get("stagingGraceHours", 24.0)))
    return None


def bucketed_table_load(ctx: PipelineContext, conf: dict) -> DataFrame | None:
    """``BucketedTableLoad``: write a view as a bucketed (and
    optionally sort-ordered) managed table.

    Bucketing is the storage-layout lever for 100 TB joins: two tables
    bucketed by the same key into the same bucket count equi-join with
    NO exchange at all — the shuffle is paid once at write time and
    amortized over every later join/aggregation on the key
    (tests/test_plans.py asserts the exchange-free join plan)."""
    df = ctx.view(conf["inputView"])
    cols = conf["bucketBy"]
    cols = cols if isinstance(cols, list) else [cols]
    mode = str(conf.get("saveMode", "overwrite")).lower()
    if mode == "overwrite":
        # Crash-idempotence: a killed run can leave the warehouse dir on
        # disk with no catalog entry, and saveAsTable then fails with
        # LOCATION_ALREADY_EXISTS even in overwrite mode.  Drop any
        # catalog entry, then clear the orphaned location through the
        # shared file layer (a Hadoop delete: any scheme, not just local
        # disk).
        # Names may be database-qualified: quote each part separately
        # (a single backtick pair would make `db.tbl` one identifier)
        # and mirror the managed-table layout <warehouse>/<db>.db/<tbl>
        # for non-default databases.
        spark = df.sparkSession
        parts = conf["table"].split(".")
        qualified = ".".join(f"`{p}`" for p in parts)
        spark.sql(f"DROP TABLE IF EXISTS {qualified}")
        if len(parts) == 1:
            db = spark.catalog.currentDatabase()
            tbl = parts[0]
        else:
            db, tbl = parts[-2], parts[-1]
        rel = tbl.lower() if db == "default" else f"{db.lower()}.db/{tbl.lower()}"
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        files.delete(spark, f"{warehouse.rstrip('/')}/{rel}", recursive=True)
    writer = (
        df.write.mode(mode)
        .bucketBy(int(conf.get("numBuckets", 8)), *cols)
    )
    sort_cols = conf.get("sortBy")
    if sort_cols:
        writer = writer.sortBy(*(sort_cols if isinstance(sort_cols, list) else [sort_cols]))
    writer.format(str(conf.get("format", "parquet")).lower()).saveAsTable(conf["table"])
    return None


def validated_load(ctx: PipelineContext, conf: dict) -> DataFrame | None:
    """Write-audit-publish with automatic rollback: write ``inputView``
    as a new version of the target versioned table, AUDIT the committed
    snapshot with the same one-scan expectation set
    ``ExpectationsValidate`` uses, and on failure ROLL BACK — a
    metadata-only RESTORE to the pre-write version — before re-raising.

    Auditing the COMMITTED snapshot (not the input view) is the point:
    it validates exactly the bytes readers would see, including
    write-path surprises (schema coercion, partition clustering). The
    bad version stays in history for forensics — RESTORE re-points
    `latest`, it deletes nothing — and readers' time-travel semantics
    never observe the bad snapshot as latest once the stage returns.
    On a first-ever write there is nothing to restore; the failed table
    is left in place and the error says so."""
    from sql_based_etl_spark.engine.stages.validate import (
        check_expectations,
        compile_expectations,
    )

    df = ctx.view(conf["inputView"])
    label = f"ValidatedLoad {conf.get('name', '')!r}"
    # Config errors (empty list, unrecognized entry, column typo) must
    # surface BEFORE the write: detecting them only in the post-commit
    # audit costs a full data write plus two junk versions (bad version
    # + restore) — or a dangling table on a first-ever write.
    compile_expectations(conf.get("expectations"), label)
    # case-INSENSITIVE, matching Spark's default analyzer resolution
    # in check_expectations — a case-mismatched name that validates
    # fine post-commit must not be rejected pre-write
    have = {c.lower() for c in df.columns}
    missing = sorted({
        e["column"] for e in conf.get("expectations")
        if e.get("column") and e["column"].lower() not in have
    })
    if missing:
        raise StageError(
            f"{label}: expectation columns not in inputView: {missing}"
        )
    t = VersionedTable(ctx.spark, conf["outputURI"])
    prev = t.latest_version() if t.exists() else None
    n = conf.get("numPartitions")
    t.write(
        df,
        mode=str(conf.get("saveMode", "Overwrite")).lower(),
        num_partitions=int(n) if n else None,
        operation="VALIDATED_WRITE",
    )
    try:
        check_expectations(t.read(), conf.get("expectations"), label)
    except StageError as e:
        if prev is not None:
            t.restore(prev)
            raise StageError(
                f"{e} — rolled back to version {prev} (the failed "
                "version remains in history for forensics)"
            ) from e
        raise StageError(
            f"{e} — no prior version to roll back to; the failed table "
            f"remains at {conf['outputURI']}"
        ) from e
    return None
