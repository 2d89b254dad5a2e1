"""Structured-Streaming SOURCE over bridge Delta tables — the missing
half of streaming Delta interop (the sink half is
``streaming/events.py:stream_append_to_delta``): the library's
``spark.readStream.format("delta")``, re-expressed as a PySpark 4
Python DataSource (``pyspark.sql.datasource.DataSourceStreamReader``).

Why a real data source and not a driver loop: Spark owns the offset
log (``checkpointLocation``), so restart/replay semantics come from
the engine itself — a killed query resumes at the first uncommitted
offset with NO custom checkpoint code, exactly like the library
source; and file reads run in EXECUTOR Python workers (pyarrow), so
the driver plans versions and never touches row data.

Offset contract (mirrors ``tables/delta_interop.py:read_delta_appends``,
which is also the library streaming source's): an offset is the log
version processed THROUGH; each micro-batch is the commits
``(start, end]``. ``dataChange: false`` commits (OPTIMIZE/REORG) are
invisible; a data-changing remove raises — unless
``ignoreDeletes=true``, which skips PURE-delete commits (DV deletes,
full-file removes) while overwrites stay fatal (their rewritten files
may carry new rows — that needs CDF semantics, not an append reader).
Schema changes and deletion-vector adds refuse loudly.

``readChangeFeed=true`` (round-11) switches to the CDF stream the
library exposes under the same option: each commit's CHANGE ROWS flow
instead — ``_change_type`` / ``_commit_version`` /
``_commit_timestamp_ms`` appended to the table schema, cdc actions
read verbatim when the commit wrote them (merge updates, DV deletes),
adds/removes derived as insert/delete rows otherwise (batch semantics
lifted from ``read_delta_changes``). Non-append commits are DATA here,
not errors; the table must have ``delta.enableChangeDataFeed=true``.

The planner runs in an isolated Python process WITHOUT a JVM gateway,
so it plans from the bridge's own log reader on the shared file
layer's no-JVM lane (``tables/files.py`` with ``spark=None``: ``os`` on
local paths, pyarrow filesystems for URIs — the lane the DV kernels use
on executors): ``delta_interop._list_log`` lists the commits,
``_replay_state`` gives the table's metaData (from any checkpoint
layout when the log head was pruned), and ``_read_commit`` reads each
commit with the batch readers' refusal rules and commit timestamp, so
a commit's ``_commit_timestamp_ms`` here equals the one batch
``read_delta_changes`` gives.

Column-mapped tables stream through the physical→logical rename;
hive-partitioned tables get their partition values injected from the
add action (typed from the schema). Reader-side unsupported shapes
(live DVs on new adds) fail loudly at plan time, never silently drop
rows.

Usage::

    from sql_based_etl_spark.streaming.delta_source import (
        register_delta_bridge_source)
    register_delta_bridge_source(spark)
    stream = (spark.readStream.format("delta_bridge")
              .option("path", table_path)
              .option("ignoreDeletes", "true")
              .load())
    # feed the existing exactly-once sink:
    stream.writeStream.foreachBatch(
        lambda df, bid: append_stream_batch(df, bid, sink_path)
    ).option("checkpointLocation", ckpt).start()

Delta-parity reference: delta-spark's ``DeltaSource`` (the
``readStream.format("delta")`` path the reference ecosystem runs —
scd2-job.ipynb:153's tables are Delta).
"""

from __future__ import annotations

import json
import urllib.parse
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from sql_based_etl_spark.tables.delta_interop import (
    _dv_row_indexes,
    _flag,
    _list_log,
    _read_commit,
    _replay_state,
    _schema_contains_type,
)

_WHO = "delta_bridge source"


def _phys_to_logical(meta: dict) -> dict[str, str]:
    """physical name → logical name for column-mapped tables (empty
    when the table is unmapped)."""
    conf = meta.get("configuration") or {}
    if conf.get("delta.columnMapping.mode", "none") == "none":
        return {}
    out = {}
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        out[md.get("delta.columnMapping.physicalName", f["name"])] = f["name"]
    return out


_CDF_COLS = ("_change_type", "_commit_version", "_commit_timestamp_ms")


@dataclass
class _FilePartition(InputPartition):
    """One new data file of one micro-batch: everything the executor
    read needs, shipped by value (paths, renames, typed partition
    values; CDF mode adds the change-row stamps) — no driver
    callbacks."""

    file_path: str = ""
    schema_json: str = ""
    rename: dict = field(default_factory=dict)
    partition_values: dict = field(default_factory=dict)
    # CDF mode: None → the file is a cdc file carrying _change_type
    # physically; "insert"/"delete" → whole-file derivation stamp
    change_type: str | None = None
    commit_version: int = -1
    commit_ts_ms: int = -1
    cdf: bool = False
    # delete derivation of a DV-carrying remove: rows the DV already
    # deleted were NOT live at removal and must not fabricate delete
    # rows — the executor masks them by row position (JSON descriptor +
    # the table root the 'u' storage resolves against)
    dv_desc: str | None = None
    table_path: str = ""


class DeltaBridgeStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self._schema = schema
        path = options.get("path")
        if not path:
            raise ValueError(
                "delta_bridge source: option 'path' is required")
        self._path = path.rstrip("/")
        self._log_dir = f"{self._path}/_delta_log"
        self._ignore_deletes = str(
            options.get("ignoredeletes", options.get("ignoreDeletes",
                                                     "false"))
        ).lower() == "true"
        # readChangeFeed=true streams CHANGE ROWS (_change_type /
        # _commit_version / _commit_timestamp_ms) instead of refusing
        # non-append commits: merge updates, DV deletes and overwrites
        # all flow as CDF rows — the library's
        # readStream.option("readChangeFeed", true), batch semantics
        # lifted from tables/delta_interop.py:read_delta_changes
        self._cdf = str(
            options.get("readchangefeed", options.get("readChangeFeed",
                                                      "false"))
        ).lower() == "true"
        sv = options.get("startingversion", options.get("startingVersion"))
        st = options.get("startingtimestamp",
                         options.get("startingTimestamp"))
        if sv is not None and st is not None:
            raise ValueError(
                "delta_bridge source: pass at most one of "
                "startingVersion / startingTimestamp")
        # library semantics: startingVersion=N streams commit N
        # INCLUSIVE; offsets record the version processed THROUGH, so
        # the initial offset is N-1. startingTimestamp streams every
        # commit at-or-after the timestamp (ICT when the commit carries
        # one, else log-file mtime — the same rule as timestamp time
        # travel), resolved lazily on the COLD start that uses it
        # (restarts resume from Spark's offset log, both ignored — the
        # library behaves the same). Default: from the beginning
        # (version 0's CREATE adds are the initial snapshot).
        self._start = int(sv) - 1 if sv is not None else -1
        self._start_ts = st
        mct = options.get("maxcommitspertrigger",
                          options.get("maxCommitsPerTrigger"))
        # rate limiting (the library's maxFilesPerTrigger analogue, at
        # commit granularity): a backlog catch-up processes at most N
        # commits per micro-batch instead of one giant batch — the
        # FIRST batch included (round-11). The base is always knowable
        # by the first latestOffset call: on every RESTART shape Spark
        # replays partitions(committed_start, committed_end) from its
        # offset log BEFORE asking for a latest offset (probed on
        # processingTime, availableNow, and crash-recovery WAL replay —
        # PLANS.md round-11), which seeds _seen with the committed
        # version; reaching latestOffset with _seen still None
        # therefore means a genuine COLD start, whose base is the
        # configured startingVersion. Documented caveat: an
        # availableNow run plans ONE batch to the offset this reports,
        # so a capped cold start drains maxCommitsPerTrigger commits
        # per run (re-run to continue; omit the cap to drain fully in
        # one availableNow run).
        self._max_commits = int(mct) if mct is not None else None
        if self._max_commits is not None and self._max_commits < 1:
            raise ValueError(
                "delta_bridge source: maxCommitsPerTrigger must be >= 1")
        self._seen: int | None = None
        self._meta_cache: dict | None = None

    # -- planning (driver-side isolated Python worker, plain IO) ------

    def _resolve_start(self) -> int:
        """Resolve startingTimestamp → the version BEFORE the first
        commit at-or-after the cutoff (offsets record processed-
        THROUGH); no such commit → the current latest (only future
        commits stream). Cached; plain IO."""
        if self._start_ts is not None:
            from sql_based_etl_spark.tables.versioned import (
                parse_timestamp_cutoff,
            )

            cutoff_ms = parse_timestamp_cutoff(self._start_ts) * 1000.0
            logs = _list_log(None, self._log_dir)
            if not logs:
                raise ValueError(
                    f"delta_bridge source: no Delta log at "
                    f"{self._log_dir}")
            start = max(logs)
            for v in sorted(logs):
                if _read_commit(None, self._log_dir, logs, v,
                                _WHO)[3] >= cutoff_ms:
                    start = v - 1
                    break
            self._start = start
            self._start_ts = None
        return self._start

    def initialOffset(self) -> dict:
        # called on a FRESH start, and ALSO during restart recovery to
        # reconstruct batch 0's start — never LOWER the watermark the
        # partitions() replay already established (a momentary
        # rollback there could let a later latestOffset cap below the
        # committed version)
        start = self._resolve_start()
        if self._seen is None:
            self._seen = start
        return {"version": start}

    def latestOffset(self) -> dict:
        logs = _list_log(None, self._log_dir)
        if not logs:
            raise ValueError(
                f"delta_bridge source: no Delta log at {self._log_dir}")
        latest = max(logs)
        if self._max_commits is not None:
            if self._seen is None:
                # genuinely cold start (every restart shape seeds _seen
                # via the partitions() replay before this call — see
                # __init__): the base is the configured start, so the
                # cap bounds the FIRST batch too
                self._seen = self._resolve_start()
            latest = max(min(latest, self._seen + self._max_commits),
                         self._seen)
            self._seen = latest
        return {"version": latest}

    def _meta(self) -> dict:
        if self._meta_cache is None:
            self._meta_cache = _replay_state(None, self._path)[0]
        return self._meta_cache

    def partitions(self, start: dict, end: dict):
        """One partition per data file of commits ``(start, end]``,
        each commit read by ``delta_interop._read_commit`` — the batch
        readers' refusal rules. Append mode: the data-changing adds.
        CDF mode (batch ``read_delta_changes``' derivation): the cdc
        files when the commit wrote them, else adds as insert rows and
        removes as delete rows."""
        sv, ev = int(start["version"]), int(end["version"])
        self._seen = ev if self._seen is None else max(self._seen, ev)
        logs = _list_log(None, self._log_dir)
        meta = self._meta()
        if self._cdf and not _flag(meta.get("configuration"),
                                   "delta.enableChangeDataFeed"):
            raise ValueError(
                "delta_bridge source: readChangeFeed=true but "
                "delta.enableChangeDataFeed is not set on the table — "
                "the log records no change data"
            )
        rename = _phys_to_logical(meta)

        def part(action: dict, **cdf) -> _FilePartition:
            rel = urllib.parse.unquote(action["path"])
            return _FilePartition(
                file_path=(rel if "://" in rel or rel.startswith("/")
                           else f"{self._path}/{rel}"),
                schema_json=meta["schemaString"], rename=dict(rename),
                partition_values=dict(action.get("partitionValues") or {}),
                table_path=self._path, **cdf)

        parts: list[_FilePartition] = []
        for v in range(sv + 1, ev + 1):
            commit = _read_commit(None, self._log_dir, logs, v, _WHO, meta,
                                  cdf=self._cdf,
                                  ignore_deletes=self._ignore_deletes)
            if commit is None:  # a pure delete under ignoreDeletes
                continue
            adds, removes, cdcs, ts_ms = commit
            if not self._cdf:
                parts.extend(part(a) for a in adds.values())
                continue
            stamp = {"cdf": True, "commit_version": v, "commit_ts_ms": ts_ms}
            if cdcs:
                parts.extend(part(c, **stamp) for c in cdcs.values())
                continue
            parts.extend(part(a, change_type="insert", **stamp)
                         for a in adds.values())
            for r in removes.values():
                dv = r.get("deletionVector")
                parts.append(part(r, change_type="delete",
                                  dv_desc=json.dumps(dv) if dv else None,
                                  **stamp))
        return parts

    def commit(self, end: dict) -> None:
        pass  # Spark's offset log is the durable record

    # -- execution (executor Python workers, pyarrow) -----------------

    def read(self, partition: _FilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType as _ST
        from pyspark.sql.types import _parse_datatype_json_string

        spark_schema = _parse_datatype_json_string(partition.schema_json)
        assert isinstance(spark_schema, _ST)
        target = to_arrow_schema(spark_schema)
        tbl = pq.read_table(partition.file_path)
        if partition.dv_desc:
            # delete derivation of a DV-carrying remove: rows the DV
            # already marked dead were deleted in an EARLIER commit
            # (their cdc delete rows were emitted then) — emitting them
            # again would double-delete downstream; mask by position,
            # matching batch read_delta_changes (which routes removes
            # through the DV-applying snapshot reader)
            import numpy as np

            dead = _dv_row_indexes(None, partition.table_path,
                                   json.loads(partition.dv_desc))
            mask = np.ones(tbl.num_rows, dtype=bool)
            mask[dead[dead < tbl.num_rows]] = False
            tbl = tbl.filter(pa.array(mask))
        if partition.rename:
            tbl = tbl.rename_columns([
                partition.rename.get(c, c) for c in tbl.column_names
            ])
        logical_pv = {
            partition.rename.get(k, k): v
            for k, v in partition.partition_values.items()
        }
        n = tbl.num_rows
        cols = []
        for f in target:
            if f.name in tbl.column_names:
                cols.append(tbl.column(f.name).cast(f.type))
            elif f.name in logical_pv:
                raw = logical_pv[f.name]
                if raw is None:
                    cols.append(pa.nulls(n, type=f.type))
                else:
                    cols.append(pa.array([raw] * n).cast(f.type))
            elif f.nullable:
                # a file written before a mergeSchema column add lacks
                # the column; readers fill NULL (the bridge's batch
                # reader and the library do the same)
                cols.append(pa.nulls(n, type=f.type))
            else:
                raise ValueError(
                    f"delta_bridge source: non-nullable column "
                    f"{f.name!r} is neither in {partition.file_path} "
                    "nor a partition value"
                )
        names = [f.name for f in target]
        if partition.cdf:
            if partition.change_type is None:
                # cdc file: _change_type is stored verbatim
                if "_change_type" not in tbl.column_names:
                    raise ValueError(
                        f"delta_bridge source: cdc file "
                        f"{partition.file_path} carries no _change_type "
                        "column"
                    )
                ct = tbl.column("_change_type").cast(pa.string())
            else:
                ct = pa.array([partition.change_type] * n,
                              type=pa.string())
            cols.extend([
                ct,
                pa.array([partition.commit_version] * n, type=pa.int64()),
                pa.array([partition.commit_ts_ms] * n, type=pa.int64()),
            ])
            names.extend(_CDF_COLS)
        out = pa.table(dict(zip(names, cols)))
        yield from out.to_batches(max_chunksize=1 << 16)


class DeltaBridgeStreamDataSource(DataSource):
    """``spark.readStream.format("delta_bridge")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "delta_bridge"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "delta_bridge source: option 'path' is required")
        meta = _replay_state(None, path.rstrip("/"))[0]
        if _schema_contains_type(json.loads(meta["schemaString"]),
                                 {"variant"}):
            # batch reads serve variant natively (Spark's JVM parquet
            # reader), but this source's executor lane reads files via
            # pyarrow, which predates the VARIANT parquet logical type
            # and cannot even open those footers — refuse AT STREAM
            # DEFINITION with the workaround named, never mid-batch
            raise ValueError(
                "delta_bridge source: this table has a variant column, "
                "and the source's executor read lane (pyarrow) cannot "
                "parse the VARIANT parquet logical type — read the "
                "table in batch (read_delta serves variant natively), "
                "or stream a non-variant projection table"
            )
        st = StructType.fromJson(json.loads(meta["schemaString"]))
        if str(self.options.get(
                "readchangefeed",
                self.options.get("readChangeFeed", "false"))
               ).lower() == "true":
            if not _flag(meta.get("configuration"),
                         "delta.enableChangeDataFeed"):
                raise ValueError(
                    "delta_bridge source: readChangeFeed=true but "
                    "delta.enableChangeDataFeed is not set on the table "
                    "— the log records no change data"
                )
            from pyspark.sql.types import LongType, StringType

            st = (st.add("_change_type", StringType())
                    .add("_commit_version", LongType())
                    .add("_commit_timestamp_ms", LongType()))
        return st

    def streamReader(self, schema: StructType):
        return DeltaBridgeStreamReader(schema, self.options)


def register_delta_bridge_source(spark) -> None:
    """Register the ``delta_bridge`` streaming format on a session."""
    spark.dataSource.register(DeltaBridgeStreamDataSource)
