"""Parquet + JSON-manifest versioned table: the engine's persistent
storage abstraction.

Provides the Delta-Lake-shaped semantics the reference pipeline relies
on (SURVEY.md §1): ACID-ish overwrite load (scd2-job.ipynb:162-172),
MERGE upsert (scd2-job.ipynb:337-354), and time travel incl. Arc's
``relativeVersion`` (scd2-job.ipynb:461-472) — without external jars
(the sandbox has no delta-spark; the stage API is format-agnostic so a
Delta backend can be swapped in where its jars exist).

Layout::

    <root>/_meta/v{N:08d}.json   one manifest per version
    <root>/data/v{N:08d}/        parquet files written by that version

A manifest lists the **files** composing its snapshot — copy-on-write
at file granularity, like Delta/Iceberg: a version may reference files
written by earlier versions. Readers list ``_meta`` and take the
highest N; a reader never sees a half-written version because the
manifest is published atomically (full temp write + no-overwrite
rename on rename-capable stores; one conditional PUT on object stores,
where the object materializes whole at close) and only after the data
files are fully written. Blind APPENDS get optimistic concurrency
(round 10) — the claim loser re-bases on the winner's snapshot and
retries at the next version, staging into per-writer unique data dirs
so racers never collide before the manifest claim, and the
exactly-once stream sink detects a racing duplicate of the SAME
micro-batch by its recorded stream_batch_id. MERGE and COMPACT races
are CLASSIFIED by the same rules as the Delta bridge's
(:func:`classify_winner`): a COMPACT racing a blind append rebases and
retries (the hourly-append + nightly-OPTIMIZE shape), while winners
that evolved the schema or touched the loser's read/removed files
raise the named conflict instead of a raw lost-race error. OVERWRITE and RESTORE remain single-winner
(they replace the snapshot wholesale — matching the reference's Argo
DAG, scd2-job-scheduler.yaml:47-48, which serializes them behind
their dependencies).

Manifest reads, listings and deletes go through the shared file layer
(``tables/files.py``): ``os`` on local paths, the Hadoop FileSystem
elsewhere, so a table can live on any Hadoop-supported filesystem —
``file://`` locally, ``hdfs://``/``s3a://`` on a cluster (the
reference's tables are on S3, scd2-job.ipynb:42,167). Manifest commit
goes through :func:`publish_text_exclusive`: two writers racing to the
same version number get optimistic-concurrency semantics on EVERY FS
type — the loser's commit raises instead of silently overwriting
(pytest-pinned), including object stores, where the create maps to a
conditional PUT on Hadoop ≥ 3.4.1 S3A.

Scale posture: MERGE joins the source against only the target files
that contain matching rows (found by one join over
``input_file_name()``, :func:`matched_files`) and rewrites only those;
untouched files are
carried forward by reference. APPEND writes only the new files. The
``repartitionBeforeWrite`` knob (scd2-job-scheduler.yaml:63-64) maps
to ``num_partitions``.

Data skipping (Delta/Iceberg-style): every commit records per-file
min/max/null-count stats for scalar columns in the manifest, and
:meth:`read` takes simple conjunctive ``filters`` that prune
non-matching files **driver-side, from metadata alone** — a selective
scan over a 100 TB table opens only the files whose stat range
intersects the predicate, before Spark plans anything. Writes accept
``cluster_by`` (range-partition + sort, the liquid-clustering
analogue) so file stat ranges are narrow and pruning actually bites.
"""

from __future__ import annotations

import json
import time
import urllib.parse
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_based_etl_spark.tables import files
from sql_based_etl_spark.tables.files import DataFile, write_files


class VersionedTableError(RuntimeError):
    pass


class CommitRaceLostError(VersionedTableError):
    """Raised by :func:`publish_text_exclusive` when another writer
    published the same entry first. Distinct from the base class so an
    optimistic-concurrency layer (the Delta bridge's commit retry, and
    VersionedTable's own append retry) can catch exactly the lost race
    — never an IO failure or a protocol violation — and re-attempt at
    the next version after conflict analysis."""


class ConcurrentStreamBatchError(VersionedTableError):
    """An append retry found the SAME ``stream_batch_id`` already
    committed by a racing writer: two instances of one exactly-once
    sink raced the same micro-batch. The payload is in the table once;
    the caller (``append_stream_batch``) treats this as
    already-committed rather than double-appending."""


# The conflict family both formats raise when a lost commit race cannot
# be retried past (delta-spark's ConcurrentModificationException
# family; :func:`classify_winner` picks the member).
class ConcurrentModificationError(VersionedTableError):
    """A commit raced a winner whose changes cannot be proven disjoint
    from this operation."""


class ProtocolChangedError(ConcurrentModificationError):
    pass


class MetadataChangedError(ConcurrentModificationError):
    pass


class ConcurrentAppendError(ConcurrentModificationError):
    pass


class ConcurrentDeleteReadError(ConcurrentModificationError):
    pass


class ConcurrentDeleteDeleteError(ConcurrentModificationError):
    pass


class ConcurrentTransactionError(ConcurrentModificationError):
    pass


# the native format's names for the same classes
VersionedConcurrentModificationError = ConcurrentModificationError
VersionedSchemaChangedError = MetadataChangedError
VersionedConcurrentAppendError = ConcurrentAppendError
VersionedConcurrentDeleteReadError = ConcurrentDeleteReadError
VersionedConcurrentDeleteDeleteError = ConcurrentDeleteDeleteError


# Object stores where rename is a non-atomic copy+delete but a created
# object is invisible until close (one atomic PUT) — there the
# conditional create of the final object is both the arbiter and the
# atomic publish. Everywhere else (file/hdfs/abfs/viewfs/...) rename is
# atomic and FileContext.rename(Rename.NONE) is put-if-absent.
_OBJECT_STORE_SCHEMES = {"s3", "s3a", "s3n", "gs", "oss", "cos", "cosn", "obs", "wasb", "wasbs"}
_STALE_TEMP_SECONDS = 3600.0


def _is_already_exists(e: Exception) -> bool:
    jcls = ""
    if hasattr(e, "java_exception"):
        try:
            jcls = e.java_exception.getClass().getName()
        except Exception:
            jcls = ""
    return "AlreadyExists" in jcls or "already exists" in str(e).lower()


def publish_text_exclusive(spark: SparkSession, dir_path: str, name: str,
                           data: str, *, what: str = "manifest") -> None:
    """Publish ``data`` at ``<dir_path>/<name>`` with BOTH at-most-once
    arbitration (two writers racing the same name: exactly one wins, the
    loser RAISES — never last-writer-wins) and atomic visibility (a
    reader that can list the final name can parse it in full — never a
    truncated entry).

    Route 1 — rename-capable stores (``file://``, ``hdfs://``, ABFS,
    viewfs; anything with an ``AbstractFileSystem`` binding that is not
    a copy+delete object store): write the full payload to a
    dot-prefixed temp in the same directory (invisible to version
    listings, which match ``v*.json`` / ``%020d.json``), close it, then
    publish via ``FileContext.rename(src, dst, Options.Rename.NONE)`` —
    the reference Delta ``HDFSLogStore`` pattern. On HDFS the
    no-overwrite rename is arbitrated at the namenode (exact
    put-if-absent); on the local FS it is an existence check followed
    by an atomic ``rename(2)`` (a microsecond code window, vs. the
    unbounded pause window the old staleness-reclaim protocol carried —
    and with NO reclaim rule here, nothing ever deletes a live writer's
    in-flight file, so the wake-up-and-clobber hole cannot reopen).
    Readers can never observe a partial final file because the final
    name only ever appears via rename of a fully-written, closed temp.
    A crash at ANY point leaves at worst an orphan dot-temp — never a
    truncated final entry, never a bricked version; orphans are swept
    opportunistically after ``_STALE_TEMP_SECONDS`` by later commits.

    Route 2 — object stores (and schemes with no ``FileContext``
    binding): ONE conditional create of the final object itself (S3A
    maps it to ``If-None-Match`` conditional PUT on Hadoop ≥ 3.4.1;
    older S3A does HEAD-then-PUT — front with a lock service there, the
    pre-conditional-put Delta-on-S3 pattern). Visibility is already
    atomic there — the object materializes fully-formed at close; a
    crash mid-write uploads nothing. A non-crash write/close failure
    deletes the final object before re-raising, so a transient IO error
    cannot leave a truncated entry behind.

    Net: on every supported store, a listed final entry is a complete
    entry, and the loser of a version race raises at publish time."""
    import uuid

    jvm = spark.sparkContext._jvm  # noqa: SLF001
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    jdir = jvm.org.apache.hadoop.fs.Path(dir_path)
    fs = jdir.getFileSystem(conf)
    fs.mkdirs(jdir)
    final = jvm.org.apache.hadoop.fs.Path(f"{dir_path}/{name}")
    scheme = (fs.getUri().getScheme() or "file").lower()
    payload = bytearray(data.encode("utf-8"))

    fc = None
    if scheme not in _OBJECT_STORE_SCHEMES:
        try:
            fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri(), conf)
        except Exception:
            fc = None  # no AbstractFileSystem binding — fall through to route 2

    if fc is None:
        # Route 2: conditional create of the final object.
        try:
            out = fs.create(final, False)  # put-if-absent: loser raises
        except Exception as e:  # Py4J-wrapped java.io exceptions
            if _is_already_exists(e):
                raise CommitRaceLostError(
                    f"concurrent commit detected for {what} {name} at "
                    f"{dir_path}: the entry already exists"
                ) from None
            raise
        try:
            try:
                out.write(payload)
            finally:
                out.close()
        except Exception:
            # ADVICE r6: a transient IO failure must not leave a
            # truncated final entry that bricks the version — remove it
            # before surfacing the error (on S3A nothing was uploaded;
            # the delete is a no-op there).
            try:
                fs.delete(final, False)
            except Exception:
                pass
            raise
        return

    # Route 1: full temp write, then no-overwrite rename publish.
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{dir_path}/.{name}.{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, True)
    try:
        try:
            out.write(payload)
        finally:
            out.close()
    except Exception:
        try:
            fs.delete(tmp, False)
        except Exception:
            pass
        raise
    gw = spark.sparkContext._gateway  # noqa: SLF001
    rename_enum = jvm.org.apache.hadoop.fs.Options.Rename
    opts = gw.new_array(rename_enum, 1)
    opts[0] = rename_enum.NONE
    try:
        fc.rename(tmp, final, opts)
    except Exception as e:
        try:
            fs.delete(tmp, False)
        except Exception:
            pass
        if _is_already_exists(e):
            raise CommitRaceLostError(
                f"concurrent commit detected for {what} {name} at "
                f"{dir_path}: the entry already exists"
            ) from None
        raise
    _sweep_stale_temps(fs, jdir)


def _sweep_stale_temps(fs, jdir) -> None:
    """Best-effort reclamation of crashed writers' orphan dot-temps.

    Only files matching the publish temp shape (``.<name>.<hex>.tmp``)
    and older than ``_STALE_TEMP_SECONDS`` are touched — a LIVE writer's
    temp is at most seconds old (one buffered write of a small JSON
    payload), so unlike the removed claim-reclaim protocol this can
    never delete an entry another writer is about to publish: the temp
    is private to its writer (uuid-suffixed) and deleting it after the
    rename has happened is a no-op on the published final file."""
    try:
        cutoff_ms = (time.time() - _STALE_TEMP_SECONDS) * 1000.0
        for st in fs.listStatus(jdir):
            n = st.getPath().getName()
            if (n.startswith(".") and n.endswith(".tmp")
                    and st.getModificationTime() < cutoff_ms):
                try:
                    fs.delete(st.getPath(), False)
                except Exception:
                    pass
    except Exception:
        pass


def parse_timestamp_cutoff(timestamp: float | str) -> float:
    """``timestampAsOf`` argument → epoch seconds. Accepts epoch
    seconds (number or string — notebook variable substitution is
    string-typed, so ``'1700000000.5'`` is the common arrival shape) or
    an ISO ``'YYYY-MM-DD[ HH:MM:SS]'`` string (naive = UTC). Shared by
    the versioned table and the Delta-bridge reader so both time-travel
    surfaces parse identically."""
    if isinstance(timestamp, str):
        import datetime as _dt

        try:
            return float(timestamp)
        except ValueError:
            pass
        try:
            ts = _dt.datetime.fromisoformat(timestamp)
        except ValueError as e:
            raise VersionedTableError(
                f"timestampAsOf {timestamp!r} is neither epoch seconds "
                "nor an ISO 'YYYY-MM-DD[ HH:MM:SS]' string"
            ) from e
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        return ts.timestamp()
    return float(timestamp)


def _sql_literal(v: object) -> str:
    """Render a parsed-JSON config value as a SQL expression string."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return "null"
    if isinstance(v, (int, float)):
        return repr(v)
    return str(v)


def _manifest_tree_may_match(fstats: dict | None, tree,
                             types: dict[str, str]) -> bool:
    """Scope-tree evaluation over one file's manifest stats
    (``{rows, columns: {col: {min, max, nulls}}}``) — the native
    table's lane of the shared subset-lattice analysis (see
    engine/sql_compat.py:eval_scope_tree), and its one data-skipping
    decision for filtered reads, MERGE candidate scans and
    predicate-scoped OCC: False only when the predicate provably
    excludes every row of the file. Missing stats / columns keep the
    file. ``types`` maps column → manifest schema type: literals coerce
    to it as the bridge's do (sql_compat.prune_coerce), datetimes on
    timestamp columns to the ISO text their stats hold; a literal that
    won't coerce (a timestamp spelled as a string, which Spark would
    cast) leaves only the null-count proof."""
    import datetime as _dt

    from sql_based_etl_spark.engine.sql_compat import (
        KLEENE_ANY,
        eval_scope_tree,
        prune_coerce,
        stats_value_set,
    )

    if fstats is not None and fstats.get("rows") == 0:
        return False  # a zero-row file matches nothing
    cols = (fstats or {}).get("columns") or {}
    num = (fstats or {}).get("rows")

    def _coerce(typ: str | None, v):
        if typ is not None and typ.startswith("timestamp"):
            # manifests written before timestamps lost their bounds hold
            # them as ISO text with a space separator
            return (v.isoformat(sep=" ") if isinstance(v, _dt.datetime)
                    else None)
        return prune_coerce(typ, v)

    def _atom(c: str, op: str, lit) -> frozenset:
        cs = cols.get(c)
        if cs is None:
            return KLEENE_ANY
        lo, hi = cs.get("min"), cs.get("max")
        if op not in ("is null", "is not null"):
            typ = types.get(c)
            lit = ([_coerce(typ, x) for x in lit] if op == "in"
                   else _coerce(typ, lit))
            if lit is None or op == "in" and None in lit:
                lo = hi = None
        return stats_value_set(op, lit, lo, hi, cs.get("nulls"), num)

    return eval_scope_tree(tree, _atom)


def _schema_types(schema: dict) -> dict[str, str]:
    """column → type name of a manifest's JSON schema (atomic types)."""
    return {f["name"]: f["type"] for f in schema.get("fields", [])
            if isinstance(f["type"], str)}


def build_merge_annotated(
    subset: DataFrame,
    source: DataFrame,
    condition: str,
    when_matched_update: dict[str, object] | None = None,
    matched_condition: str | None = None,
    insert_not_matched: bool = True,
    when_matched_delete: str | None = None,
    when_not_matched_by_source_delete: str | None = None,
) -> DataFrame:
    """The engine-agnostic MERGE core, shared by
    :meth:`VersionedTable.merge` and the Delta bridge's
    :func:`~sql_based_etl_spark.tables.delta_interop.merge_delta` —
    both stores prune to the matched files first and hand ONLY that
    subset here, so one implementation carries the reference's update /
    insert semantics (scd2-job.ipynb:337-354) for every target format.

    ``subset`` is the matched slice of the target (full target schema),
    as :func:`matched_files` found it — that pass also validated the
    unique match; ``condition`` must already be Spark-4-coerced by the
    caller (it drives that pass too, so coercion lives there). Returns
    one row per output row of the rewritten slice —
    kept / updated target rows plus (when ``insert_not_matched``)
    unmatched source rows — with, for every target column ``c``:

    - ``c``: the POST-merge value (update / insert branch applied,
      cast to the target dtype — Delta coerces update and insert
      expressions to the target column type, and the reference relies
      on it: boolean ``false`` lands in the integer ``iscurrent``
      column, scd2-job.ipynb:144,349);
    - ``__pre_<c>``: the PRE-merge target value (NULL on insert rows) —
      what a CDF writer needs for ``update_preimage`` rows;

    plus boolean markers ``__updated`` (matched AND the matched
    condition held AND there are update expressions), ``__inserted``
    (source row with no target match), and ``__deleted``. Callers take
    the data rows with ``.filter(~F.col("__deleted")).select(t_cols)``;
    CDF-emitting callers derive change rows from the markers without
    re-running the join.

    Delete clauses (the CDC-apply idiom, delta-spark's MERGE surface):

    - ``when_matched_delete``: SQL condition (``"true"`` for
      unconditional) — matched rows satisfying it are DELETED.
      Evaluated BEFORE the update clause, the op='D'-first CDC shape:
      a row captured by the delete condition never reaches the update
      branch.
    - ``when_not_matched_by_source_delete``: SQL condition over
      ``target.*`` — target rows with NO source match satisfying it
      are deleted (reconciliation deletes). NOTE for file-pruning
      callers: this clause inspects every target row, so the matched-
      file prune must widen to ALL files when it is present — the same
      full-table cost delta-spark pays for this clause."""
    from sql_based_etl_spark.engine.sql_compat import (  # circular-free
        coerce_condition_for_types,
    )

    t_cols = subset.columns
    t_dtypes = dict(subset.dtypes)
    dtmap = {"target": t_dtypes, "source": dict(source.dtypes)}
    if matched_condition:
        matched_condition = coerce_condition_for_types(matched_condition, dtmap)
    if when_matched_delete:
        when_matched_delete = coerce_condition_for_types(
            when_matched_delete, dtmap)
    if when_not_matched_by_source_delete:
        when_not_matched_by_source_delete = coerce_condition_for_types(
            when_not_matched_by_source_delete, dtmap)

    t = subset.alias("target").withColumn("__t", F.lit(1))
    s = source.alias("source").withColumn("__s", F.lit(1))
    joined = t.join(s, F.expr(condition), "full_outer")

    matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
    delete_gate = F.lit(False)
    if when_matched_delete:
        delete_gate = F.coalesce(
            matched & F.expr(when_matched_delete), F.lit(False))
    if when_not_matched_by_source_delete:
        by_source_gate = F.coalesce(
            F.col("__t").isNotNull() & F.col("__s").isNull()
            & F.expr(when_not_matched_by_source_delete), F.lit(False))
        delete_gate = delete_gate | by_source_gate
    update_gate = matched & ~delete_gate & (
        F.expr(matched_condition) if matched_condition else F.lit(True)
    )

    # Config values arrive as parsed JSON — `"iscurrent": false` is a
    # Python bool (scd2-job.ipynb:349) — so render non-strings as SQL
    # literals before F.expr ever sees them.
    upd = {k: _sql_literal(v) for k, v in (when_matched_update or {}).items()}
    out_cols, pre_cols = [], []
    for c in t_cols:
        dtype = t_dtypes[c]
        keep = F.col(f"target.{c}")
        if c in upd:
            updated = F.when(update_gate, F.expr(upd[c]).cast(dtype)).otherwise(keep)
        else:
            updated = keep
        # source-only rows → insert branch: map source columns by name,
        # falling back to NULL for target-only columns.
        if insert_not_matched and c in source.columns:
            ins = F.col(f"source.{c}").cast(dtype)
        else:
            ins = F.lit(None).cast(dtype)
        out_cols.append(
            F.when(F.col("__t").isNotNull(), updated).otherwise(ins).alias(c)
        )
        pre_cols.append(keep.alias(f"__pre_{c}"))

    result = joined
    if not insert_not_matched:
        result = result.filter(F.col("__t").isNotNull())
    return result.select(
        *out_cols,
        *pre_cols,
        # a matched row whose matched_condition evaluates NULL keeps its
        # old values (SQL WHEN semantics) — the marker must say False,
        # not NULL, so CDF derivation filters stay two-valued
        F.coalesce(update_gate & F.lit(bool(upd)), F.lit(False)).alias("__updated"),
        F.col("__t").isNull().alias("__inserted"),
        delete_gate.alias("__deleted"),
    )


# --- the MERGE find-files pass and the OCC rules both formats share ----


def _norm_file_uri(p: str) -> str:
    """Normalize a file location for matching scan-reported paths
    (``input_file_name()``, ``_metadata.file_path``) back to a table's
    files. A URI loses its scheme and its percent-escapes; a path with
    no scheme is already literal and stays as it is (a directory named
    ``a%41`` is not ``aA``)."""
    u = urllib.parse.urlparse(p)
    return urllib.parse.unquote(f"{u.netloc}{u.path}") if u.scheme else p


def matched_files(target: DataFrame, keys: dict[str, str], source: DataFrame,
                  condition: str, validate_unique_match: bool) -> list[str]:
    """The MERGE find-files pass of both formats: the sorted keys of the
    ``target`` files holding a row that matches ``condition`` against
    ``source``. ``target`` scans the files ``keys`` maps (file URI → the
    format's file key); ``condition`` is already coerced by the caller.

    With ``validate_unique_match`` it is ONE fused inner join that also
    raises when a target row matches several source rows (Delta errors
    on the ambiguous update): each target row gets a
    ``monotonically_increasing_id`` tag (stable within this one action),
    the join counts matches per tag, and a per-file max comes back one
    row per distinct file — never a single-row ``collect_set`` that
    funnels every file name through one task. Without validation a
    left-semi join short-circuits per target row instead of shuffling
    every joined row for a count nobody checks.

    A scan-reported file that maps back to no key raises: dropping it
    would silently leave its matched rows un-rewritten."""
    if not keys:
        return []
    tagged = target.withColumn("__file", F.input_file_name())
    on = F.expr(condition)
    if validate_unique_match:
        per_rid = (
            tagged.withColumn("__merge_rid", F.monotonically_increasing_id())
            .alias("target").join(source.alias("source"), on, "inner")
            .groupBy("__merge_rid")
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.first("__file").alias("__file"))
        )
        rows = per_rid.groupBy("__file").agg(F.max("__n").alias("mx")).collect()
        if any(r["mx"] > 1 for r in rows):
            raise VersionedTableError(
                "merge: multiple source rows match a single target row")
    else:
        rows = (tagged.alias("target").join(source.alias("source"), on,
                                            "left_semi")
                .select("__file").distinct().collect())
    return sorted(map_back(keys, (r["__file"] for r in rows), "merge"))


def map_back(keys: dict[str, str], scanned, op: str) -> list[str]:
    """The file keys of scan-reported file names (``input_file_name()``,
    ``_metadata.file_path``), in order, through ``keys`` (file URI →
    the format's file key; both sides compared by
    :func:`_norm_file_uri`). A file that maps back to no key raises:
    dropping it would silently leave its matched rows untouched."""
    by_uri = {_norm_file_uri(u): k for u, k in keys.items()}
    out = []
    for f in scanned:
        key = by_uri.get(_norm_file_uri(f))
        if key is None:
            raise VersionedTableError(
                f"{op}: matched file {f!r} does not map back to a live "
                "file of the table")
        out.append(key)
    return out


@dataclass(frozen=True)
class Winner:
    """A commit that won a race, as both formats describe it to
    :func:`classify_winner`: ``changed`` is 'protocol', 'metadata' (the
    schema included) or None; ``removed`` are the paths it removed;
    ``added`` maps each data-changing path it added to the file record
    the format's per-file predicate test takes (row-preserving rewrites
    — Delta ``dataChange: false``, native COMPACT — are not listed)."""

    version: int
    operation: str
    changed: str | None
    txn_app_ids: frozenset
    removed: frozenset
    added: dict


def classify_winner(w: Winner, operation: str, where: str, *,
                    read_paths=frozenset(), removed_paths=frozenset(),
                    reads_table_data: bool = False, may_match=None,
                    txn_app_id: str | None = None) -> None:
    """Classify one winner against the loser's footprint: raise the
    named conflict, or return when the two commute and the loser may
    retry. The rules, in order (delta-spark's ConflictChecker,
    conservatively):

    =================================  =====================  ==========================
    winner                             loser                  outcome
    =================================  =====================  ==========================
    changed the protocol               any                    ProtocolChangedError
    changed metadata / the schema      any                    MetadataChangedError
    txn with the loser's app id        idempotent writer      ConcurrentTransactionError
    removed a file the loser removes   any                    ConcurrentDeleteDeleteError
    removed a file the loser read      any                    ConcurrentDeleteReadError
    added data                         op reading table data  ConcurrentAppendError
    =================================  =====================  ==========================

    The append rule is scoped by the loser's read predicate when it has
    one: ``may_match(file)`` is the format's data-skipping test of the
    predicate's scope tree on one added file, and files it rules out
    commute (a merge over partition A and an append into B). Without
    it any data add conflicts. Everything else — blind appends and
    compactions of disjoint files, commitInfo-only winners — commutes."""
    ctx = (f"{operation} at {where} lost the commit race for version "
           f"{w.version} to a concurrent {w.operation or 'commit'}")
    if w.changed == "protocol":
        raise ProtocolChangedError(
            f"{ctx} that upgraded the table protocol — re-read the table "
            "and re-run the operation")
    if w.changed == "metadata":
        raise MetadataChangedError(
            f"{ctx} that changed table metadata (schema / properties / "
            "identity or column-mapping watermarks) — re-read the table "
            "and re-run the operation")
    if txn_app_id is not None and txn_app_id in w.txn_app_ids:
        raise ConcurrentTransactionError(
            f"{ctx} carrying the same txn appId {txn_app_id!r} — two "
            "instances of one idempotent writer raced; the winner's "
            "version watermark supersedes this attempt")
    hit = w.removed & set(removed_paths)
    if hit:
        raise ConcurrentDeleteDeleteError(
            f"{ctx} that already removed file(s) this operation also "
            f"removes (e.g. {sorted(hit)[0]!r})")
    hit = w.removed & set(read_paths)
    if hit:
        raise ConcurrentDeleteReadError(
            f"{ctx} that removed file(s) this operation read "
            f"(e.g. {sorted(hit)[0]!r})")
    if not (reads_table_data and w.added):
        return
    if may_match is None:
        raise ConcurrentAppendError(
            f"{ctx} that added data file(s) this operation's predicate "
            "may depend on — re-read the table and re-run the operation")
    overlap = sorted(p for p, f in w.added.items() if may_match(f))
    if overlap:
        raise ConcurrentAppendError(
            f"{ctx} that added data file(s) inside this operation's read "
            f"predicate (e.g. {overlap[0]!r}) — re-read the table and "
            "re-run the operation")


def commit_with_retry(publish, on_lost, version: int, what: str,
                      max_retries: int = 200) -> int:
    """Optimistic-concurrency commit of both formats; returns the
    version that landed. ``publish(v)`` publishes the commit at ``v``
    and raises :class:`CommitRaceLostError` when another writer got
    there first; ``on_lost(v)`` then classifies the winner(s) — raising
    the named conflict — rebases or re-stamps the commit, and returns
    the version to try next.

    ``max_retries`` is a LIVELOCK BACKSTOP, not a fairness bound: every
    lost race means another writer's commit landed, so the system makes
    progress, and N concurrent writers can hand one of them N-1
    legitimate losses. From the sixth attempt on, each waits a jittered,
    growing backoff (capped at 100 ms) to break thundering-herd
    scheduling; the common one- or two-loss case never sleeps."""
    import random as _rnd

    for lost in range(max_retries):
        if lost > 4:
            time.sleep(min(0.1, 0.005 * (2 ** min(lost - 5, 4)))
                       * (0.5 + _rnd.random()))
        try:
            publish(version)
            return version
        except CommitRaceLostError:
            pass
        version = on_lost(version)
    raise ConcurrentModificationError(
        f"{what}: exhausted {max_retries} commit retries against "
        "concurrent writers")


def zorder_key(df: DataFrame, cols: list[str],
               bits: int = 16) -> tuple[DataFrame, str]:
    """Append an interleaved-bit Z-order key column over ``cols``
    (the ``'zorder'`` layout of :func:`cluster_rows`).

    Each column is min-max scaled to a ``bits``-bit code (one 1-row
    aggregate, broadcast — no sort, no window; skewed distributions
    get uneven codes but pruning stays correct, just less selective —
    rank-based codes would need a global sort), then the codes' bits
    interleave LSB-first. Clustering on the key gives every clustered
    column a ~|range|^(1/k) per-file span, so data skipping works on
    ANY of them, not only the leading one as in lexicographic range
    clustering. Numeric and timestamp columns only."""
    from pyspark.sql.types import NumericType, TimestampNTZType, TimestampType

    types = {f.name: f.dataType for f in df.schema.fields}
    nums = []
    for c in cols:
        t = types[c]
        if isinstance(t, (TimestampType, TimestampNTZType)):
            nums.append(F.unix_micros(F.col(c).cast("timestamp")).cast("double"))
        elif isinstance(t, NumericType):
            nums.append(F.col(c).cast("double"))
        else:
            raise VersionedTableError(
                f"zorder clustering needs numeric/timestamp columns; "
                f"{c!r} is {t.simpleString()}"
            )
    bounds = df.agg(*[
        a for i, num in enumerate(nums)
        for a in (F.min(num).alias(f"__zmn_{i}"), F.max(num).alias(f"__zmx_{i}"))
    ])
    df = df.crossJoin(F.broadcast(bounds))
    top = (1 << bits) - 1
    codes = []
    for i, num in enumerate(nums):
        rng = F.col(f"__zmx_{i}") - F.col(f"__zmn_{i}")
        code = F.when(
            (rng <= 0) | rng.isNull() | num.isNull(), F.lit(0)
        ).otherwise(
            F.floor((num - F.col(f"__zmn_{i}")) / rng * F.lit(float(top)))
        ).cast("long")
        codes.append(code)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, code in enumerate(codes):
            bit = F.shiftright(code, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(codes) + i))
    df = df.withColumn("__zkey", z)
    return df.drop(*[c for c in df.columns
                     if c.startswith("__zmn_") or c.startswith("__zmx_")]), "__zkey"


def cluster_rows(df: DataFrame, cluster_by: list[str] | None,
                 method: str, num_files: int | None) -> DataFrame:
    """Lay ``df`` out as ``num_files`` files: the one clustering layout
    of every write, rewrite and OPTIMIZE on both formats. ``'range'``
    range-partitions on ``cluster_by`` and sorts within each file
    (liquid-clustering analogue), so each file covers a narrow slice of
    the LEADING column — string keys included; ``'zorder'`` does the
    same on their :func:`zorder_key`, narrowing every clustered column
    at once. Clustered, ``num_files`` None means the default
    parallelism; unclustered, ``df`` is only repartitioned when
    ``num_files`` is given. An unknown ``method`` raises either way."""
    if method not in ("range", "zorder"):
        raise VersionedTableError(
            f"unknown cluster_method {method!r} (range | zorder)")
    if not cluster_by:
        return df.repartition(int(num_files)) if num_files else df
    n = (int(num_files) if num_files
         else df.sparkSession.sparkContext.defaultParallelism)
    if method == "range":
        return df.repartitionByRange(n, *cluster_by).sortWithinPartitions(
            *cluster_by)
    out_cols = list(df.columns)
    df, zkey = zorder_key(df, cluster_by)
    return (df.repartitionByRange(n, zkey).sortWithinPartitions(zkey)
            .select(*out_cols))


def manifest_stats(paths: list[str], files: list[DataFile]) -> dict:
    """Manifest ``stats`` entries ``{path: {rows, columns}}`` of written
    files (``paths`` are their table-relative paths). A file whose
    stats could not be read gets no entry, so pruning keeps it."""
    return {p: {"rows": f.rows, "columns": f.columns}
            for p, f in zip(paths, files) if f.rows is not None}


class VersionedTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    # raw Hadoop handles (FileSystem, Path) of the table's files, for
    # callers that drive the FileSystem API themselves; the table's own
    # file access goes through tables/files.py
    def _fs(self):
        return files._hadoop(self.spark, self.path)[0]  # noqa: SLF001

    def _jpath(self, *parts: str):
        return files._hadoop(self.spark, "/".join((self.path, *parts)))[1]  # noqa: SLF001

    def _write_text_atomic(self, name: str, data: str) -> None:
        """Commit ``_meta/<name>`` via :func:`publish_text_exclusive`:
        full temp write + ``FileContext.rename(Rename.NONE)`` publish on
        rename-capable stores (atomic visibility — a reader never sees a
        half-written manifest — AND put-if-absent arbitration), ONE
        conditional create of the final object on object stores (where a
        PUT is already atomic at close). The loser of a version race
        raises on every store; a crash at any point leaves at worst an
        invisible orphan dot-temp, never a truncated manifest."""
        publish_text_exclusive(self.spark, f"{self.path}/_meta", name, data,
                               what="manifest")

    # --- metadata ---------------------------------------------------------

    def versions(self) -> list[int]:
        return sorted(
            int(f.name[1:-5])
            for f in files.list_dir(self.spark, f"{self.path}/_meta") or []
            if f.name.startswith("v") and f.name.endswith(".json")
        )

    def exists(self) -> bool:
        return bool(self.versions())

    def manifest(self, version: int) -> dict:
        name = f"v{version:08d}.json"
        txt = files.read_text(self.spark, f"{self.path}/_meta/{name}")
        try:
            return json.loads(txt)
        except ValueError as e:
            # The publish protocol makes a listed-but-truncated manifest
            # impossible on every supported store (see
            # publish_text_exclusive), so this is external corruption or
            # a foreign writer's crash remnant. Name the file and the
            # remediation instead of a bare JSONDecodeError.
            raise VersionedTableError(
                f"unparsable manifest {self.path}/_meta/{name}: {e}. "
                "Manifests are published atomically, so this file was "
                "corrupted externally or written by a non-atomic foreign "
                "writer; if it is the newest version, delete it to restore "
                "the table — a commit it claims to record never completed."
            ) from None

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise VersionedTableError(f"no versions at {self.path}")
        return vs[-1]

    def history(self) -> list[dict]:
        """Per-version metadata, newest first (DeltaTable.history parity)."""
        return [self.manifest(v) for v in reversed(self.versions())]

    def resolve_version(self, version: int | None = None, relative_version: int | None = None,
                        timestamp: float | str | None = None) -> int:
        """Arc's relativeVersion: 0 = latest, -1 = previous, …
        (scd2-job.ipynb:471). Absolute ``version`` wins if given;
        ``timestamp`` (Delta's timestampAsOf — epoch seconds or an
        ISO/'YYYY-MM-DD HH:MM:SS' string, naive = UTC) resolves to the
        newest version committed at or before that instant."""
        vs = self.versions()
        if not vs:
            raise VersionedTableError(f"no versions at {self.path}")
        if version is not None:
            if version not in vs:
                raise VersionedTableError(f"version {version} not in {vs}")
            return version
        if timestamp is not None:
            cutoff = parse_timestamp_cutoff(timestamp)
            eligible = [v for v in vs
                        if float(self.manifest(v).get("timestamp", 0.0)) <= cutoff]
            if not eligible:
                raise VersionedTableError(
                    f"no version committed at or before {timestamp!r} "
                    f"(earliest is v{vs[0]})"
                )
            return eligible[-1]
        if relative_version is not None:
            if relative_version > 0:
                raise VersionedTableError("relativeVersion must be <= 0")
            idx = len(vs) - 1 + relative_version
            if idx < 0:
                raise VersionedTableError(
                    f"relativeVersion {relative_version} out of range ({len(vs)} versions)"
                )
            return vs[idx]
        return vs[-1]

    def files(self, version: int | None = None, relative_version: int | None = None) -> list[str]:
        """Table-relative data-file paths composing a snapshot."""
        v = self.resolve_version(version, relative_version)
        return list(self.manifest(v)["files"])

    # --- read / write -----------------------------------------------------

    def prune_files(
        self,
        filters: list[tuple[str, str, object]],
        version: int | None = None,
        relative_version: int | None = None,
    ) -> list[str]:
        """Data skipping: the subset of a snapshot's files that might
        contain rows matching ALL conjuncts ``(col, op, value)`` (the
        engine/sql_compat.py:normalize_filters grammar — ``= < <= > >=
        in`` and the null tests), decided from manifest stats alone —
        no file is opened. Conservative: a file without stats for a
        column is kept."""
        from sql_based_etl_spark.engine.sql_compat import (
            filters_tree,
            normalize_filters,
        )

        v = self.resolve_version(version, relative_version)
        return self._files_may_match(
            v, filters_tree(normalize_filters(filters)))

    def _files_may_match(self, version: int, tree) -> list[str]:
        """The snapshot files a scope tree cannot exclude by their
        manifest stats (every file for None)."""
        m = self.manifest(version)
        if tree is None:
            return list(m["files"])
        stats = m.get("stats", {})
        types = _schema_types(m["schema"])
        return [f for f in m["files"]
                if _manifest_tree_may_match(stats.get(f), tree, types)]

    def read(
        self,
        version: int | None = None,
        relative_version: int | None = None,
        filters: list[tuple[str, str, object]] | None = None,
        timestamp: float | str | None = None,
    ) -> DataFrame:
        from pyspark.sql.types import StructType

        from sql_based_etl_spark.engine.sql_compat import (
            filters_column,
            filters_tree,
            normalize_filters,
        )

        v = self.resolve_version(version, relative_version, timestamp)
        filters = normalize_filters(filters) if filters else None
        rel = self._files_may_match(
            v, filters_tree(filters) if filters else None)
        schema = StructType.fromJson(self.manifest(v)["schema"])
        if not rel:
            df = self.spark.createDataFrame([], schema)
        else:
            # read under the manifest's schema, not the files' own: after a
            # schema-evolving append the snapshot mixes files written under
            # older schemas — the explicit schema makes the scan fill their
            # missing columns with NULL (and keeps the scan single-pass: no
            # footer-merging inference job)
            df = self.spark.read.schema(schema).parquet(
                *[f"{self.path}/{f}" for f in rel]
            )
        # residual filter: pruning is file-granular and conservative, so
        # the predicate is still applied row-level (and reaches the
        # parquet scan as a pushed filter for row-group skipping)
        if filters:
            df = df.filter(filters_column(filters))
        return df

    def _write_files(self, df: DataFrame, version: int,
                     num_partitions: int | None,
                     cluster_by: list[str] | None = None,
                     cluster_method: str = "range",
                     stats_columns: list[str] | None = None,
                     bloom_filter_columns: list[str] | None = None,
                     unique_dir: bool = False) -> tuple[list[str], dict]:
        """Write ``df``, laid out by :func:`cluster_rows`, through the
        shared file writer under ``data/v{version}/`` — or, with
        ``unique_dir``, ``data/v{version}-{uuid8}/``: a staging dir per
        writer, so concurrent writers that picked the same next version
        never collide (the manifest's explicit file list makes the dir
        name irrelevant to readers). Returns the files' table-relative
        paths and their manifest ``stats`` (:func:`manifest_stats`)."""
        df = cluster_rows(df, cluster_by, cluster_method, num_partitions)
        rel_dir = f"data/v{version:08d}"
        if unique_dir:
            import uuid as _uuid

            rel_dir += f"-{_uuid.uuid4().hex[:8]}"
        # parquet-level bloom filters: the reader skips whole row
        # groups on `col = x` probes that min/max stats can't prune
        # (high-cardinality point lookups — id fetches, digest probes).
        # Purely additive file metadata; costs write-side space only on
        # the named columns.
        written = write_files(
            df, f"{self.path}/{rel_dir}",
            options={f"parquet.bloom.filter.enabled#{c}": "true"
                     for c in bloom_filter_columns or []},
            stats_columns=stats_columns)
        paths = [f"{rel_dir}/{f.path}" for f in written]
        return paths, manifest_stats(paths, written)

    def _commit(self, version: int, operation: str, files: list[str],
                schema: dict, extra: dict | None = None,
                stats: dict | None = None) -> int:
        manifest = {
            "version": version,
            "operation": operation,
            "timestamp": time.time(),
            "files": files,
            "schema": schema,
            "stats": stats or {},
            **(extra or {}),
        }
        self._write_text_atomic(f"v{version:08d}.json", json.dumps(manifest))
        return version

    def _publish_rebased(self, version: int, operation: str,
                         new_files: list[str], new_stats: dict,
                         schema: dict, removed: frozenset = frozenset(),
                         extra: dict | None = None) -> None:
        """Publish an edit of the previous snapshot at ``version``: the
        files of ``version - 1`` minus ``removed`` (carried by reference
        with their stats, never re-scanned) plus the staged new files.
        After a lost race the same staged files commit verbatim at the
        higher version — a manifest may reference any earlier version's
        data dir."""
        carried, stats = [], dict(new_stats)
        if version > 0:
            prev = self.manifest(version - 1)
            carried = [f for f in prev["files"] if f not in removed]
            prev_stats = prev.get("stats", {})
            stats.update({f: prev_stats[f] for f in carried
                          if f in prev_stats})
        if extra is not None and "files_carried" in extra:
            extra = {**extra, "files_carried": len(carried)}
        self._commit(version, operation, carried + new_files, schema,
                     extra=extra, stats=stats)

    def _winner(self, version: int) -> Winner:
        """A winner manifest as :func:`classify_winner` reads it: its
        diff against its predecessor (manifests are contiguous inside a
        race window — every version is predecessor+1 and the loser
        holds the base)."""
        wm, pm = self.manifest(version), self.manifest(version - 1)
        win, prev = set(wm.get("files") or []), set(pm.get("files") or [])
        op = wm.get("operation", "commit")
        stats = wm.get("stats", {})
        return Winner(
            # an evolved schema is a metadata change: the loser's rows
            # were derived under the old one, and a rebase would
            # silently downgrade the winner's evolution
            version, op,
            "metadata" if wm.get("schema") != pm.get("schema") else None,
            frozenset(), frozenset(prev - win),
            # COMPACT rewrites the rows of the files it removed, like a
            # Delta dataChange=false add
            {} if op == "COMPACT" else {f: stats.get(f) for f in win - prev})

    def _commit_rebasing(self, read_v: int, operation: str,
                           removed: list[str], new_files: list[str],
                           schema, new_stats: dict, read_files: set,
                           reads_table_data: bool, read_tree=None,
                           extra: dict | None = None) -> int:
        """Commit a snapshot-editing operation (MERGE / COMPACT) read at
        ``read_v`` through :func:`commit_with_retry`. On a lost race
        every winner is classified against what it read and removed;
        commuting winners (a blind append racing a COMPACT, or one whose
        files the read predicate ``read_tree`` rules out by their
        manifest stats) are rebased onto, anything else raises the
        named conflict."""
        removed = frozenset(removed)
        schema_json = schema.jsonValue()
        types = _schema_types(schema_json)
        may_match = None if read_tree is None else (
            lambda st: _manifest_tree_may_match(st, read_tree, types))

        def on_lost(version: int) -> int:
            latest = self.versions()[-1]
            for wv in range(version, latest + 1):
                classify_winner(self._winner(wv), operation, self.path,
                                read_paths=read_files, removed_paths=removed,
                                reads_table_data=reads_table_data,
                                may_match=may_match)
            return latest + 1

        return commit_with_retry(
            lambda v: self._publish_rebased(v, operation, new_files,
                                            new_stats, schema_json,
                                            removed, extra),
            on_lost, read_v + 1, f"{operation} at {self.path}")

    def _append_schema(self, version: int, schema, merge_schema: bool,
                       raced: bool = False):
        """The schema an append of rows typed ``schema`` commits on top
        of ``version``: that version's schema, widened by the new
        columns when ``merge_schema``; a same-name column whose type
        changed raises. ``raced`` words the errors for a retry past a
        winner that changed the schema under the append."""
        from pyspark.sql.types import StructType

        old = StructType.fromJson(self.manifest(version)["schema"])
        old_types = {f.name: f.dataType for f in old.fields}
        for f in schema.fields:
            if f.name in old_types and f.dataType != old_types[f.name]:
                raise VersionedTableError(
                    f"append lost a commit race to a writer that changed "
                    f"column {f.name!r} to "
                    f"{old_types[f.name].simpleString()} — re-read the "
                    "table and re-run" if raced else
                    f"append changes type of column {f.name!r}: "
                    f"{old_types[f.name].simpleString()} -> "
                    f"{f.dataType.simpleString()}")
        new_fields = [f for f in schema.fields if f.name not in old_types]
        if new_fields and not merge_schema:
            names = [f.name for f in new_fields]
            raise VersionedTableError(
                f"append lost a commit race to a writer whose schema "
                f"lacks {names}; pass merge_schema=True to evolve, or "
                "re-run" if raced else
                f"append adds columns {names}; pass merge_schema=True to "
                "evolve the table schema")
        return StructType(list(old.fields) + new_fields)

    def write(self, df: DataFrame, mode: str = "overwrite", num_partitions: int | None = None,
              operation: str = "WRITE", merge_schema: bool = False,
              cluster_by: list[str] | None = None,
              cluster_method: str = "range",
              stats_columns: list[str] | None = None,
              bloom_filter_columns: list[str] | None = None,
              extra: dict | None = None) -> int:
        """Commit ``df`` as a new version. ``mode='append'`` adds files
        to the current snapshot (no rewrite of existing data);
        ``'overwrite'`` replaces the snapshot.

        Appends enforce the table schema (fail-loud like Delta): a
        drifted ``df`` is rejected unless ``merge_schema=True``, which
        widens the manifest schema with the new columns (existing files
        are untouched — the schema-aware scan in :meth:`read` fills
        their missing columns with NULL). Same-name columns must keep
        their type; silent type changes corrupt every older file.

        ``cluster_by`` lays the rows out with :func:`cluster_rows`
        (``cluster_method`` 'range' or 'zorder'; any other value raises
        before anything is written). Files go through the shared writer
        (``tables/files.py``): zstd parquet, rowless files dropped, and
        per-file min/max/null stats read from the footers into the
        manifest — for ``stats_columns`` only when given."""
        vs = self.versions()
        if mode not in ("overwrite", "append", "errorifexists"):
            raise VersionedTableError(f"unsupported saveMode {mode}")
        if mode == "errorifexists" and vs:
            raise VersionedTableError(f"table exists at {self.path}")

        schema = df.schema
        if mode == "append" and vs:
            schema = self._append_schema(vs[-1], df.schema, merge_schema)

        new_v = (vs[-1] + 1) if vs else 0
        new_files, new_stats = self._write_files(
            df, new_v, num_partitions, cluster_by, cluster_method,
            stats_columns, bloom_filter_columns,
            unique_dir=(mode == "append"))
        op = operation if mode != "append" else "APPEND"
        if mode != "append":
            # snapshot-replacing commits keep single-winner semantics:
            # the loser's result was computed from a stale snapshot
            return self._commit(new_v, op, new_files, schema.jsonValue(),
                                stats=new_stats, extra=extra)
        # APPEND is blind: on a lost race it re-validates the schema
        # against the winner's and rebases on the winner's snapshot —
        # the same optimistic-concurrency contract as the Delta bridge's
        # blind appends
        bid = (extra or {}).get("stream_batch_id")

        def on_lost(version: int) -> int:
            nonlocal schema
            latest = self.versions()[-1]
            if bid is not None:
                for wv in range(version, latest + 1):
                    if self.manifest(wv).get("stream_batch_id") == bid:
                        raise ConcurrentStreamBatchError(
                            f"append at {self.path}: a racing writer "
                            f"already committed stream_batch_id {bid} "
                            f"at version {wv} — the batch is in the "
                            "table exactly once"
                        )
            schema = self._append_schema(latest, df.schema, merge_schema,
                                         raced=True)
            return latest + 1

        return commit_with_retry(
            lambda v: self._publish_rebased(v, op, new_files, new_stats,
                                            schema.jsonValue(), extra=extra),
            on_lost, new_v, f"{op} at {self.path}")

    def compact(
        self,
        small_file_bytes: int = 32 * 1024 * 1024,
        num_partitions: int = 1,
    ) -> int:
        """Bin-pack small data files (OPTIMIZE analogue): files under
        ``small_file_bytes`` are read back and rewritten as
        ``num_partitions`` files; larger files are carried by
        reference. Commits a ``COMPACT`` version — row content is
        unchanged (the CDF between the two versions is empty), and
        time travel to pre-compact versions still works because their
        manifests keep referencing the old files until :meth:`vacuum`.

        This is the maintenance pass a streaming append sink needs:
        micro-batch commits accumulate one small file per batch, and a
        100 TB scan pays per-file open/seek costs (and loses row-group
        pruning) until they're packed."""
        from pyspark.sql.types import StructType

        cur = self.files()
        small = [
            f for f in cur
            if files.stat(self.spark, f"{self.path}/{f}").size < small_file_bytes
        ]
        if len(small) <= 1:
            return self.latest_version()  # nothing to pack
        carried = [f for f in cur if f not in set(small)]
        # read under the manifest schema, never file-footer inference:
        # after a schema-evolving append the small files mix schemas,
        # and inferring from one footer would silently drop the evolved
        # columns from the rewritten rows AND from the new manifest
        schema = StructType.fromJson(self.manifest(self.latest_version())["schema"])
        df = self.spark.read.schema(schema).parquet(
            *[f"{self.path}/{f}" for f in small]
        )
        cur_v = self.latest_version()
        new_files, stats = self._write_files(df, cur_v + 1, num_partitions,
                                             unique_dir=True)
        # COMPACT reads (and removes) exactly its small inputs and
        # preserves rows, so a racing blind APPEND commutes: the loser
        # REBASES onto the winner's snapshot and retries (the
        # hourly-append + nightly-OPTIMIZE shape, the same commute the
        # bridge's OPTIMIZE has) — while a winner that removed or
        # rewrote any input raises the named conflict
        return self._commit_rebasing(
            cur_v, "COMPACT", small, new_files, schema, stats,
            reads_table_data=False, read_files=set(small),
            extra={"files_compacted": len(small), "files_carried": len(carried)},
        )

    def restore(self, version: int | None = None,
                relative_version: int | None = None) -> int:
        """Delta RESTORE analogue: re-commit an earlier snapshot's file
        list (and schema/stats) as the new latest version. No data is
        copied — files are immutable and shared across manifests
        (copy-on-write), so a restore is a metadata-only commit, and
        the restored files are referenced by the new manifest, which
        keeps vacuum from collecting them."""
        src_v = self.resolve_version(version, relative_version)
        m = self.manifest(src_v)
        new_v = self.latest_version() + 1
        return self._commit(new_v, f"RESTORE_v{src_v}", m["files"],
                            m["schema"], stats=m.get("stats", {}))

    def vacuum(self, retain_versions: int = 1,
               staging_grace_hours: float = 24.0) -> list[str]:
        """Delete data files referenced only by versions older than the
        newest ``retain_versions``, and drop those versions' manifests
        (they could no longer be read). Returns the deleted data-file
        paths. The physical-delete pass of the copy-on-write design —
        run after compaction, outside any time-travel retention window.
        Metadata-sized work only: the file lists live in manifests, so
        no data is scanned.

        ``staging_grace_hours``: unreferenced files YOUNGER than this
        are kept — a concurrent appender stages its data files BEFORE
        the manifest claim (and may be mid-retry under the round-10
        append OCC), so "unreferenced" is not "dead" for recent files;
        Delta's VACUUM applies the same mtime grace to untracked files.
        Pass 0 only when no writer can be live (tests/maintenance)."""
        import time as _time

        if retain_versions < 1:
            raise VersionedTableError("retain_versions must be >= 1")
        vs = self.versions()
        keep_vs = vs[-retain_versions:]
        drop_vs = vs[:-retain_versions]
        # manifests first: a crash mid-vacuum must never leave a listed
        # version pointing at deleted files (reads would die with raw
        # FileNotFound instead of a clean resolve error)
        for v in drop_vs:
            files.delete(self.spark, f"{self.path}/_meta/v{v:08d}.json")
        # then GC by physical listing — every unreferenced data file
        # PAST THE STAGING GRACE goes, which also reclaims files
        # orphaned by an earlier crash (manifests deleted, files not)
        # without ever racing a live appender's staged-but-uncommitted
        # files. ``_`` and ``.`` names (Spark's ``_SUCCESS`` markers)
        # are never data, as in files.collect_files, so they are
        # neither deleted nor reported.
        cutoff_ms = (_time.time() - staging_grace_hours * 3600.0) * 1000.0
        live = {f for v in keep_vs for f in self.files(v)}
        dead = []
        emptied = []
        for vdir in files.list_dir(self.spark, f"{self.path}/data") or []:
            entries = files.list_dir(
                self.spark, f"{self.path}/data/{vdir.name}") or []
            kept = []
            for st in entries:
                rel = f"data/{vdir.name}/{st.name}"
                if (rel not in live and st.mtime_ms < cutoff_ms
                        and not st.name.startswith(("_", "."))):
                    dead.append(rel)
                else:
                    kept.append(st)
            # a version directory left holding only its _SUCCESS marker
            # (past the grace, so no appender is still writing: one
            # would hold _temporary) is dropped whole, so later vacuums
            # stop listing it
            if ([st.name for st in kept] == ["_SUCCESS"]
                    and kept[0].mtime_ms < cutoff_ms
                    and not any(f.startswith(f"data/{vdir.name}/")
                                for f in live)):
                emptied.append(f"data/{vdir.name}")
        for f in sorted(dead):
            files.delete(self.spark, f"{self.path}/{f}")
        for d in emptied:
            files.delete(self.spark, f"{self.path}/{d}", recursive=True)
        return sorted(dead)

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        change_col: str = "change_type",
    ) -> DataFrame:
        """Change data feed between two versions: rows added between
        ``from_version`` and ``to_version`` (default latest) tagged
        ``insert``, rows removed tagged ``delete`` (an update appears
        as its delete+insert pair, like Delta CDF without explicit
        update tracking).

        Scale posture — this is a *file-pruned* diff: data files are
        immutable and shared across manifests (copy-on-write), so any
        file present in both snapshots contributes nothing and is never
        read. Only the symmetric difference of the two file lists is
        scanned, and the row-level diff (``exceptAll`` both ways — a
        hash aggregate) runs over just those files. A merge that
        rewrote 1 of N files diffs ~2 files, not 2 snapshots. Rows
        carried *unchanged through a rewritten file* appear in both
        sides and cancel in the multiset difference."""
        va = self.resolve_version(from_version)
        vb = self.resolve_version(to_version)
        fa, fb = set(self.files(va)), set(self.files(vb))

        from pyspark.sql.types import StructType

        schema = StructType.fromJson(self.manifest(vb)["schema"])

        def _read(rel: list[str]) -> DataFrame:
            if not rel:
                return self.spark.createDataFrame([], schema)
            return self.spark.read.schema(schema).parquet(
                *[f"{self.path}/{f}" for f in sorted(rel)]
            )

        removed = _read(list(fa - fb))
        added = _read(list(fb - fa))
        return added.exceptAll(removed).withColumn(
            change_col, F.lit("insert")
        ).unionByName(
            removed.exceptAll(added).withColumn(change_col, F.lit("delete"))
        )

    # --- merge (the SCD2 workhorse) ----------------------------------------

    def merge(
        self,
        source: DataFrame,
        condition: str,
        when_matched_update: dict[str, object] | None = None,
        matched_condition: str | None = None,
        insert_not_matched: bool = True,
        num_partitions: int | None = None,
        validate_unique_match: bool = True,
        when_matched_delete: str | None = None,
        when_not_matched_by_source_delete: str | None = None,
    ) -> int:
        """Delta-style ``MERGE INTO`` (DeltaLakeMergeLoad parity,
        scd2-job.ipynb:337-354), plus delta-spark's delete clauses
        (``when_matched_delete`` — evaluated before the update clause,
        the op='D'-first CDC shape — and
        ``when_not_matched_by_source_delete`` for reconciliation
        deletes; see :func:`build_merge_annotated`). The
        not-matched-by-source clause inspects every target row, so it
        widens the rewrite set to ALL files — the same full-table cost
        delta-spark pays for it.

        ``condition`` / ``matched_condition`` / update values are SQL
        expressions over ``source.*`` and ``target.*`` aliases — exactly
        the reference's config surface (condition at :344, matched
        update at :345-350, not-matched insert at :353). NULL merge keys
        on the source route rows to the insert branch via standard SQL
        null semantics (scd2-job.ipynb:298,309) — no special code.

        Physical shape (copy-on-write at file granularity):

        1. one join (:func:`matched_files`, shared with the Delta
           bridge) finds the target files containing matched rows and,
           with ``validate_unique_match``, fails when a target row
           matches several source rows;
        2. only those files join the source (full-outer on the
           condition) and are rewritten with update/insert branches
           applied — a source row that matches nothing in the matched
           subset matches nothing globally, so insert routing over the
           subset is exact;
        3. unmatched files are carried forward by reference in the new
           manifest — a merge touching 1 of N files rewrites ~1 file.
        """
        vs = self.versions()
        if not vs:
            raise VersionedTableError(f"no versions at {self.path}")
        cur_v = vs[-1]
        # Arc/Spark-3 compat: `target.iscurrent = true` against the
        # INTEGER iscurrent column (scd2-job.ipynb:346) relied on the
        # BooleanEquality coercion Spark 4 removed — rewrite boolean
        # literals compared to known non-boolean columns (dtype-aware;
        # genuine boolean columns keep their literal).
        from sql_based_etl_spark.engine.sql_compat import (
            coerce_condition_for_types,
            condition_scope_tree,
        )

        # one snapshot construction serves the dtype probe here AND the
        # rewrite below (r14): each read() re-fetches the manifest and
        # re-analyzes the scan — pure driver latency, ~0.1-0.3s at
        # bench SF and manifest-sized at a 10⁶-file table
        target_full = self.read()
        dtmap = {"target": dict(target_full.dtypes), "source": dict(source.dtypes)}
        condition = coerce_condition_for_types(condition, dtmap)
        if matched_condition:
            matched_condition = coerce_condition_for_types(matched_condition, dtmap)
        all_files = self.files(cur_v)
        # Predicate-scoped read footprint (the Delta bridge's rule on
        # manifests): the ON condition reduced to its scope tree over
        # the target columns prunes the matched-file scan via manifest
        # stats (a merge whose ON pins a clustered key range opens only
        # that range's files) and scopes OCC — a racing append whose
        # new files provably miss the predicate commutes. A by-source
        # clause inspects every target row and disables both.
        read_tree = None
        if not when_not_matched_by_source_delete:
            read_tree = condition_scope_tree(condition, target_full.columns,
                                             "target")
        scan_files = self._files_may_match(cur_v, read_tree)
        matched = []
        if scan_files and (validate_unique_match
                           or not when_not_matched_by_source_delete):
            # keyed as Spark's scan reports files (under the qualified
            # root URI); with the by-source clause, which rewrites every
            # file anyway, the pass only validates the unique match
            root = files.qualify(self.spark, self.path)
            matched = matched_files(
                self.spark.read.schema(target_full.schema).parquet(
                    *[f"{self.path}/{f}" for f in scan_files]),
                {f"{root}/{urllib.parse.quote(f)}": f for f in scan_files},
                source, condition, validate_unique_match)
        if when_not_matched_by_source_delete:
            matched = list(all_files)

        if matched:
            # manifest schema, not footer inference: after a schema-
            # evolving append the matched files may predate the newest
            # columns — the explicit schema fills them with NULL and
            # keeps target.<col> resolvable for every manifest column
            subset = self.spark.read.schema(target_full.schema).parquet(
                *[f"{self.path}/{f}" for f in matched]
            )
        else:
            subset = self.spark.createDataFrame([], target_full.schema)

        result = build_merge_annotated(
            subset, source, condition,
            when_matched_update=when_matched_update,
            matched_condition=matched_condition,
            insert_not_matched=insert_not_matched,
            when_matched_delete=when_matched_delete,
            when_not_matched_by_source_delete=when_not_matched_by_source_delete,
        ).filter(~F.col("__deleted")).select(*target_full.columns)

        # unique staging dir: racing writers that both picked the same
        # next version never collide at the data write (the round-10
        # append rule, extended to rewrites with round-11's classified
        # OCC); the manifest's explicit file list makes the dir name
        # irrelevant to readers, and vacuum's staging grace covers a
        # loser's orphaned files
        new_files, new_stats = self._write_files(
            result, cur_v + 1, num_partitions, unique_dir=True)
        # MERGE read the stats-pruned candidate set (the whole snapshot
        # when no target conjunct was extractable); winners adding
        # files provably OUTSIDE the read predicate commute (rebase +
        # retry), anything else raises the named conflict
        return self._commit_rebasing(
            cur_v, "MERGE", matched, new_files, target_full.schema,
            new_stats, read_files=set(scan_files), reads_table_data=True,
            read_tree=read_tree,
            extra={
                "files_rewritten": len(matched),
                "files_carried": len(all_files) - len(matched),
            },
        )
