"""The file layer every table-metadata access goes through
(``tables/files.py``): both formats on a relative table path, the
stream source's commit timestamps against batch CDF, and the local
(``os``) and Hadoop lanes giving the same tables."""

from __future__ import annotations

import json
import os

import pytest

from sql_based_etl_spark.tables import files
from sql_based_etl_spark.tables.delta_interop import (
    cleanup_log_metadata,
    delete_delta,
    merge_delta,
    read_delta,
    read_delta_changes,
    update_delta,
    vacuum_delta,
    write_delta,
)
from sql_based_etl_spark.tables.versioned import VersionedTable

SCHEMA = "id long, v string"


def _rows(df) -> list[tuple]:
    return sorted((r.id, r.v) for r in df.collect())


@pytest.mark.parametrize("fmt", ["native", "delta"])
def test_dml_on_a_relative_table_path(spark, tmp_path, fmt):
    """MERGE on both formats, and UPDATE and a deletion-vector DELETE on
    the bridge, address a table by a path relative to the working
    directory: scan-reported files map back to the table's files
    through ``files.qualify``."""
    path = os.path.relpath(tmp_path / "t")
    # one data file, so the DELETE leaves live rows behind a DV
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                                 SCHEMA).coalesce(1)
    src = spark.createDataFrame([(1, "A"), (4, "d")], SCHEMA)
    cond = "target.id = source.id"
    if fmt == "native":
        t = VersionedTable(spark, path)
        t.write(base)
        t.merge(src, cond, when_matched_update={"v": "source.v"})
        assert _rows(t.read()) == [(1, "A"), (2, "b"), (3, "c"), (4, "d")]
        return
    write_delta(base, path, mode="overwrite",
                properties={"delta.enableDeletionVectors": "true"})
    merge_delta(src, path, cond, when_matched_update={"v": "source.v"})
    update_delta(spark, path, "id = 3", {"v": "'C'"})
    delete_delta(spark, path, "id = 2")
    assert _rows(read_delta(spark, path)) == [(1, "A"), (3, "C"), (4, "d")]
    with open(os.path.join(path, "_delta_log", f"{3:020d}.json")) as fh:
        assert any("deletionVector" in json.loads(line).get("add", {})
                   for line in fh if line.strip())


def test_stream_cdf_timestamps_equal_batch_cdf(spark, tmp_path):
    """Without in-commit timestamps a commit's ``_commit_timestamp_ms``
    is its log file's modification time. The stream source's no-JVM
    lane and batch ``read_delta_changes`` read it by one rule
    (``st_mtime_ns // 1_000_000``, Hadoop's value), also for an mtime
    whose float seconds round up a millisecond."""
    from sql_based_etl_spark.streaming.delta_source import (
        register_delta_bridge_source,
    )

    src = str(tmp_path / "src")
    write_delta(spark.createDataFrame([(1, "a")], SCHEMA), src,
                mode="overwrite",
                properties={"delta.enableChangeDataFeed": "true"})
    mtime_ns = 1744367758994999906
    os.utime(os.path.join(src, "_delta_log", f"{0:020d}.json"),
             ns=(mtime_ns, mtime_ns))
    register_delta_bridge_source(spark)
    got: list[int] = []
    q = (spark.readStream.format("delta_bridge").option("path", src)
         .option("readChangeFeed", "true").load()
         .writeStream.foreachBatch(lambda df, _: got.extend(
             r._commit_timestamp_ms for r in df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    assert q.exception() is None, q.exception()
    batch = [r._commit_timestamp_ms
             for r in read_delta_changes(spark, src, 0).collect()]
    assert got == batch == [mtime_ns // 1_000_000]


def _bridge_sequence(spark, path: str) -> dict:
    """Write, MERGE (with a checkpoint), change feed, timestamp time
    travel, VACUUM and log cleanup on one bridge table; commit mtimes
    are pinned so both lanes see the same history."""
    write_delta(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA), path,
                mode="overwrite",
                properties={"delta.enableChangeDataFeed": "true"})
    merge_delta(spark.createDataFrame([(1, "A"), (3, "c")], SCHEMA), path,
                "target.id = source.id", when_matched_update={"v": "source.v"},
                checkpoint_interval=1)
    log = os.path.join(path, "_delta_log")
    t0 = 1_700_000_000
    for v in (0, 1):
        os.utime(os.path.join(log, f"{v:020d}.json"), (t0 + 100 * v,) * 2)
    changes = sorted(tuple(r) for r in
                     read_delta_changes(spark, path, 0).collect())
    travel = _rows(read_delta(spark, path, timestamp=t0 + 50))
    with open(os.path.join(log, f"{1:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    reclaimable = sorted(a[k]["path"] for a in acts for k in ("remove", "cdc")
                         if k in a)
    vacuumed = vacuum_delta(spark, path, retention_hours=0.0,
                            enforce_retention_check=False)
    assert sorted(vacuumed) == reclaimable
    return {"snapshot": _rows(read_delta(spark, path)), "changes": changes,
            "travel": travel, "vacuumed": len(vacuumed),
            "cleaned": cleanup_log_metadata(spark, path, retention_hours=0.0,
                                            enforce_retention_check=False),
            "versions": sorted(int(n[:20]) for n in os.listdir(log)
                               if n.endswith(".json"))}


def _native_sequence(spark, path: str) -> dict:
    t = VersionedTable(spark, path)
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    t.merge(spark.createDataFrame([(1, "A"), (3, "c")], SCHEMA),
            "target.id = source.id", when_matched_update={"v": "source.v"})
    dropped = sorted(set(t.files(0)) - set(t.files(1)))
    vacuumed = t.vacuum(staging_grace_hours=0)  # with Spark's _SUCCESS
    assert [f for f in vacuumed if f.endswith(".parquet")] == dropped
    return {"snapshot": _rows(t.read()), "versions": t.versions(),
            "vacuumed": len(vacuumed)}


def test_local_and_hadoop_lanes_agree(spark, tmp_path, monkeypatch):
    """One bridge and one native sequence per lane: the ``os`` lane,
    then the Hadoop lane (``local_path`` patched to None). Snapshots,
    change rows, versions and deleted files agree, and no listing on
    either lane returns a Hadoop checksum sidecar."""
    listed: list[str] = []
    real_list_dir = files.list_dir

    def spy(*a, **k):
        out = real_list_dir(*a, **k)
        listed.extend(f.name for f in out or [])
        return out

    monkeypatch.setattr(files, "list_dir", spy)
    lanes = []
    for lane in ("os", "hadoop"):
        if lane == "hadoop":
            monkeypatch.setattr(files, "local_path", lambda *a: None)
        lanes.append((_bridge_sequence(spark, str(tmp_path / lane / "d")),
                      _native_sequence(spark, str(tmp_path / lane / "n"))))
    assert lanes[0] == lanes[1]
    bridge, native = lanes[0]
    assert bridge["snapshot"] == [(1, "A"), (2, "b"), (3, "c")]
    assert bridge["travel"] == [(1, "a"), (2, "b")]
    assert bridge["cleaned"] == [f"{0:020d}.crc", f"{0:020d}.json"]
    assert native["snapshot"] == bridge["snapshot"] and native["vacuumed"]
    assert listed and not [n for n in listed
                           if os.path.basename(n).startswith(".")
                           and n.endswith(".crc")]
