"""The shape of every bridge commit, operation by operation.

One small table with change data feed, row tracking, in-commit
timestamps and deletion vectors (plus a second one without deletion
vectors for the copy-on-write DELETE) runs through every Delta bridge
operation. For each commit the test pins the ordered action kinds, the
``operation``, the ``operationMetrics``, whether the ``.crc`` sidecar
was written and whether a checkpoint was written at the interval — the
on-disk contract of the one commit path all operations share."""

from __future__ import annotations

import json
import os

PROPS = {
    "delta.enableChangeDataFeed": "true",
    "delta.enableRowTracking": "true",
    "delta.enableInCommitTimestamps": "true",
}


def _kinds(actions: list[dict]) -> list[str]:
    """Ordered action kinds, runs of one kind folded as ``kind*n``;
    domainMetadata actions carry their domain name."""
    out: list[str] = []
    for a in actions:
        (k, body), = a.items()
        if k == "domainMetadata":
            k = f"domainMetadata/{body['domain']}"
        if out and out[-1].split("*")[0] == k:
            n = int(out[-1].split("*")[1]) if "*" in out[-1] else 1
            out[-1] = f"{k}*{n + 1}"
        else:
            out.append(k)
    return out


# byte counts depend on the parquet writer, so EXPECTED names them BYTES
BYTES = "<bytes>"


def _checked_metrics(metrics: dict | None, actions: list[dict]) -> dict | None:
    """``metrics`` after checking every file, row and byte count it
    holds against the commit's own add and remove actions; byte counts
    come back as :data:`BYTES`."""
    if metrics is None:
        return None
    adds = [a["add"] for a in actions if "add" in a]
    removes = [a["remove"] for a in actions if "remove" in a]
    derived = {
        "numFiles": len(adds),
        "numAddedFiles": len(adds),
        "numRemovedFiles": len(removes),
        "numOutputRows": sum(json.loads(a["stats"])["numRecords"]
                             for a in adds if "stats" in a),
        "numOutputBytes": sum(a["size"] for a in adds),
        "numAddedBytes": sum(a["size"] for a in adds),
        "numRemovedBytes": sum(a["size"] for a in removes),
    }
    for k in derived.keys() & metrics.keys():
        assert metrics[k] == str(derived[k]), (k, metrics, derived)
    return {k: BYTES if k.endswith("Bytes") else v
            for k, v in metrics.items()}


def _commit(table: str, version: int) -> dict:
    log = os.path.join(table, "_delta_log")
    with open(os.path.join(log, f"{version:020d}.json")) as fh:
        actions = [json.loads(x) for x in fh.read().splitlines() if x]
    ci = actions[0]["commitInfo"]
    return {
        "kinds": _kinds(actions),
        "operation": ci["operation"],
        "metrics": _checked_metrics(ci.get("operationMetrics"), actions),
        "crc": os.path.exists(os.path.join(log, f"{version:020d}.crc")),
        "checkpoint": os.path.exists(
            os.path.join(log, f"{version:020d}.checkpoint.parquet")),
        "ict": ci.get("inCommitTimestamp"),
        "engine": ci.get("engineInfo"),
    }


def _rows(spark, ids, tag="a"):
    return spark.createDataFrame([(i, f"{tag}{i}", i * 10) for i in ids],
                                 "id long, v string, n long")


def _run(spark, root: str) -> tuple[list[dict], list[dict]]:
    from sql_based_etl_spark.tables.delta_interop import (
        compact_delta,
        delete_delta,
        merge_delta,
        restore_delta,
        update_delta,
        vacuum_delta,
        write_delta,
    )

    t = os.path.join(root, "dv")
    seen: list[dict] = []

    def step(v):
        rec = _commit(t, v)
        rec["version"] = v
        seen.append(rec)
        return rec

    # a checkpoint is due every 4th version: every operation that
    # takes an interval keeps it, and compact writes none
    step(write_delta(_rows(spark, range(40)).repartition(4), t,
                     mode="overwrite", cluster_by=["id"],
                     checkpoint_interval=4,
                     properties={**PROPS,
                                 "delta.enableDeletionVectors": "true"}))
    step(write_delta(_rows(spark, [40]), t, mode="append",
                     txn_app_id="app", txn_version=1,
                     checkpoint_interval=4))
    # clustered: each file holds ten consecutive ids, so every single-id
    # operation below touches its own file whatever the core count
    step(write_delta(_rows(spark, range(40), "b").repartition(4), t,
                     mode="overwrite", cluster_by=["id"],
                     checkpoint_interval=4))
    step(merge_delta(
        _rows(spark, [5, 100], "m"), t, "target.id = source.id",
        when_matched_update={"v": "source.v"}, checkpoint_interval=4))
    step(merge_delta(
        _rows(spark, [15], "d"), t, "target.id = source.id",
        when_matched_delete="true", insert_not_matched=False,
        checkpoint_interval=4))
    step(delete_delta(spark, t, "id = 25", checkpoint_interval=4))
    step(update_delta(spark, t, "id = 35", {"n": -1}, checkpoint_interval=4))
    step(compact_delta(spark, t, purge=True))
    step(compact_delta(spark, t, target_files=1))
    step(restore_delta(spark, t, version=3, checkpoint_interval=4))
    deleted = vacuum_delta(spark, t, retention_hours=0.0,
                           enforce_retention_check=False)
    step(10)["deleted"] = len(deleted)

    c = os.path.join(root, "cow")
    cow: list[dict] = []
    write_delta(_rows(spark, range(10)).coalesce(1), c, mode="overwrite",
                properties=PROPS)
    rec = _commit(c, delete_delta(spark, c, "id = 7", checkpoint_interval=1))
    cow.append(rec)
    return seen, cow


RT = "domainMetadata/delta.rowTracking"
MERGE_METRICS = ["numTargetRowsUpdated", "numTargetRowsInserted",
                 "numTargetRowsDeleted", "numTargetFilesRemoved",
                 "numTargetFilesAdded"]
DELETE_METRICS = ["numDeletedRows", "numRemovedFiles", "numAddedFiles",
                  "numDeletionVectorsAdded"]
OPTIMIZE_METRICS = ["numRemovedFiles", "numAddedFiles", "numRemovedBytes",
                    "numAddedBytes"]


def _write(files: int, rows: int) -> dict:
    return {"numFiles": str(files), "numOutputRows": str(rows),
            "numOutputBytes": BYTES}


# version, operation, action kinds, operationMetrics, .crc, checkpoint
EXPECTED = [
    (0, "CREATE TABLE AS SELECT",
     ["commitInfo", "protocol", "metaData",
      "domainMetadata/delta.clustering", RT, "add*4"], _write(4, 40),
     True, False),
    (1, "WRITE", ["commitInfo", "txn", RT, "add"], _write(1, 1), True, False),
    (2, "WRITE", ["commitInfo", "metaData", RT, "remove*5", "add*4"],
     _write(4, 40), True, False),
    (3, "MERGE",
     ["commitInfo", "metaData", RT, "remove", "add", "cdc*3"],
     dict(zip(MERGE_METRICS, ["1", "1", "0", "1", "1"])), True, False),
    (4, "MERGE", ["commitInfo", "remove", "add", "cdc"],
     {**dict(zip(MERGE_METRICS, ["0", "0", "1", "1", "1"])),
      "numTargetDeletionVectorsAdded": "1"}, True, True),
    (5, "DELETE", ["commitInfo", "remove", "add", "cdc"],
     dict(zip(DELETE_METRICS, ["1", "1", "1", "1"])), True, False),
    (6, "UPDATE", ["commitInfo", RT, "remove", "add", "cdc*2"],
     {"numUpdatedRows": "1", "numRemovedFiles": "1", "numAddedFiles": "1"},
     True, False),
    (7, "REORG", ["commitInfo", RT, "remove*2", "add"],
     dict(zip(OPTIMIZE_METRICS, ["2", "1", BYTES, BYTES])), True, False),
    (8, "OPTIMIZE", ["commitInfo", RT, "remove*3", "add"],
     dict(zip(OPTIMIZE_METRICS, ["3", "1", BYTES, BYTES])), True, False),
    (9, "RESTORE", ["commitInfo", "remove", "add*4"],
     {"numRestoredFiles": "4", "numRemovedFiles": "1"}, True, False),
    (10, "VACUUM END", ["commitInfo"], {"numDeletedFiles": "18"},
     False, False),
]
EXPECTED_COW_DELETE = (
    "DELETE", ["commitInfo", "metaData", RT, "remove", "add", "cdc"],
    dict(zip(DELETE_METRICS, ["1", "1", "1", "0"])), True, True)


def test_every_bridge_operation_commits_the_same_shape(spark, tmp_path):
    """Every operation's commit, in order: the action kinds (commitInfo,
    protocol, metaData, domains, txn, row-tracking domain, removes,
    adds, cdc), the metrics, a ``.crc`` after every state change (not
    after VACUUM END), a checkpoint every 4th version except at
    compact's (the copy-on-write DELETE runs at interval 1), and a
    strictly increasing in-commit timestamp."""
    seen, cow = _run(spark, str(tmp_path))
    got = [(r["version"], r["operation"], r["kinds"], r["metrics"],
            r["crc"], r["checkpoint"]) for r in seen]
    assert got == EXPECTED
    (c,) = cow
    assert (c["operation"], c["kinds"], c["metrics"], c["crc"],
            c["checkpoint"]) == EXPECTED_COW_DELETE
    assert seen[-1]["deleted"] == 18
    icts = [r["ict"] for r in seen]
    assert all(b > a for a, b in zip(icts, icts[1:])), icts
    assert {r["engine"] for r in seen + cow} == {
        "sql-based-etl-spark delta bridge"}
