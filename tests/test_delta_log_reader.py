"""The bridge's Delta log reader.

- The on-disk schema of every checkpoint layout the bridge writes
  (classic, multipart part, v2 manifest, v2 sidecar), as Spark reads it.
- Replay from a checkpoint alone equals JSON replay of the same table:
  adds with a deletion vector and ``baseRowId``, a ``txn`` watermark and
  ``domainMetadata`` included.
- Replay without a JVM (``spark=None``) equals replay with one, on all
  four layouts (the v2 JSON manifest included).
- The incremental readers serve an identity-column table, whose every
  append re-records the identity high watermark in ``metaData``."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

from sql_based_etl_spark.tables.delta_interop import (
    _replay_state,
    delete_delta,
    write_delta,
)

PROPS = {
    "delta.enableDeletionVectors": "true",
    "delta.enableRowTracking": "true",
}
LAYOUTS = {
    "classic": {},
    "multipart": {"delta.checkpoint.partSize": "2"},
    "v2": {"delta.checkpointPolicy": "v2"},
}
# the fields a checkpoint keeps of each add
ADD_FIELDS = ("path", "partitionValues", "size", "modificationTime", "stats",
              "baseRowId", "defaultRowCommitVersion", "deletionVector")
META_FIELDS = ("id", "format", "schemaString", "partitionColumns",
               "configuration", "createdTime")

_PROTOCOL_T = ("struct<minReaderVersion:int,minWriterVersion:int,"
               "readerFeatures:array<string>,writerFeatures:array<string>>")
_META_T = ("struct<id:string,format:struct<provider:string,"
           "options:map<string,string>>,schemaString:string,"
           "partitionColumns:array<string>,configuration:map<string,string>,"
           "createdTime:bigint>")
_ADD_T = ("struct<path:string,partitionValues:map<string,string>,size:bigint,"
          "modificationTime:bigint,dataChange:boolean,stats:string,"
          "baseRowId:bigint,defaultRowCommitVersion:bigint,"
          "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
          "offset:int,sizeInBytes:int,cardinality:bigint>>")
_REMOVE_T = ("struct<path:string,deletionTimestamp:bigint,"
             "dataChange:boolean>")
_TXN_T = "struct<appId:string,version:bigint>"
_DOMAIN_T = "struct<domain:string,configuration:string,removed:boolean>"
CLASSIC_SCHEMA = (
    f"struct<protocol:{_PROTOCOL_T},metaData:{_META_T},add:{_ADD_T},"
    f"remove:{_REMOVE_T},txn:{_TXN_T},domainMetadata:{_DOMAIN_T}>")
MANIFEST_SCHEMA = (
    f"struct<protocol:{_PROTOCOL_T},metaData:{_META_T},txn:{_TXN_T},"
    f"domainMetadata:{_DOMAIN_T},"
    "checkpointMetadata:struct<version:bigint,tags:map<string,string>>,"
    "sidecarFile:struct<path:string,sizeInBytes:bigint,"
    "modificationTime:bigint,tags:map<string,string>>>")
SIDECAR_SCHEMA = f"struct<add:{_ADD_T},remove:{_REMOVE_T}>"


def _rows(spark, ids, tag="a"):
    return spark.createDataFrame([(i, f"{tag}{i}", i * 10) for i in ids],
                                 "id long, v string, n long")


def _build(spark, t: str, layout: dict) -> None:
    """Four commits, the checkpoint at the last: a clustered CREATE with
    row tracking (two domains), an append with a txn watermark, a
    deletion-vector DELETE and one more append."""
    write_delta(_rows(spark, range(20)).repartition(2), t, mode="overwrite",
                cluster_by=["id"], checkpoint_interval=None,
                properties={**PROPS, **layout})
    write_delta(_rows(spark, [20]), t, txn_app_id="app", txn_version=1,
                checkpoint_interval=None)
    delete_delta(spark, t, "id = 3", checkpoint_interval=None)
    write_delta(_rows(spark, [21]), t, checkpoint_interval=3)


def _checkpoint_only(t: str, dest: str) -> str:
    """A copy of ``t`` whose JSON commits 0-3 are gone: replay must
    start from the checkpoint at version 3."""
    shutil.copytree(t, dest)
    for v in range(4):
        os.remove(os.path.join(dest, "_delta_log", f"{v:020d}.json"))
    return dest


def _comparable(state: tuple) -> tuple:
    """A ``_replay_state`` result reduced to what a checkpoint keeps."""
    meta, adds, version, txns, proto, domains = state
    return (
        {k: meta[k] for k in META_FIELDS if meta.get(k) is not None},
        {key: {k: a[k] for k in ADD_FIELDS if a.get(k) is not None}
         for key, a in adds.items()},
        version, txns, proto, domains,
    )


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("logreader")
    out = {}
    for name, layout in LAYOUTS.items():
        t = str(root / name)
        _build(spark, t, layout)
        out[name] = t
    return out


def test_checkpoint_file_schemas_per_layout(spark, tables):
    """Each checkpoint file the bridge writes reads back in Spark with
    the same schema, layout by layout."""
    log = os.path.join(tables["classic"], "_delta_log")
    files = {"classic": os.path.join(log, f"{3:020d}.checkpoint.parquet")}
    log = os.path.join(tables["multipart"], "_delta_log")
    parts = sorted(glob.glob(os.path.join(log, f"{3:020d}.checkpoint.*.parquet")))
    assert len(parts) > 1 and parts[0].endswith(".0000000001.%010d.parquet"
                                                 % len(parts))
    files["multipart"] = parts[0]
    log = os.path.join(tables["v2"], "_delta_log")
    manifests = glob.glob(os.path.join(log, f"{3:020d}.checkpoint.*.parquet"))
    sidecars = glob.glob(os.path.join(log, "_sidecars", "*.parquet"))
    assert len(manifests) == 1 and sidecars
    files["manifest"], files["sidecar"] = manifests[0], sidecars[0]
    got = {k: spark.read.parquet(f).schema.simpleString()
           for k, f in files.items()}
    assert got == {"classic": CLASSIC_SCHEMA, "multipart": CLASSIC_SCHEMA,
                   "manifest": MANIFEST_SCHEMA, "sidecar": SIDECAR_SCHEMA}


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_checkpoint_replay_equals_json_replay(spark, tables, tmp_path, layout):
    """Replay from the checkpoint alone equals JSON replay: the DV, the
    row ids, the txn watermark and both domains survive."""
    t = tables[layout]
    want = _replay_state(spark, t)
    _, adds, version, txns, _, domains = want
    assert version == 3 and txns == {"app": 1}
    assert set(domains) == {"delta.clustering", "delta.rowTracking"}
    assert any(a.get("deletionVector") for a in adds.values())
    assert all(a.get("baseRowId") is not None for a in adds.values())
    cp = _checkpoint_only(t, str(tmp_path / layout))
    assert _comparable(_replay_state(spark, cp)) == _comparable(want)


def _v2_json_manifest(spark, t: str, dest: str) -> str:
    """``t`` with its checkpoint restated as a v2 JSON manifest that
    carries the file actions itself, and the JSON commits 0-3 gone."""
    meta, adds, _, txns, proto, domains = _replay_state(spark, t)
    shutil.copytree(t, dest)
    log = os.path.join(dest, "_delta_log")
    for name in os.listdir(log):
        if ".checkpoint." in name or (name.endswith(".json")
                                      and int(name[:20]) <= 3):
            os.remove(os.path.join(log, name))
    actions = [{"checkpointMetadata": {"version": 3}}, {"protocol": proto},
               {"metaData": meta}]
    actions += [{"add": {**a, "dataChange": False}} for a in adds.values()]
    actions += [{"txn": {"appId": k, "version": v}} for k, v in txns.items()]
    actions += [{"domainMetadata": {"domain": k, "configuration": c,
                                    "removed": False}}
                for k, c in domains.items()]
    with open(os.path.join(log, f"{3:020d}.checkpoint.0aa0-demo.json"),
              "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 3, "size": len(actions)}, fh)
    return dest


@pytest.mark.parametrize("layout", sorted(LAYOUTS) + ["v2_json"])
def test_replay_without_jvm_equals_replay_with_spark(spark, tables, tmp_path,
                                                     layout):
    """``_replay_state(None, …)`` — the stream planner's no-JVM lane —
    reads every checkpoint layout and gives Spark's replay."""
    if layout == "v2_json":
        cp = _v2_json_manifest(spark, tables["v2"], str(tmp_path / layout))
    else:
        cp = _checkpoint_only(tables[layout], str(tmp_path / layout))
    want = _replay_state(spark, cp)
    assert want[2] == 3 and any(a.get("deletionVector")
                                for a in want[1].values())
    assert _replay_state(None, cp) == want


def test_incremental_readers_serve_identity_appends(spark, tmp_path):
    """Every append to an identity-column table re-records the high
    watermark in the field metadata of ``metaData``; the table's shape
    is unchanged, so both incremental readers return both appends."""
    from sql_based_etl_spark.tables.delta_interop import (
        read_delta_appends,
        read_delta_changes,
    )

    t = str(tmp_path / "ident")
    log = os.path.join(t, "_delta_log")
    os.makedirs(log)
    schema_string = json.dumps({"type": "struct", "fields": [
        {"name": "ident", "type": "long", "nullable": True, "metadata": {
            "delta.identity.start": 1, "delta.identity.step": 1,
            "delta.identity.allowExplicitInsert": False}},
        {"name": "v", "type": "string", "nullable": True, "metadata": {}},
    ]})
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in (
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
            {"metaData": {
                "id": "ident", "format": {"provider": "parquet",
                                          "options": {}},
                "schemaString": schema_string, "partitionColumns": [],
                "configuration": {"delta.enableChangeDataFeed": "true"}}})))
    for v in ("a", "b"):
        write_delta(spark.createDataFrame([(v,)], "v string"), t,
                    mode="append")
    assert sorted(r.v for r in read_delta_appends(spark, t, 0).collect()) \
        == ["a", "b"]
    got = read_delta_changes(spark, t, 1, 2).collect()
    assert sorted((r.v, r._change_type, r._commit_version) for r in got) \
        == [("a", "insert", 1), ("b", "insert", 2)]
