"""The shared data-file layer (``tables/files.py``): one writer and one
stats reader serve the native manifest and the Delta bridge's ``add``
actions, so both formats hold the same per-file stats and neither
publishes rowless files."""

from __future__ import annotations

import decimal
import json
import os
import uuid
from urllib.parse import unquote

import pytest

from sql_based_etl_spark.tables import files
from sql_based_etl_spark.tables.delta_interop import _add_stats
from sql_based_etl_spark.tables.versioned import (
    VersionedTable,
    VersionedTableError,
    manifest_stats,
)


def _jobs_in(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    Spark jobs it started."""
    sc = spark.sparkContext
    group = f"files-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_writer_drops_rowless_files(spark, tmp_path):
    """One row spread over 8 writer partitions leaves 7 empty ones;
    their rowless files are deleted, not returned."""
    d = str(tmp_path / "one")
    df = spark.createDataFrame([(1, "a")], "id long, v string").repartition(8)
    out = files.write_files(df, d)
    assert [(f.rows, f.columns["id"]) for f in out] == [
        (1, {"min": 1, "max": 1, "nulls": 0})]
    on_disk = [n for n in os.listdir(d) if n.endswith(".parquet")
               and not n.startswith(".")]
    assert on_disk == [out[0].path]


def test_writer_keeps_one_file_of_an_empty_write(spark, tmp_path):
    d = str(tmp_path / "empty")
    out = files.write_files(spark.createDataFrame([], "id long"), d)
    assert len(out) == 1 and out[0].rows == 0


def test_non_local_path_matches_local_path(spark, tmp_path, monkeypatch):
    """A non-local URI is listed through the Hadoop FS and gets its
    stats from the one Spark aggregate; on the same rows that gives the
    local path's records: hive-escaped and null partition values parsed
    back, bounds and null counts equal, rowless files deleted."""
    part = spark.createDataFrame(
        [(1, "a:b", 1.5), (2, None, None), (3, "a:b", 2.5)],
        "id long, p string, x double").repartition(8)
    one = spark.createDataFrame([(1, "a")], "id long, v string").repartition(8)

    def records(out):
        return sorted(json.dumps([f.partition_values, f.rows, f.columns],
                                 sort_keys=True) for f in out)

    local = [files.write_files(part, str(tmp_path / "lp"), ["p"]),
             files.write_files(one, str(tmp_path / "l1"))]
    monkeypatch.setattr(files, "local_path", lambda *a: None)
    remote = [files.write_files(part, str(tmp_path / "rp"), ["p"]),
              files.write_files(one, str(tmp_path / "r1"))]
    assert {f.partition_values["p"] for f in remote[0]} == {"a:b", None}
    assert [records(x) for x in remote] == [records(x) for x in local]
    assert len(remote[1]) == 1
    assert [n for n in os.listdir(tmp_path / "r1")
            if n.endswith(".parquet")] == [remote[1][0].path]


def test_formats_agree_on_footer_stats(spark, tmp_path):
    """Files built with pyarrow in 2-row row groups go through the one
    reader, then the native manifest and bridge ``add.stats`` mappings:

    - ``c``'s first row group is all null: both shapes keep its bounds;
    - ``d`` is a decimal: it gets a null count, no bounds, and does not
      send the file to the Spark fallback (no job starts) — nor does
      Spark's INT64 decimal encoding, whose footer statistics pyarrow
      cannot decode;
    - a rowless file is dropped and deleted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "pa"
    d.mkdir()
    schema = pa.schema([("id", pa.int64()), ("c", pa.int32()),
                        ("d", pa.decimal128(10, 2)), ("s", pa.string())])
    pq.write_table(pa.table({
        "id": [1, 2, 3, 4], "c": [None, None, 5, 7],
        "d": [decimal.Decimal("1.50"), None, decimal.Decimal("2.25"), None],
        "s": ["b", "a", None, "c"],
    }, schema=schema), d / "part-0.parquet", row_group_size=2)
    pq.write_table(schema.empty_table(), d / "part-1.parquet")

    spark_schema = "id long, c int, d decimal(10,2), s string"
    out, jobs = _jobs_in(spark, lambda: files.collect_files(
        spark, str(d), spark.createDataFrame([], spark_schema).schema))
    assert jobs == []
    assert [f.path for f in out] == ["part-0.parquet"]
    assert not (d / "part-1.parquet").exists()

    cols = {"id": {"min": 1, "max": 4, "nulls": 0},
            "c": {"min": 5, "max": 7, "nulls": 2},
            "d": {"min": None, "max": None, "nulls": 2},
            "s": {"min": "a", "max": "c", "nulls": 1}}
    assert manifest_stats(["data/v0/part-0.parquet"], out) == {
        "data/v0/part-0.parquet": {"rows": 4, "columns": cols}}
    assert json.loads(_add_stats(out[0])) == {
        "numRecords": 4,
        "minValues": {"id": 1, "c": 5, "s": "a"},
        "maxValues": {"id": 4, "c": 7, "s": "c"},
        "nullCount": {"id": 0, "c": 2, "d": 2, "s": 1},
    }

    sd = str(tmp_path / "spark_decimal")
    dec = spark.createDataFrame([(1, decimal.Decimal("1.50")), (2, None)],
                                "id long, d decimal(10,2)")
    dec.coalesce(1).write.parquet(sd)
    out, jobs = _jobs_in(spark, lambda: files.collect_files(
        spark, sd, dec.schema))
    assert jobs == []
    assert [f.columns for f in out] == [{
        "id": {"min": 1, "max": 2, "nulls": 0},
        "d": {"min": None, "max": None, "nulls": 1}}]


def test_fallback_keeps_string_bounds_in_code_point_order(
        spark, tmp_path, monkeypatch):
    """Spark's ``min``/``max`` order strings by code point (UTF-8 bytes),
    as parquet footers and Python do, not by UTF-16 code units, which
    would put U+1F600 (a surrogate pair) below U+FFFF. So the Spark
    fallback keeps string bounds and matches the footer path; a Spark
    that changed this order fails here."""
    values = ["\uffff", "\U0001F600", "a"]
    df = spark.createDataFrame([(v,) for v in values], "s string").coalesce(1)
    footer = files.write_files(df, str(tmp_path / "footer"))
    monkeypatch.setattr(
        files, "footer_stats",
        lambda *a, **k: (_ for _ in ()).throw(OSError("no local footers")))
    scanned, jobs = _jobs_in(
        spark, lambda: files.write_files(df, str(tmp_path / "scan")))
    assert jobs, "the fallback aggregate must have run"
    want = {"min": min(values), "max": max(values), "nulls": 0}
    assert want == {"min": "a", "max": "\U0001F600", "nulls": 0}
    assert [f.columns["s"] for f in scanned] == [want]
    assert [f.columns["s"] for f in footer] == [want]


def test_delete_publishes_no_rowless_change_files(spark, tmp_path):
    """A one-row delete on a change-data-feed table writes its change
    rows through the shared writer, so no ``_change_data/`` file is
    rowless, though the deleted row's writer has empty partitions."""
    import pyarrow.parquet as pq

    from sql_based_etl_spark.tables.delta_interop import (
        delete_delta,
        read_delta_changes,
        write_delta,
    )

    d = str(tmp_path / "cdf")
    write_delta(spark.createDataFrame([(i, "v") for i in range(40)],
                                      "id long, v string").repartition(2),
                d, mode="overwrite",
                properties={"delta.enableChangeDataFeed": "true"})
    delete_delta(spark, d, "id = 3")
    log = os.path.join(d, "_delta_log", f"{1:020d}.json")
    with open(log) as fh:
        cdcs = [json.loads(x)["cdc"] for x in fh if '"cdc"' in x]
    assert cdcs
    rows = [pq.read_metadata(os.path.join(d, unquote(c["path"]))).num_rows
            for c in cdcs]
    assert all(n > 0 for n in rows), rows
    got = read_delta_changes(spark, d, starting_version=1).collect()
    assert [(r.id, r._change_type) for r in got] == [(3, "delete")]


@pytest.mark.parametrize("path", ["versioned_write", "compact_delta",
                                  "load_stage"])
def test_unknown_cluster_method_refused(spark, tmp_path, path):
    """A misspelt clustering method raises on every write path instead
    of silently range-clustering."""
    from sql_based_etl_spark.engine.pipeline import Pipeline
    from sql_based_etl_spark.tables.delta_interop import (
        compact_delta,
        write_delta,
    )

    uri = str(tmp_path / path)
    df = spark.createDataFrame([(i, i % 3) for i in range(20)], "a long, b long")
    with pytest.raises(VersionedTableError, match="zordr"):
        if path == "versioned_write":
            VersionedTable(spark, uri).write(
                df, cluster_by=["a"], cluster_method="zordr")
        elif path == "compact_delta":
            for _ in range(2):
                write_delta(df, uri, mode="append")
            compact_delta(spark, uri, cluster_by=["a"],
                          cluster_method="zordr")
        else:
            df.createOrReplaceTempView("cluster_src")
            Pipeline(spark).run([{
                "type": "DeltaLakeLoad", "name": "load",
                "inputView": "cluster_src", "outputURI": uri,
                "options": {"clusterBy": ["a"], "clusterMethod": "zordr"}}])
    if path != "compact_delta":
        assert not os.path.exists(os.path.join(uri, "_meta"))


def test_collated_strings_get_null_counts_but_no_bounds(
        spark, tmp_path, monkeypatch):
    """Footer bounds of a string are in byte order, which says nothing
    under a non-binary collation ('a' = 'A' in UTF8_LCASE). Both stat
    paths give such a column a null count and no bounds, while a
    binary-collated string keeps its bounds."""
    df = spark.sql(
        "SELECT CAST(s AS STRING COLLATE UTF8_LCASE) AS c, s AS b FROM "
        "VALUES ('a'), ('B'), (NULL) AS t(s)").coalesce(1)
    want = {"c": {"min": None, "max": None, "nulls": 1},
            "b": {"min": "B", "max": "a", "nulls": 1}}
    footer = files.write_files(df, str(tmp_path / "footer"))
    assert [f.columns for f in footer] == [want]
    monkeypatch.setattr(
        files, "footer_stats",
        lambda *a, **k: (_ for _ in ()).throw(OSError("no local footers")))
    scanned = files.write_files(df, str(tmp_path / "scan"))
    assert [f.columns for f in scanned] == [want]
