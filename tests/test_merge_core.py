"""The MERGE find-files pass both table formats share
(``tables/versioned.py:matched_files``), driven through each format's
public MERGE: the native ``VersionedTable.merge`` and the Delta
bridge's ``merge_delta``."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sql_based_etl_spark.tables.delta_interop import (
    merge_delta,
    read_delta,
    write_delta,
)
from sql_based_etl_spark.tables.versioned import VersionedTable, VersionedTableError

FORMATS = ["native", "delta"]


class _Table:
    """One table of either format behind the few calls these tests need."""

    def __init__(self, spark, fmt: str, path: str):
        self.spark, self.fmt, self.path = spark, fmt, path

    def write(self, df) -> None:
        """Create the table from ``df``, one data file per partition."""
        if self.fmt == "native":
            VersionedTable(self.spark, self.path).write(df)
        else:
            write_delta(df, self.path, mode="overwrite")

    def merge(self, source, condition: str, **kw) -> int:
        if self.fmt == "native":
            return VersionedTable(self.spark, self.path).merge(
                source, condition, **kw)
        return merge_delta(source, self.path, condition, **kw)

    def rows(self) -> list[tuple]:
        df = (VersionedTable(self.spark, self.path).read()
              if self.fmt == "native" else read_delta(self.spark, self.path))
        return sorted((r.id, r.v) for r in df.collect())

    def version(self) -> int:
        if self.fmt == "native":
            return VersionedTable(self.spark, self.path).latest_version()
        return max(int(n[:20]) for n in os.listdir(
            os.path.join(self.path, "_delta_log")) if n.endswith(".json"))

    def _actions(self, version: int, kind: str) -> int:
        with open(os.path.join(self.path, "_delta_log",
                               f"{version:020d}.json")) as fh:
            return sum(kind in json.loads(line) for line in fh
                       if line.strip())

    def files_rewritten(self, version: int) -> int:
        if self.fmt == "native":
            return VersionedTable(self.spark, self.path).manifest(
                version)["files_rewritten"]
        return self._actions(version, "remove")

    def files_created(self) -> int:
        if self.fmt == "native":
            return len(VersionedTable(self.spark, self.path).files(0))
        return self._actions(0, "add")


def _four_file_table(spark, fmt: str, path: str) -> _Table:
    """Ids 0..39 with v='old' in four data files of consecutive ids."""
    t = _Table(spark, fmt, path)
    t.write(spark.range(40).select("id", F.lit("old").alias("v"))
            .repartitionByRange(4, "id"))
    assert t.files_created() == 4
    return t


@pytest.mark.parametrize("fmt", FORMATS)
def test_by_source_merge_refuses_ambiguous_match(spark, tmp_path, fmt):
    """A not-matched-by-source MERGE rewrites every file, but its source
    matching one target row twice still fails loudly before anything
    commits."""
    t = _four_file_table(spark, fmt, str(tmp_path / "t"))
    before = t.version()
    src = spark.createDataFrame([(13, "a"), (13, "b")], "id long, v string")
    with pytest.raises(VersionedTableError, match="multiple source rows"):
        t.merge(src, "target.id = source.id",
                when_matched_update={"v": "source.v"},
                when_not_matched_by_source_delete="target.id > 35")
    assert t.version() == before


@pytest.mark.parametrize("fmt", FORMATS)
def test_unvalidated_merge_matches_validated(spark, tmp_path, fmt):
    """``validate_unique_match=False`` takes the left-semi find-files
    join instead of the fused counting join: the snapshot is the one
    the validated path gives, and only the one matched file is
    rewritten."""
    t = _four_file_table(spark, fmt, str(tmp_path / "t"))
    src = spark.createDataFrame([(12, "u"), (100, "new")],
                                "id long, v string")
    v = t.merge(src, "target.id = source.id",
                when_matched_update={"v": "source.v"},
                validate_unique_match=False)
    assert t.files_rewritten(v) == 1
    want = {i: "old" for i in range(40)} | {12: "u", 100: "new"}
    assert t.rows() == sorted(want.items())


@pytest.mark.parametrize("fmt", FORMATS)
def test_merge_in_directory_named_with_space_and_percent(spark, tmp_path, fmt):
    """Scan-reported file URIs are percent-encoded; the table's own file
    list is not. A table under a directory whose name holds a space and
    a '%' that reads as an escape still maps each matched file back to
    exactly one table file, and rewrites only that one."""
    t = _four_file_table(spark, fmt, str(tmp_path / "my tables 100%41" / "t"))
    src = spark.createDataFrame([(25, "u")], "id long, v string")
    v = t.merge(src, "target.id = source.id",
                when_matched_update={"v": "source.v"})
    assert t.files_rewritten(v) == 1
    got = dict(t.rows())
    assert got[25] == "u" and len(got) == 40
