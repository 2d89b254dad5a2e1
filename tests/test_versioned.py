"""VersionedTable storage-layer tests: file-granular copy-on-write
merge, file-additive append, Hadoop-FS metadata, URI handling."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from sql_based_etl_spark.tables.versioned import VersionedTable, VersionedTableError


@pytest.fixture()
def table(spark, tmp_path):
    return VersionedTable(spark, str(tmp_path / "tbl"))


def _clustered_df(spark, n=400, parts=4):
    # range-partition by id so each data file owns a contiguous id range —
    # the layout under which file pruning can pay off
    df = spark.range(n).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
    )
    return df.repartitionByRange(parts, "id")


def test_merge_rewrites_only_matched_files(spark, table):
    table.write(_clustered_df(spark), num_partitions=None)
    assert len(table.files()) == 4

    # source touches ids 0..9 — all inside the first id-range file
    src = spark.range(10).select(
        F.col("id").cast("int").alias("id"),
        F.lit("updated").alias("name"),
    )
    v = table.merge(src, "source.id = target.id",
                    when_matched_update={"name": "source.name"})
    m = table.manifest(v)
    assert m["files_rewritten"] == 1, m
    assert m["files_carried"] == 3, m
    out = table.read()
    assert out.count() == 400
    assert out.filter(F.col("name") == "updated").count() == 10
    # time travel still sees the pre-merge state
    assert table.read(relative_version=-1).filter(F.col("name") == "updated").count() == 0


def test_append_adds_files_without_rewrite(spark, table):
    table.write(_clustered_df(spark, n=100, parts=2), num_partitions=None)
    before = set(table.files())
    extra = spark.range(100, 150).select(
        F.col("id").cast("int").alias("id"), F.lit("x").alias("name")
    )
    table.write(extra, mode="append", num_partitions=1)
    after = table.files()
    assert before < set(after)  # old files carried by reference
    assert len(set(after) - before) == 1  # exactly the one new file
    assert table.read().count() == 150


def test_merge_insert_only_when_no_match(spark, table):
    table.write(_clustered_df(spark, n=20, parts=2), num_partitions=None)
    src = spark.range(1000, 1005).select(
        F.col("id").cast("int").alias("id"), F.lit("new").alias("name")
    )
    v = table.merge(src, "source.id = target.id")
    m = table.manifest(v)
    assert m["files_rewritten"] == 0
    assert table.read().count() == 25


def test_merge_duplicate_source_match_fails_loudly(spark, table):
    table.write(_clustered_df(spark, n=10, parts=1), num_partitions=None)
    dup_src = spark.createDataFrame(
        [(3, "a"), (3, "b")], ["id", "name"]
    )
    with pytest.raises(VersionedTableError, match="multiple source rows"):
        table.merge(dup_src, "source.id = target.id",
                    when_matched_update={"name": "source.name"})


def test_uri_paths_accepted(spark, tmp_path):
    # explicit file:// URI goes through the same Hadoop FS plumbing a
    # cluster deployment would use for hdfs:// or s3a://
    t = VersionedTable(spark, f"file://{tmp_path}/uri_tbl")
    df = spark.range(5).select(F.col("id").cast("int").alias("id"))
    t.write(df)
    assert t.read().count() == 5
    assert t.versions() == [0]


def test_changes_diff_is_file_pruned(spark, table):
    """CDF between versions must (a) report exactly the inserted and
    deleted rows, with unchanged rows in rewritten files cancelling
    out, and (b) scan only files the two manifests don't share."""
    table.write(_clustered_df(spark), num_partitions=None)
    src = spark.range(10).select(
        F.col("id").cast("int").alias("id"),
        F.lit("updated").alias("name"),
    )
    table.merge(src, "source.id = target.id",
                when_matched_update={"name": "source.name"})

    cdf = table.changes(0, 1)
    rows = {(r.id, r.name, r.change_type) for r in cdf.collect()}
    expect = {(i, "updated", "insert") for i in range(10)} | {
        (i, f"name_{i}", "delete") for i in range(10)
    }
    assert rows == expect

    # only the 1 rewritten + 1 replacement file may appear in the scan
    shared = set(table.files(0)) & set(table.files(1))
    plan = cdf._jdf.queryExecution().executedPlan().toString()
    for f in shared:
        assert f.split("/")[-1] not in plan


def test_changes_append_is_insert_only(spark, table):
    table.write(_clustered_df(spark, n=100, parts=2), num_partitions=None)
    extra = spark.range(100, 120).select(
        F.col("id").cast("int").alias("id"), F.lit("x").alias("name")
    )
    table.write(extra, mode="append", num_partitions=1)
    cdf = table.changes(0)
    assert cdf.filter(F.col("change_type") == "delete").count() == 0
    got = {r.id for r in cdf.collect()}
    assert got == set(range(100, 120))


def test_compact_packs_small_files_and_preserves_rows(spark, table):
    table.write(_clustered_df(spark, n=100, parts=2), num_partitions=None)
    for lo in (100, 150, 200):
        extra = spark.range(lo, lo + 50).select(
            F.col("id").cast("int").alias("id"), F.lit("x").alias("name")
        )
        table.write(extra, mode="append", num_partitions=1)
    n_before = len(table.files())
    v = table.compact(num_partitions=1)
    m = table.manifest(v)
    assert m["operation"] == "COMPACT"
    assert len(table.files()) < n_before
    assert table.read().count() == 250
    # content-identical: the CDF across the compaction is empty
    assert table.changes(v - 1, v).count() == 0
    # pre-compact versions still time-travelable
    assert table.read(version=0).count() == 100


def test_vacuum_drops_dead_files_and_old_versions(spark, table):
    table.write(_clustered_df(spark, n=100, parts=2), num_partitions=None)
    extra = spark.range(100, 150).select(
        F.col("id").cast("int").alias("id"), F.lit("x").alias("name")
    )
    table.write(extra, mode="append", num_partitions=1)
    table.compact(num_partitions=1)
    deleted = table.vacuum(retain_versions=1, staging_grace_hours=0)
    assert deleted, "compacted-away small files should be deleted"
    assert table.versions() == [table.latest_version()]
    assert table.read().count() == 150
    fs = table._fs()
    for f in deleted:
        assert not fs.exists(table._jpath(f))
    for f in table.files():
        assert fs.exists(table._jpath(f))


def test_maintenance_stage(spark, table):
    """Compaction + vacuum driven declaratively through the stage
    runner."""
    from sql_based_etl_spark.engine.pipeline import Pipeline

    table.write(_clustered_df(spark, n=100, parts=2), num_partitions=None)
    for lo in (100, 150):
        extra = spark.range(lo, lo + 50).select(
            F.col("id").cast("int").alias("id"), F.lit("x").alias("name")
        )
        table.write(extra, mode="append", num_partitions=1)
    Pipeline(spark).run([
        {"type": "VersionedTableMaintenance", "name": "housekeeping",
         "inputURI": table.path,
         "compact": {"numPartitions": 1},
         "vacuum": {"retainVersions": 1}},
    ])
    assert len(table.versions()) == 1
    assert table.read().count() == 200


def test_append_schema_enforcement_and_evolution(spark, table):
    """A drifted append must fail loud without merge_schema; with it,
    the schema widens and old rows read NULL for the new column. Time
    travel keeps each version's own schema."""
    table.write(_clustered_df(spark, n=50, parts=1), num_partitions=None)

    drifted = spark.range(50, 60).select(
        F.col("id").cast("int").alias("id"),
        F.lit("x").alias("name"),
        F.lit(1.5).alias("score"),
    )
    with pytest.raises(VersionedTableError, match="merge_schema"):
        table.write(drifted, mode="append")
    with pytest.raises(VersionedTableError, match="changes type"):
        table.write(
            spark.range(5).select(F.col("id").cast("string").alias("id"),
                                  F.lit("y").alias("name")),
            mode="append",
        )

    table.write(drifted, mode="append", merge_schema=True)
    out = table.read()
    assert out.columns == ["id", "name", "score"]
    assert out.count() == 60
    assert out.filter(F.col("score").isNull()).count() == 50
    # pre-evolution version still reads under its original schema
    assert table.read(version=0).columns == ["id", "name"]


def test_merge_and_compact_after_schema_evolution(spark, table):
    """MERGE and compaction must read pre-evolution files under the
    manifest schema (NULL-filled), not footer inference — otherwise
    target.<new_col> fails to resolve / evolved columns vanish."""
    table.write(_clustered_df(spark, n=40, parts=1), num_partitions=None)
    drifted = spark.range(40, 45).select(
        F.col("id").cast("int").alias("id"),
        F.lit("x").alias("name"),
        F.lit(2.5).alias("score"),
    )
    table.write(drifted, mode="append", merge_schema=True)

    src = spark.createDataFrame(
        [(0, "merged", 9.0)], ["id", "name", "score"]
    ).select(F.col("id").cast("int"), "name", "score")
    table.merge(
        src,
        "source.id = target.id",
        when_matched_update={"name": "source.name", "score": "source.score"},
    )
    out = table.read()
    assert out.filter((F.col("id") == 0) & (F.col("name") == "merged")
                      & (F.col("score") == 9.0)).count() == 1
    assert out.filter(F.col("score").isNull()).count() == 39

    v = table.compact(num_partitions=1)
    out2 = table.read()
    assert out2.columns == ["id", "name", "score"]
    assert out2.filter(F.col("score") == 2.5).count() == 5
    assert table.changes(v - 1, v).count() == 0


def test_vacuum_reclaims_crash_orphans(spark, table):
    """Physical-listing GC: a data file on disk that no surviving
    manifest references (e.g. left by a crashed writer) is reclaimed."""
    table.write(_clustered_df(spark, n=50, parts=1), num_partitions=None)
    fs = table._fs()
    orphan = table._jpath("data/v00000099/orphan.parquet")
    out = fs.create(orphan, True)
    out.write(bytearray(b"junk"))
    out.close()
    table.write(_clustered_df(spark, n=50, parts=1), num_partitions=None)
    deleted = table.vacuum(retain_versions=1, staging_grace_hours=0)
    assert "data/v00000099/orphan.parquet" in deleted
    assert not fs.exists(orphan)
    assert table.read().count() == 50


def test_vacuum_returns_only_dropped_data_files(spark, table):
    """vacuum deletes and reports data files only: Spark's ``_SUCCESS``
    markers in ``data/v*/`` are never in a manifest but are not data
    either, so they are left alone and the returned list is exactly
    the files the dropped manifests referenced."""
    table.write(_clustered_df(spark, n=100, parts=2), num_partitions=None)
    src = spark.range(10).select(
        F.col("id").cast("int").alias("id"), F.lit("u").alias("name"))
    table.merge(src, "source.id = target.id",
                when_matched_update={"name": "source.name"})
    dropped = sorted(set(table.files(0)) - set(table.files(1)))
    assert dropped
    assert table.vacuum(retain_versions=1, staging_grace_hours=0) == dropped


def test_vacuum_removes_emptied_version_directories(spark, table):
    """A dropped version's data directory keeps only Spark's _SUCCESS
    marker once its files are gone; vacuum removes the directory whole,
    so later vacuums stop listing it. A directory an appender is still
    writing (it holds _temporary) is left alone."""
    import os

    table.write(_clustered_df(spark, n=20, parts=2))
    table.write(_clustered_df(spark, n=20, parts=2), mode="overwrite")
    writing = os.path.join(table.path, "data", "v00000099", "_temporary")
    os.makedirs(writing)
    open(os.path.join(table.path, "data", "v00000099", "_SUCCESS"), "w").close()
    table.vacuum(retain_versions=1, staging_grace_hours=0)
    assert not os.path.exists(os.path.join(table.path, "data", "v00000000"))
    assert os.path.isdir(writing)
    assert sorted(r.id for r in table.read().collect()) == list(range(20))


def test_data_skipping_prunes_files_from_stats(spark, table):
    """cluster_by gives each file a narrow id range; a selective filter
    must then prune to ~1 file from manifest stats alone (no file
    opened), and the filtered read must equal a full-scan filter."""
    df = spark.range(1000).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )
    table.write(df, num_partitions=8, cluster_by=["id"])
    m = table.manifest(0)
    assert len(m["files"]) == 8
    assert set(m["stats"]) == set(m["files"])
    for f in m["files"]:
        st = m["stats"][f]["columns"]["id"]
        assert st["min"] <= st["max"] and st["nulls"] == 0

    kept = table.prune_files([("id", "=", 5)])
    assert len(kept) == 1
    out = table.read(filters=[("id", "=", 5)])
    # the pruned scan reads only the kept file
    assert {f.split("/")[-1] for f in out.inputFiles()} == {
        kept[0].split("/")[-1]
    }
    assert [r.name for r in out.collect()] == ["n5"]

    # range + in filters stay correct and conservative
    assert table.read(filters=[("id", ">=", 990)]).count() == 10
    assert len(table.prune_files([("id", ">=", 990)])) == 1
    assert table.read(filters=[("id", "in", (3, 997))]).count() == 2
    assert table.read(filters=[("id", "<", 0)]).count() == 0
    assert table.prune_files([("id", "<", 0)]) == []


def test_data_skipping_coerces_literals_like_spark(spark, table):
    """Manifest-stats pruning casts a literal to the column's type the
    way Spark's comparison does: '7' prunes an int column like 7, a
    date spelled '2024-1-5' (Spark reads it as 2024-01-05) never
    prunes the file holding that date, a date literal compares as a
    date, and a timestamp spelled as a string never prunes."""
    import datetime

    df = spark.createDataFrame(
        [(i, datetime.date(2024, 1, 1 + i)) for i in range(8)],
        "id int, d date")
    table.write(df, num_partitions=4, cluster_by=["id"])
    assert len(table.prune_files([("id", "=", "7")])) == 1
    assert table.read(filters=[("d", "=", "2024-1-5")]).count() == 1
    assert table.read(
        filters=[("d", ">=", datetime.date(2024, 1, 7))]).count() == 2
    # timestamp stats hold ISO text: a string literal Spark casts (a 'T'
    # separator, a bare date) must not be compared as text
    from sql_based_etl_spark.tables.versioned import _manifest_tree_may_match

    ts = datetime.datetime(2024, 1, 5)
    fstats = {"rows": 1, "columns": {"t": {
        "min": "2024-01-05 00:00:00", "max": "2024-01-05 00:00:00",
        "nulls": 0}}}
    types = {"t": "timestamp"}
    for lit in ("2024-01-05", "2024-01-05T00:00:00", ts):
        assert _manifest_tree_may_match(
            fstats, ("atom", ("t", "=", lit)), types), lit
    assert not _manifest_tree_may_match(
        fstats, ("atom", ("t", ">", ts)), types)
    # MERGE ON the same spelling rewrites the matching row
    table.merge(spark.createDataFrame([(4,)], "id int"),
                "target.id = source.id AND target.d = '2024-1-5'",
                when_matched_delete="true", insert_not_matched=False)
    assert sorted(r.id for r in table.read().collect()) == [
        0, 1, 2, 3, 5, 6, 7]


def test_data_skipping_carries_stats_and_stays_conservative(spark, table):
    """Stats survive append/merge/compact carry-forward; files written
    before a schema evolution have no stats for the new column and must
    be KEPT (conservative) when filtering on it — while an all-NULL
    column file is safely pruned (null-rejecting ops)."""
    df = spark.range(100).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )
    table.write(df, num_partitions=4, cluster_by=["id"])
    extra = spark.range(100, 150).select(
        F.col("id").cast("int").alias("id"),
        F.lit("x").alias("name"),
        F.lit(7.5).alias("score"),
    )
    table.write(extra, mode="append", num_partitions=1, merge_schema=True)
    m = table.manifest(table.latest_version())
    # carried files kept their v0 stats without any re-scan
    assert sum(1 for f in m["files"] if f.startswith("data/v00000000/")) == 4
    assert all(f in m["stats"] for f in m["files"])

    # old files lack 'score' stats -> kept; their rows are NULL, so the
    # row-level residual still gives the right answer
    kept = table.prune_files([("score", ">=", 5.0)])
    assert len(kept) == 5
    assert table.read(filters=[("score", ">=", 5.0)]).count() == 50

    # an all-NULL column in a file prunes that file outright
    nulls = spark.range(150, 160).select(
        F.col("id").cast("int").alias("id"),
        F.lit("y").alias("name"),
        F.lit(None).cast("double").alias("score"),
    )
    table.write(nulls, mode="append", num_partitions=1)
    new_file = [
        f for f in table.files()
        # appends stage under data/v{N}-{uuid8}/ since round 10
        if f.startswith(f"data/v{table.latest_version():08d}")
    ]
    assert new_file and new_file[0] not in table.prune_files([("score", ">=", 5.0)])

    # merge carries stats for untouched files
    src = spark.createDataFrame([(0, "m", 1.0)], ["id", "name", "score"]).select(
        F.col("id").cast("int"), "name", "score"
    )
    v = table.merge(src, "source.id = target.id",
                    when_matched_update={"name": "source.name"})
    m2 = table.manifest(v)
    assert all(f in m2["stats"] for f in m2["files"])


def test_data_skipping_via_stages(spark, tmp_path):
    """Declarative surface: clusterBy on the load stage, filters on the
    extract stage."""
    from sql_based_etl_spark.engine.pipeline import Pipeline

    uri = str(tmp_path / "skip_tbl")
    p = Pipeline(spark)
    spark.range(200).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % 10).cast("int").alias("bucket"),
    ).createOrReplaceTempView("src_view")
    p.run([
        {"type": "DeltaLakeLoad", "name": "load", "inputView": "src_view",
         "outputURI": uri, "numPartitions": 4,
         "options": {"clusterBy": ["id"]}},
        {"type": "DeltaLakeExtract", "name": "extract", "inputURI": uri,
         "outputView": "pruned",
         "options": {"filters": [["id", "<=", 10]]}},
    ])
    out = spark.table("pruned")
    assert out.count() == 11
    assert len(out.inputFiles()) == 1


def test_stats_scan_fallback_matches_footer_path(spark, table, monkeypatch):
    """Non-local tables can't read footers driver-side; the Spark-scan
    fallback must produce the same manifest stats shape and pruning."""
    from sql_based_etl_spark.tables import files

    monkeypatch.setattr(
        files, "footer_stats",
        lambda *a, **k: (_ for _ in ()).throw(OSError("no local footers")),
    )
    df = spark.range(100).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )
    table.write(df, num_partitions=4, cluster_by=["id"])
    m = table.manifest(0)
    assert set(m["stats"]) == set(m["files"])
    assert sum(s["rows"] for s in m["stats"].values()) == 100
    assert len(table.prune_files([("id", "=", 5)])) == 1
    assert table.read(filters=[("id", "=", 5)]).count() == 1


def test_incremental_aggregate_equals_full_recompute(spark, tmp_path):
    """The CDF-driven refresh must equal a from-scratch recompute
    EXACTLY after appends and after a merge update, be idempotent on an
    unchanged source, and record the processed source version."""
    from sql_based_etl_spark.tables.incremental import IncrementalAggregate

    src = VersionedTable(spark, str(tmp_path / "facts"))
    tgt_uri = str(tmp_path / "rollup")

    def facts(lo, hi, seg):
        return spark.range(lo, hi).select(
            F.col("id"),
            F.lit(seg).alias("segment"),
            (F.col("id") % 10 * 1.5).alias("amount"),
        )

    src.write(facts(0, 300, "A").unionByName(facts(300, 500, "B")),
              num_partitions=4)
    inc = IncrementalAggregate(spark, src.path, tgt_uri,
                               group_cols=["segment"], sum_cols=["amount"])
    inc.refresh()

    def full():
        return {
            (r.segment): (r.s, r.n)
            for r in src.read().groupBy("segment").agg(
                F.sum(F.round(F.col("amount") * 1e6).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            ).collect()
        }

    def materialized():
        return {
            (r.segment): (r.sum_amount_micros, r.n)
            for r in VersionedTable(spark, tgt_uri).read().collect()
        }

    assert materialized() == full()

    # idempotent no-op: same target version, no new aggregate commit
    v_before = VersionedTable(spark, tgt_uri).latest_version()
    assert inc.refresh() == v_before

    # append-only delta
    src.write(facts(500, 800, "C"), mode="append")
    inc.refresh()
    assert materialized() == full()

    # merge update: move half of segment B's rows to amount 0
    upd = spark.range(300, 400).select(
        F.col("id"), F.lit("B").alias("segment"), F.lit(0.0).alias("amount")
    )
    src.merge(upd, "source.id = target.id",
              when_matched_update={"values": {"amount": "source.amount"}})
    inc.refresh()
    assert materialized() == full()
    assert (VersionedTable(spark, tgt_uri)
            .manifest(VersionedTable(spark, tgt_uri).latest_version())
            ["source_version"] == src.latest_version())


def test_incremental_agg_stage(spark, tmp_path):
    """IncrementalAggLoad conf plumbing through the declarative runner."""
    from sql_based_etl_spark.engine.pipeline import Pipeline

    src = VersionedTable(spark, str(tmp_path / "f2"))
    src.write(spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("g"), F.lit(2.5).alias("x")))
    stages = [{
        "type": "IncrementalAggLoad", "inputURI": src.path,
        "outputURI": str(tmp_path / "r2"),
        "groupBy": ["g"], "sumColumns": ["x"], "numPartitions": "1",
    }]
    Pipeline(spark).run(stages)
    rows = {r.g: (r.sum_x_micros, r.n)
            for r in VersionedTable(spark, str(tmp_path / "r2")).read().collect()}
    assert rows[0][1] + rows[1][1] + rows[2][1] == 100
    assert sum(v[0] for v in rows.values()) == 100 * 2_500_000


def test_zorder_clustering_skips_on_every_column(spark, tmp_path):
    """Z-order clustering must make data skipping selective on BOTH
    clustered columns; lexicographic range clustering only narrows the
    leading one. Same data, same file count, same filters."""
    df = spark.range(20_000).select(
        F.col("id").alias("rowid"),
        (F.col("id") % 100).alias("a"),
        F.floor(F.col("id") / 200).alias("b"),
    )
    lex = VersionedTable(spark, str(tmp_path / "lex"))
    lex.write(df, num_partitions=16, cluster_by=["a", "b"])
    zo = VersionedTable(spark, str(tmp_path / "zo"))
    zo.write(df, num_partitions=16, cluster_by=["a", "b"], cluster_method="zorder")

    n_files = len(zo.files(zo.latest_version()))
    assert n_files == len(lex.files(lex.latest_version())) == 16

    # leading column: both layouts prune
    assert len(lex.prune_files([("a", "=", 7)])) < n_files
    assert len(zo.prune_files([("a", "=", 7)])) < n_files
    # second column: only z-order prunes meaningfully
    lex_b = len(lex.prune_files([("b", "=", 3)]))
    zo_b = len(zo.prune_files([("b", "=", 3)]))
    assert lex_b == n_files  # lexicographic: b spans every file
    assert zo_b < n_files
    # correctness: the pruned read returns exactly the matching rows
    got = zo.read(filters=[("b", "=", 3)]).filter(F.col("b") == 3).count()
    assert got == df.filter(F.col("b") == 3).count()


def test_restore_is_metadata_only_and_vacuum_safe(spark, table):
    """RESTORE re-commits an old snapshot's file list without copying
    data; the restored version survives a vacuum that drops the
    in-between overwrite."""
    table.write(spark.range(10).select(F.col("id")), num_partitions=1)
    v0_files = table.files(0)
    table.write(spark.range(100, 120).select(F.col("id")), num_partitions=1)
    assert table.read().count() == 20
    v2 = table.restore(version=0)
    assert v2 == 2
    assert table.files(2) == v0_files  # shared, not copied
    assert sorted(r.id for r in table.read().collect()) == list(range(10))
    table.vacuum(retain_versions=1, staging_grace_hours=0)  # drops v0/v1 manifests
    assert table.versions() == [2]
    assert sorted(r.id for r in table.read().collect()) == list(range(10))


def test_restore_via_maintenance_stage(spark, table):
    from sql_based_etl_spark.engine.pipeline import Pipeline

    table.write(spark.range(3).select(F.col("id")))
    table.write(spark.range(30, 40).select(F.col("id")))
    Pipeline(spark).run([{
        "type": "VersionedTableMaintenance", "inputURI": table.path,
        "restore": {"relativeVersion": "-1"},
    }])
    assert sorted(r.id for r in table.read().collect()) == [0, 1, 2]


def test_conflicting_commit_fails_loudly(spark, table):
    """Two writers racing to the same version number: exactly one wins
    the put-if-absent publish (no-overwrite FileContext.rename on
    rename-capable stores, conditional create on object stores); the
    loser RAISES instead of silently overwriting — no last-writer-wins
    anywhere, and the winner's content survives byte-for-byte."""
    from sql_based_etl_spark.tables.versioned import VersionedTable

    table.write(spark.range(3).toDF("id"))
    # two independent handles both believe the next version is 2
    writer_a = VersionedTable(spark, table.path)
    writer_b = VersionedTable(spark, table.path)
    a_manifest = '{"version": 2, "operation": "A", "files": [], "schema": {}}'
    b_manifest = '{"version": 2, "operation": "B", "files": [], "schema": {}}'
    writer_a._write_text_atomic("v00000002.json", a_manifest)
    with pytest.raises(VersionedTableError, match="concurrent commit"):
        writer_b._write_text_atomic("v00000002.json", b_manifest)
    # the surviving manifest is the winner's, intact
    assert table.manifest(2)["operation"] == "A"


def test_crashed_writer_never_bricks_the_version(spark, table):
    """Crash-recovery contract of the publish protocol: a writer
    dying before the rename leaves at worst an orphan dot-temp
    (invisible to listings, swept later) — no write-dead version, no
    reclaim rule whose expiry could let a paused writer silently
    replace a committed manifest. The version stays immediately
    committable by the next writer."""
    import os as _os

    table.write(spark.range(3).toDF("id"))
    # no protocol residue (claim/tmp dotfiles) after a successful commit
    # (.crc files are Hadoop LocalFileSystem checksum sidecars, not ours)
    meta = _os.path.join(table.path, "_meta")
    assert [f for f in _os.listdir(meta)
            if f.startswith(".") and not f.endswith(".crc")] == []
    # the next version is immediately committable (nothing to reclaim)
    stub = '{"version": 2, "operation": "W", "files": [], "schema": {}}'
    table._write_text_atomic("v00000002.json", stub)
    assert table.manifest(2)["operation"] == "W"
    # a mid-write crash (truncated manifest) is a LOUD commit conflict
    # for the next writer of that version, never a silent overwrite
    with open(_os.path.join(meta, "v00000003.json"), "w") as f:
        f.write('{"version": 3, "opera')
    with pytest.raises(VersionedTableError, match="concurrent commit"):
        table._write_text_atomic("v00000003.json", stub)


def test_publish_temps_invisible_and_stale_temps_swept(spark, table):
    """ADVICE r7 protocol: in-flight publish temps are dot-prefixed and
    never appear in version listings or break reads; a crashed writer's
    orphan temp older than the staleness bound is reclaimed by a later
    commit, while a FRESH temp (a live writer's) is never touched."""
    import os as _os

    from sql_based_etl_spark.tables.versioned import _STALE_TEMP_SECONDS

    table.write(spark.range(3).toDF("id"))
    meta = _os.path.join(table.path, "_meta")
    stale = _os.path.join(meta, ".v00000002.json.deadbeef.tmp")
    fresh = _os.path.join(meta, ".v00000002.json.cafebabe.tmp")
    for p in (stale, fresh):
        with open(p, "w") as f:
            f.write('{"version": 2, "partial')
    old = time.time() - _STALE_TEMP_SECONDS - 60
    _os.utime(stale, (old, old))
    # temps are invisible: listings and reads unaffected
    assert table.versions() == [0]
    assert table.read().count() == 3
    # a later commit sweeps ONLY the stale orphan
    table.write(spark.range(5).toDF("id"), mode="append")
    assert not _os.path.exists(stale)
    assert _os.path.exists(fresh)
    assert table.versions() == [0, 1]


def test_unparsable_manifest_names_file_and_remediation(spark, table):
    """An unparsable manifest (external corruption — the publish
    protocol cannot produce one) raises VersionedTableError naming the
    exact file and the manual remediation, not a bare JSONDecodeError."""
    import os as _os

    table.write(spark.range(3).toDF("id"))
    bad = _os.path.join(table.path, "_meta", "v00000002.json")
    with open(bad, "w") as f:
        f.write('{"version": 2, "opera')
    with pytest.raises(VersionedTableError, match="unparsable manifest") as ei:
        table.manifest(2)
    assert "v00000002.json" in str(ei.value)
    assert "delete" in str(ei.value)


def test_object_store_route_conditional_create(spark, table, monkeypatch):
    """The object-store publish route (conditional create of the final
    object, no rename) — exercised on the local FS by forcing the
    scheme into the object-store set. Publishes correctly, loser of a
    race raises, and no temp files are involved."""
    import os as _os

    from sql_based_etl_spark.tables import versioned as vmod

    table.write(spark.range(3).toDF("id"))
    monkeypatch.setattr(
        vmod, "_OBJECT_STORE_SCHEMES", vmod._OBJECT_STORE_SCHEMES | {"file"})
    stub = '{"version": 2, "operation": "OS", "files": [], "schema": {}}'
    table._write_text_atomic("v00000002.json", stub)
    assert table.manifest(2)["operation"] == "OS"
    with pytest.raises(VersionedTableError, match="concurrent commit"):
        table._write_text_atomic("v00000002.json", stub)
    meta = _os.path.join(table.path, "_meta")
    assert [f for f in _os.listdir(meta)
            if f.startswith(".") and f.endswith(".tmp")] == []


def test_timestamp_as_of_time_travel(spark, table):
    """timestampAsOf resolves to the newest commit at or before the
    instant (epoch float or ISO string); before-first-commit errors."""
    import time as _time

    table.write(spark.range(3).toDF("id"))
    t0 = _time.time()
    _time.sleep(0.05)
    table.write(spark.range(100, 110).toDF("id"))
    assert table.read(timestamp=t0).count() == 3
    assert table.read(timestamp=_time.time()).count() == 10
    import datetime as _dt

    iso = _dt.datetime.fromtimestamp(t0, _dt.timezone.utc).isoformat()
    assert table.read(timestamp=iso).count() == 3
    # stringified epoch (notebook variable substitution is string-typed)
    assert table.read(timestamp=str(t0)).count() == 3
    with pytest.raises(VersionedTableError, match="neither epoch"):
        table.read(timestamp="not-a-time")
    with pytest.raises(VersionedTableError, match="no version committed"):
        table.read(timestamp=t0 - 3600)
    # stage surface
    from sql_based_etl_spark.engine.pipeline import Pipeline

    ctx = Pipeline(spark).run([{
        "type": "DeltaLakeExtract", "inputURI": table.path,
        "outputView": "asof_v", "options": {"timestampAsOf": t0},
    }])
    assert ctx.views["asof_v"].count() == 3


def test_validated_load_rolls_back_on_audit_failure(spark, tmp_path):
    """ValidatedLoad (write-audit-publish): a passing audit publishes
    the version; a failing one restores the pre-write snapshot as
    latest (metadata-only) and re-raises, with the bad version kept in
    history for forensics (engine/stages/load.py:validated_load)."""
    import pytest

    from sql_based_etl_spark.engine.pipeline import Pipeline, StageError
    from sql_based_etl_spark.tables.versioned import VersionedTable

    uri = str(tmp_path / "wap_table")
    good = [
        {"type": "SQLTransform", "outputView": "good",
         "sql": "SELECT id AS k, id * 2 AS v FROM range(10)"},
        {"type": "ValidatedLoad", "inputView": "good", "outputURI": uri,
         "expectations": [{"column": "k", "notNull": True},
                          {"column": "k", "unique": True}]},
    ]
    Pipeline(spark).run(good)
    t = VersionedTable(spark, uri)
    v_good = t.latest_version()
    assert t.read().count() == 10

    bad = [
        {"type": "SQLTransform", "outputView": "bad",
         "sql": "SELECT 1 AS k, 0 AS v UNION ALL SELECT 1 AS k, 0 AS v"},
        {"type": "ValidatedLoad", "name": "audit", "inputView": "bad",
         "outputURI": uri,
         "expectations": [{"column": "k", "unique": True}]},
    ]
    with pytest.raises(StageError, match="rolled back"):
        Pipeline(spark).run(bad)
    # latest snapshot is the good data again…
    assert t.read().count() == 10
    assert {r.k for r in t.read().collect()} == set(range(10))
    # …and history keeps both the bad write and the restore commit
    assert t.latest_version() > v_good + 1
    # first-ever write failure: nothing to restore, error says so
    uri2 = str(tmp_path / "wap_first")
    with pytest.raises(StageError, match="no prior version"):
        Pipeline(spark).run([
            {"type": "SQLTransform", "outputView": "bad2",
             "sql": "SELECT NULL AS k"},
            {"type": "ValidatedLoad", "inputView": "bad2", "outputURI": uri2,
             "expectations": [{"column": "k", "notNull": True}]},
        ])


def test_validated_load_config_errors_cost_no_write(spark, tmp_path):
    """A pure expectations-config error (empty list, unrecognized
    entry, column typo) must surface BEFORE the write — not after
    committing a junk version (engine/stages/load.py:validated_load +
    validate.py:compile_expectations)."""
    import os

    import pytest

    from sql_based_etl_spark.engine.pipeline import Pipeline, StageError

    uri = str(tmp_path / "wap_cfg")
    for exps, match in [
        ([], "empty"),
        ([{"column": "k", "frobnicate": True}], "unrecognized"),
        ([{"column": "nope", "notNull": True}], "not in inputView"),
    ]:
        with pytest.raises(StageError, match=match):
            Pipeline(spark).run([
                {"type": "SQLTransform", "outputView": "cfg_src",
                 "sql": "SELECT 1 AS k"},
                {"type": "ValidatedLoad", "name": "cfg",
                 "inputView": "cfg_src", "outputURI": uri,
                 "expectations": exps},
            ])
        # the config error fired before any data/table write
        assert not os.path.exists(uri)
    # case-mismatched names resolve (Spark's analyzer is
    # case-insensitive by default; the pre-write guard must match it)
    uri_ci = str(tmp_path / "wap_ci")
    Pipeline(spark).run([
        {"type": "SQLTransform", "outputView": "cfg_ci",
         "sql": "SELECT 1 AS K"},
        {"type": "ValidatedLoad", "name": "ci", "inputView": "cfg_ci",
         "outputURI": uri_ci,
         "expectations": [{"column": "k", "notNull": True}]},
    ])
    assert os.path.exists(uri_ci)


def test_bloom_filter_columns_written_to_parquet(spark, tmp_path):
    """options.bloomFilterColumns emits parquet bloom filters on the
    named columns (reader-side row-group skipping for point lookups
    that min/max stats can't prune)."""
    import glob

    import pyarrow.parquet as pq

    from sql_based_etl_spark.engine.pipeline import Pipeline
    from sql_based_etl_spark.tables.versioned import VersionedTable

    uri = str(tmp_path / "bloomed")
    Pipeline(spark).run([
        {"type": "SQLTransform", "outputView": "src",
         "sql": "SELECT id AS k, md5(CAST(id AS STRING)) AS digest FROM range(1000)"},
        {"type": "DeltaLakeLoad", "inputView": "src", "outputURI": uri,
         "numPartitions": 1, "options": {"bloomFilterColumns": ["digest"]}},
    ])
    # pyarrow 16 doesn't expose bloom_filter_offset; assert presence by
    # the deterministic size delta vs the identical bloom-less write
    uri_plain = str(tmp_path / "plain")
    Pipeline(spark).run([
        {"type": "SQLTransform", "outputView": "src2",
         "sql": "SELECT id AS k, md5(CAST(id AS STRING)) AS digest FROM range(1000)"},
        {"type": "DeltaLakeLoad", "inputView": "src2", "outputURI": uri_plain,
         "numPartitions": 1},
    ])
    import os

    f_bloom = glob.glob(uri + "/data/v*/part-*.parquet")[0]
    f_plain = glob.glob(uri_plain + "/data/v*/part-*.parquet")[0]
    md_b, md_p = pq.read_metadata(f_bloom), pq.read_metadata(f_plain)
    assert md_b.num_rows == md_p.num_rows == 1000
    extra = os.path.getsize(f_bloom) - os.path.getsize(f_plain)
    assert extra > 512, f"bloom filter bytes missing (delta {extra})"
    # reads are unaffected
    t = VersionedTable(spark, uri)
    assert t.read().filter("k = 500").count() == 1


def test_append_commit_race_retries_and_both_land(spark, table, monkeypatch):
    """VersionedTable blind appends get the same optimistic-concurrency
    retry as the Delta bridge (round 10): the claim loser re-bases on
    the winner's snapshot (file list + stats) and commits at the next
    version — both appends' rows land, stats stay complete, and
    snapshot-replacing modes keep single-winner semantics."""
    import sql_based_etl_spark.tables.versioned as vmod

    table.write(spark.createDataFrame([(1,)], "id long"))
    winner_tbl = VersionedTable(spark, table.path)

    orig = vmod.publish_text_exclusive
    state = {"fired": False}

    def racing(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            winner_tbl.write(spark.createDataFrame([(2,)], "id long"),
                             mode="append")
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing)
    v = table.write(spark.createDataFrame([(3,)], "id long"), mode="append")
    assert v == 2, "loser must land past the winner (base=0, winner=1)"
    got = sorted(r.id for r in table.read().collect())
    assert got == [1, 2, 3]
    # stats cover every live file (pruning still works post-retry)
    m = table.manifest(2)
    assert set(m["stats"]) == set(m["files"])

    # a racing writer that changed a column's TYPE is a real conflict
    state["fired"] = False

    def racing_overwrite(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            winner_tbl.write(
                spark.createDataFrame([("s",)], "id string"),
                mode="overwrite")
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing_overwrite)
    with pytest.raises(VersionedTableError, match="changed column"):
        table.write(spark.createDataFrame([(4,)], "id long"), mode="append")


def test_stream_sink_race_same_batch_commits_once(spark, tmp_path,
                                                  monkeypatch):
    """Two instances of the exactly-once sink racing the SAME
    micro-batch id: the loser's retry detects the winner's
    stream_batch_id and reports already-committed — rows land once."""
    import sql_based_etl_spark.tables.versioned as vmod
    from sql_based_etl_spark.streaming.events import append_stream_batch

    path = str(tmp_path / "sink")
    assert append_stream_batch(spark.range(5).select("id"), 0, path)

    orig = vmod.publish_text_exclusive
    state = {"fired": False}

    def racing(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            append_stream_batch(spark.range(5, 10).select("id"), 1, path)
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing)
    assert append_stream_batch(
        spark.range(5, 10).select("id"), 1, path) is False
    t = VersionedTable(spark, path)
    assert t.read().count() == 10, "batch 1 exactly once"
    # and DIFFERENT batch ids racing both commit
    state["fired"] = False

    def racing2(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            append_stream_batch(spark.range(10, 12).select("id"), 2, path)
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing2)
    assert append_stream_batch(
        spark.range(12, 15).select("id"), 3, path) is True
    assert t.read().count() == 15


def test_vacuum_staging_grace_protects_fresh_unreferenced_files(
        spark, table):
    """VersionedTable.vacuum keeps unreferenced files younger than the
    staging grace — a concurrent appender stages data BEFORE its
    manifest claim, so 'unreferenced' is not 'dead' for fresh files
    (round-10 self-review fix); grace 0 reclaims them."""
    import os as _os

    table.write(spark.range(3).toDF("id"))
    table.write(spark.range(3, 6).toDF("id"), mode="overwrite")
    staged = _os.path.join(table.path, "data", "v00000099")
    _os.makedirs(staged)
    with open(_os.path.join(staged, "inflight.parquet"), "wb") as f:
        f.write(b"not-yet-committed")
    gone = table.vacuum(retain_versions=1)  # default 24h grace
    assert "data/v00000099/inflight.parquet" not in gone
    assert _os.path.exists(_os.path.join(staged, "inflight.parquet"))
    gone = table.vacuum(retain_versions=1, staging_grace_hours=0)
    assert "data/v00000099/inflight.parquet" in gone


def test_native_compact_racing_append_rebases_and_commits(
        spark, table, monkeypatch):
    """Round-11 (verdict stretch): native-format COMPACT racing a blind
    APPEND classifies the winner (data-adding, none of the compact's
    inputs touched) as COMMUTING, rebases onto the winner's snapshot
    and retries — the hourly-append + nightly-OPTIMIZE shape stops
    being a raw lost-race error. All rows land; the final manifest
    carries the compacted outputs AND the winner's file."""
    import sql_based_etl_spark.tables.versioned as vmod

    for i in range(3):
        table.write(spark.createDataFrame([(i,)], "id long"),
                    mode="append" if i else "overwrite")
    winner_tbl = VersionedTable(spark, table.path)

    orig = vmod.publish_text_exclusive
    state = {"fired": False}

    def racing(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            winner_tbl.write(spark.createDataFrame([(99,)], "id long"),
                             mode="append")
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing)
    v = table.compact(num_partitions=1)
    assert v == 4, "winner took 3; the compact rebased to 4"
    got = sorted(r.id for r in table.read().collect())
    assert got == [0, 1, 2, 99]
    m = table.manifest(v)
    assert m["operation"] == "COMPACT"
    # stats cover every live file post-rebase (pruning still works)
    assert set(m["stats"]) == set(m["files"])


def test_native_merge_racing_append_named_conflict(
        spark, table, monkeypatch):
    """Native MERGE reads the whole snapshot, so a racing data-adding
    writer raises the NAMED VersionedConcurrentAppendError (not a raw
    CommitRaceLostError), and the winner's state stands."""
    import sql_based_etl_spark.tables.versioned as vmod
    from sql_based_etl_spark.tables.versioned import (
        VersionedConcurrentAppendError,
    )

    table.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    winner_tbl = VersionedTable(spark, table.path)

    orig = vmod.publish_text_exclusive
    state = {"fired": False}

    def racing(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            winner_tbl.write(
                spark.createDataFrame([(2, "w")], "id long, v string"),
                mode="append")
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing)
    src = spark.createDataFrame([(1, "upd")], "id long, v string")
    with pytest.raises(VersionedConcurrentAppendError, match="MERGE"):
        table.merge(src, "target.id = source.id",
                    when_matched_update={"v": "source.v"},
                    insert_not_matched=False)
    got = sorted((r.id, r.v) for r in table.read().collect())
    assert got == [(1, "a"), (2, "w")], "winner's append must stand"


def test_native_compact_racing_rewrite_named_conflicts(
        spark, table, monkeypatch):
    """COMPACT racing a winner that REWROTE one of its input files
    (a merge) raises the named delete-family conflict; and a winner
    that evolved the schema raises VersionedSchemaChangedError —
    a rebase would downgrade the evolution."""
    import sql_based_etl_spark.tables.versioned as vmod
    from sql_based_etl_spark.tables.versioned import (
        VersionedConcurrentModificationError,
        VersionedSchemaChangedError,
    )

    for i in range(3):
        table.write(spark.createDataFrame([(i, "x")], "id long, v string"),
                    mode="append" if i else "overwrite")
    winner_tbl = VersionedTable(spark, table.path)

    orig = vmod.publish_text_exclusive
    state = {"fired": False}

    def racing_merge(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            winner_tbl.merge(
                spark.createDataFrame([(1, "upd")], "id long, v string"),
                "target.id = source.id",
                when_matched_update={"v": "source.v"},
                insert_not_matched=False)
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing_merge)
    with pytest.raises(VersionedConcurrentModificationError,
                       match="removed file"):
        table.compact(num_partitions=1)
    assert sorted(r.v for r in table.read().collect()) == [
        "upd", "x", "x"], "winner's merge must stand"

    # schema-evolving winner: named schema conflict
    state["fired"] = False

    def racing_evolve(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            winner_tbl.write(
                spark.createDataFrame([(9, "y", 5.0)],
                                      "id long, v string, score double"),
                mode="append", merge_schema=True)
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing_evolve)
    with pytest.raises(VersionedSchemaChangedError):
        table.compact(num_partitions=1)


def test_native_merge_predicate_scoped_commutes(spark, table, monkeypatch):
    """Native MERGE with target conjuncts in the ON condition: the
    conjuncts prune the matched-file scan via manifest stats (only the
    k='A' file is rewritten) and scope OCC — a racing append whose new
    file's stats provably miss the predicate COMMUTES (rebase+retry),
    while an append inside it raises the named error."""
    import sql_based_etl_spark.tables.versioned as vmod
    from sql_based_etl_spark.tables.versioned import (
        VersionedConcurrentAppendError,
    )

    table.write(spark.createDataFrame([(1, "a", "A")],
                                      "id long, v string, k string"))
    table.write(spark.createDataFrame([(2, "b", "B")],
                                      "id long, v string, k string"),
                mode="append")
    winner_tbl = VersionedTable(spark, table.path)

    orig = vmod.publish_text_exclusive
    state = {"fired": False}

    def racing(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            winner_tbl.write(
                spark.createDataFrame([(9, "w", "B")],
                                      "id long, v string, k string"),
                mode="append")
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing)
    src = spark.createDataFrame([(1, "upd", "A")],
                                "id long, v string, k string")
    v = table.merge(src, "target.k = 'A' AND target.id = source.id",
                    when_matched_update={"v": "source.v"},
                    insert_not_matched=False)
    assert v == 3, "winner took 2; the scoped merge rebased to 3"
    got = sorted((r.id, r.v, r.k) for r in table.read().collect())
    assert got == [(1, "upd", "A"), (2, "b", "B"), (9, "w", "B")]
    m = table.manifest(v)
    assert m["files_rewritten"] == 1, "stats pruning: only the A file"
    assert set(m["stats"]) == set(m["files"])

    # an append INSIDE the predicate is a real, named conflict
    state["fired"] = False

    def racing_inside(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            winner_tbl.write(
                spark.createDataFrame([(8, "x", "A")],
                                      "id long, v string, k string"),
                mode="append")
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing_inside)
    with pytest.raises(VersionedConcurrentAppendError,
                       match="read predicate"):
        table.merge(src, "target.k = 'A' AND target.id = source.id",
                    when_matched_update={"v": "source.v"},
                    insert_not_matched=False)


def test_merge_or_condition_stats_scoped_commutes(spark, table, monkeypatch):
    """Round-12: a native MERGE whose ON condition is a top-level OR —
    no extractable conjunct triples — still commutes with a racing
    append whose new file's stats provably miss the predicate, via the
    scope-tree reduction on manifest stats; an overlapping append stays
    a named conflict."""
    import sql_based_etl_spark.tables.versioned as vmod
    from sql_based_etl_spark.tables.versioned import (
        VersionedConcurrentAppendError,
        VersionedTable,
    )

    on = ("(target.k = 'A' AND target.id = source.id) "
          "OR (target.k = 'A' AND target.v = source.v)")
    table.write(spark.createDataFrame([(1, "a", "A"), (2, "b", "B")],
                                      "id long, v string, k string"))
    winner_tbl = VersionedTable(spark, table.path)

    orig = vmod.publish_text_exclusive
    state = {"fired": False}

    def racing(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            winner_tbl.write(
                spark.createDataFrame([(9, "w", "B")],
                                      "id long, v string, k string"),
                mode="append")
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing)
    src = spark.createDataFrame([(1, "zzz", "A")],
                                "id long, v string, k string")
    v = table.merge(src, on,
                    when_matched_update={"v": "source.v"},
                    insert_not_matched=False)
    assert v == 2, "winner took 1; the OR-scoped merge rebased to 2"
    got = sorted((r.id, r.v, r.k) for r in table.read().collect())
    assert got == [(1, "zzz", "A"), (2, "b", "B"), (9, "w", "B")]

    # an append whose stats OVERLAP the OR's k='A' pin: named conflict
    state["fired"] = False

    def racing_inside(spark_, dir_path, name, data, **kw):
        if not state["fired"] and name.startswith("v"):
            state["fired"] = True
            winner_tbl.write(
                spark.createDataFrame([(8, "x", "A")],
                                      "id long, v string, k string"),
                mode="append")
        return orig(spark_, dir_path, name, data, **kw)

    monkeypatch.setattr(vmod, "publish_text_exclusive", racing_inside)
    with pytest.raises(VersionedConcurrentAppendError,
                       match="read predicate"):
        table.merge(src, on,
                    when_matched_update={"v": "source.v"},
                    insert_not_matched=False)


@pytest.mark.parametrize("op", ["write", "append", "merge", "compact"])
def test_every_write_path_stores_zstd_files(spark, table, parquet_codecs, op):
    """Every data file a commit writes is zstd parquet whatever the
    session's default codec; rows round-trip, and each new file still
    gets manifest stats, so data skipping prunes it as before."""
    import os

    import pyarrow.parquet as pq

    def rows(lo, hi, tag):
        return spark.createDataFrame(
            [(i, f"{tag}{i:032x}") for i in range(lo, hi)], "id long, name string")

    table.write(rows(0, 40, "a"), num_partitions=2)
    expected = {i: f"a{i:032x}" for i in range(40)}
    if op == "append":
        table.write(rows(40, 60, "b"), mode="append")
        expected.update({i: f"b{i:032x}" for i in range(40, 60)})
    elif op == "merge":
        table.merge(rows(30, 50, "m"), "source.id = target.id",
                    when_matched_update={"name": "source.name"})
        expected.update({i: f"m{i:032x}" for i in range(30, 50)})
    elif op == "compact":
        table.compact(num_partitions=1)
    old = set() if op == "write" else set(table.files(0))
    new = [f for f in table.files() if f not in old]
    assert new and (op == "write" or table.latest_version() == 1)

    stats = table.manifest(table.latest_version())["stats"]
    for f in new:
        local = os.path.join(table.path, f)
        assert parquet_codecs(local) == {"ZSTD"}, f
        assert stats[f]["rows"] == pq.ParquetFile(local).metadata.num_rows > 0
        assert {"min", "max"} <= set(stats[f]["columns"]["id"])
    assert table.prune_files(filters=[("id", "=", 10_000)]) == []
    assert {r.id: r.name for r in table.read().collect()} == expected


def test_collated_key_reads_and_merges_case_insensitively(spark, table):
    """A UTF8_LCASE column matches 'A' against a stored 'a'. Its file
    stats carry no byte-order bounds, so neither a filtered read nor a
    MERGE whose ON condition pins the key prunes the file away: the
    read returns the row and the MERGE updates it instead of inserting
    a duplicate."""
    table.write(spark.sql(
        "SELECT 1 AS id, CAST('a' AS STRING COLLATE UTF8_LCASE) AS s, "
        "'x' AS v"))
    assert table.read(filters=[("s", "=", "A")]).count() == 1
    assert table.read().filter("s = 'A'").count() == 1
    src = spark.createDataFrame([(1, "y")], "id int, v string")
    table.merge(src, "target.s = 'A' AND target.id = source.id",
                when_matched_update={"v": "source.v"})
    assert [(r.id, r.s, r.v) for r in table.read().collect()] == [
        (1, "a", "y")]
