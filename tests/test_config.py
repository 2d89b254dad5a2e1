"""Unit tests for the config layer (P1-P3) — no Spark needed."""

from __future__ import annotations

import pytest

from sql_based_etl_spark.engine.config import (
    ConfigError,
    parse_magic_line,
    parse_stage_config,
    resolve_vars,
    substitute_sql_params,
)

V = {"LOC": "/data", "TS": "TIMESTAMP '2024-01-01 00:00:00'"}


def test_hocon_splice_reference_syntax():
    # the reference's exact splice shape (scd2-job.ipynb:42)
    cfg = parse_stage_config('{"inputURI": "s3a://"${LOC}"/initial_contacts.csv"}', V)
    assert cfg["inputURI"] == "s3a:///data/initial_contacts.csv"


def test_var_inside_quoted_string():
    cfg = parse_stage_config('{"outputURI": "${LOC}/table", "ts": "${TS}"}', V)
    assert cfg["outputURI"] == "/data/table"
    assert cfg["ts"] == "TIMESTAMP '2024-01-01 00:00:00'"


def test_standalone_unquoted_var():
    assert parse_stage_config('{"a": ${LOC}}', V)["a"] == "/data"


def test_unresolved_var_raises():
    with pytest.raises(ConfigError):
        resolve_vars("${NOPE_NOT_SET_ANYWHERE}", {})


def test_env_fallback(monkeypatch):
    monkeypatch.setenv("ETL_CONF_X", "42")
    assert resolve_vars("v=${ETL_CONF_X}", {}) == "v=42"


def test_sql_params():
    sql = substitute_sql_params("SELECT * FROM ${table_name} WHERE x=${v}",
                                {"table_name": "t", "v": "1"})
    assert sql == "SELECT * FROM t WHERE x=1"
    # unknown params left alone (resolved later against pipeline vars)
    assert substitute_sql_params("${later}", {"x": "1"}) == "${later}"


def test_magic_line():
    magic, opts, args = parse_magic_line(
        '%sql outputView=v name="calc fields" environments=dev,test sqlParams=a=1,b=2')
    assert magic == "sql"
    assert opts == {"outputView": "v", "name": "calc fields",
                    "environments": "dev,test", "sqlParams": "a=1,b=2"}
    magic, opts, args = parse_magic_line("%printschema myview")
    assert magic == "printschema" and args == ["myview"]


def test_json_quotes_not_mispaired():
    # regression: `": "` must not be treated as a string followed by a splice
    cfg = parse_stage_config(
        '{"outputURI": "${LOC}", "values": {"valid_to": "${TS}", "flag": "false"}}', V)
    assert cfg["values"]["valid_to"] == "TIMESTAMP '2024-01-01 00:00:00'"


def test_hocon_comments_and_optional_commas():
    # the reference notebook's actual cell shape: // comments, members
    # separated by bare newlines, non-string JSON values
    # (scd2-job.ipynb:337-354 — `//merge key is null`, `"iscurrent": false`)
    cell = """
    {
      "type": "DeltaLakeMergeLoad"   //merge key is null
      "name": "merge load"
      # hash-style comment too
      "numPartitions": 4
      "whenMatchedUpdate": {
        "values": {
          "iscurrent": false,
          "valid_to": "${TS}",
        }
      }
    }
    """
    cfg = parse_stage_config(cell, V)
    assert cfg["type"] == "DeltaLakeMergeLoad"
    assert cfg["numPartitions"] == 4
    assert cfg["whenMatchedUpdate"]["values"]["iscurrent"] is False
    assert cfg["whenMatchedUpdate"]["values"]["valid_to"].startswith("TIMESTAMP")


def test_comment_markers_inside_strings_preserved():
    cfg = parse_stage_config('{"u": "s3a://bucket/x", "frag": "a#b"}', V)
    assert cfg["u"] == "s3a://bucket/x"
    assert cfg["frag"] == "a#b"


def test_trailing_comma_tolerated():
    assert parse_stage_config('{"a": [1, 2, 3,], "b": 1,}', V) == {"a": [1, 2, 3], "b": 1}


def test_stage_persist_attribute(spark):
    """Arc's ``persist`` stage attribute caches the output view."""
    from sql_based_etl_spark.engine.pipeline import Pipeline

    ctx = Pipeline(spark).run([
        {"type": "SQLTransform", "outputView": "persisted_v",
         "persist": "true", "sql": "SELECT 1 AS one"},
        {"type": "SQLTransform", "outputView": "unpersisted_v",
         "sql": "SELECT 2 AS two"},
    ])
    assert ctx.views["persisted_v"].storageLevel.useMemory
    assert not ctx.views["unpersisted_v"].storageLevel.useMemory
    # the context tracks its persisted views; close() releases them so a
    # long-lived session running many pipelines doesn't leak cache
    ctx.close()
    assert not ctx.views["persisted_v"].storageLevel.useMemory
    ctx.close()  # idempotent


def test_boolean_equality_compat(spark):
    """Arc/Spark-3 BooleanEquality shim: int-vs-boolean comparisons in
    reference SQL work; genuine boolean comparisons are untouched (the
    rewrite only runs as an error-driven retry)."""
    from sql_based_etl_spark.engine.pipeline import Pipeline
    from sql_based_etl_spark.engine.sql_compat import (
        coerce_boolean_equality,
        coerce_condition_for_types,
    )

    assert coerce_boolean_equality("a = true AND b <> FALSE") == "a = 1 AND b <> 0"
    assert coerce_condition_for_types(
        "target.iscurrent = true AND target.flag = true",
        {"target": {"iscurrent": "int", "flag": "boolean"}},
    ) == "target.iscurrent = 1 AND target.flag = true"

    ctx = Pipeline(spark).run([
        {"type": "SQLTransform", "outputView": "bc_src",
         "sql": "SELECT 1 AS iscurrent, true AS ok"},
        # reference idiom: int column compared to a boolean literal
        {"type": "SQLTransform", "outputView": "bc_out",
         "sql": "SELECT * FROM bc_src WHERE iscurrent = true"},
        # genuine boolean comparison must keep working untouched
        {"type": "SQLTransform", "outputView": "bc_bool",
         "sql": "SELECT * FROM bc_src WHERE ok = true"},
    ])
    assert ctx.views["bc_out"].count() == 1
    assert ctx.views["bc_bool"].count() == 1


def test_explain_magic_prints_formatted_plan(spark, capsys):
    """%explain <view> [mode] runs through the notebook cell converter
    and prints the physical plan of the named view."""
    from sql_based_etl_spark.engine.notebook import cells_to_stages, register_magic_stages
    from sql_based_etl_spark.engine.pipeline import Pipeline

    register_magic_stages()
    spark.range(5).createOrReplaceTempView("explain_me")
    stages = cells_to_stages([
        {"cell_type": "code", "source": ["%explain explain_me"]},
    ])
    assert stages == [{"type": "ExplainStage", "view": "explain_me"}]
    Pipeline(spark).run(stages)
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Range" in out


def test_stage_observe_metrics(spark, tmp_path):
    """``observe: true`` stages report row metrics collected inside the
    first downstream action (zero extra jobs); stages whose plan never
    ran are absent rather than blocking
    (engine/pipeline.py:PipelineContext.observed_metrics)."""
    from pyspark.sql import functions as F

    from sql_based_etl_spark.engine.pipeline import Pipeline

    pipe = Pipeline(spark)
    ctx = pipe.run([
        {"type": "ParquetExtract", "inputURI": "/root/testdata/sf0.001/documents.parquet",
         "outputView": "docs"},
        {"type": "SQLTransform", "name": "filtered", "observe": True,
         "sql": "SELECT * FROM docs WHERE doc_id % 2 = 0", "outputView": "evens"},
        {"type": "SQLTransform", "name": "orphan", "observe": True,
         "sql": "SELECT * FROM docs WHERE doc_id % 2 = 1", "outputView": "odds"},
        {"type": "FileLoad", "inputView": "evens",
         "outputURI": str(tmp_path / "evens"), "format": "parquet"},
    ])
    metrics = ctx.observed_metrics()
    n = ctx.views["evens"].count()
    assert metrics.get("filtered", {}).get("rows") == n
    assert "orphan" not in metrics  # never executed; must not block


def test_observed_metrics_survives_missing_private_surface(spark):
    """The completion probe rides on private PySpark internals
    (``Observation._jo``/``future()``) that a Spark upgrade or Connect
    session may not expose — probe failures must degrade to "metric
    absent", never raise (engine/pipeline.py:observed_metrics)."""
    from sql_based_etl_spark.engine.pipeline import Pipeline

    class NoPrivates:  # stands in for a future Observation shape
        @property
        def _jo(self):
            raise AttributeError("gone in this Spark version")

    pipe = Pipeline(spark)
    pipe.ctx.observations["broken"] = NoPrivates()
    out = pipe.ctx.observed_metrics(wait_secs=0.2)
    assert "broken" not in out  # absent, and no exception escaped


# --- property-based robustness for the hand-rolled config layer -----------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:
    _names = st.text(
        alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ_", min_size=1, max_size=12
    )
    _values = st.text(
        alphabet=st.characters(blacklist_characters='"$\\{}',
                               blacklist_categories=("Cs",)),
        max_size=20,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.dictionaries(_names, _values, min_size=1, max_size=5))
    def test_resolve_vars_substitutes_every_known_var(variables):
        from sql_based_etl_spark.engine.config import resolve_vars

        text = " | ".join(f"${{{k}}}" for k in variables)
        out = resolve_vars(text, variables)
        assert out == " | ".join(str(v) for v in variables.values())
        assert "${" not in out

    @settings(max_examples=200, deadline=None)
    @given(_names, _values)
    def test_resolve_vars_strict_raises_on_unknown(name, value):
        import pytest as _pytest

        from sql_based_etl_spark.engine.config import ConfigError, resolve_vars

        import os as _os
        if name in _os.environ:
            return  # env fallback is the documented behavior
        with _pytest.raises(ConfigError):
            resolve_vars(f"x ${{{name}}} y", {})
        # non-strict leaves the reference intact for later passes
        assert resolve_vars(f"${{{name}}}", {}, strict=False) == f"${{{name}}}"

    @settings(max_examples=200, deadline=None)
    @given(
        st.dictionaries(
            st.text(alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8),
            st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789_", max_size=12),
            min_size=0, max_size=4,
        ),
        st.lists(
            st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789_.",
                    min_size=1, max_size=10),
            max_size=3,
        ),
    )
    def test_parse_magic_line_roundtrip(opts, args):
        from sql_based_etl_spark.engine.config import parse_magic_line

        # bare args must not contain '=', by the parser's contract
        args = [a for a in args if "=" not in a]
        line = "%sql " + " ".join(
            [f"{k}={v}" for k, v in opts.items()] + args
        )
        magic, got_opts, got_args = parse_magic_line(line)
        assert magic == "sql"
        assert got_opts == opts
        assert got_args == args

    # JSON string literals may not contain raw control characters, so
    # the splice-folding property quantifies over printable text only
    _json_text = st.text(
        alphabet=st.characters(blacklist_characters='"$\\{}',
                               blacklist_categories=("Cs", "Cc")),
        max_size=20,
    )

    @settings(max_examples=100, deadline=None)
    @given(_json_text, _json_text)
    def test_hocon_splice_folding_any_value(prefix, suffix):
        from sql_based_etl_spark.engine.config import parse_stage_config

        cfg = ('{ "type": "X", "uri": "' + prefix + '"${V}"' + suffix + '" }')
        out = parse_stage_config(cfg, {"V": "mid"})
        assert out["uri"] == f"{prefix}mid{suffix}"


def test_predicate_coercion_qualified_and_ordered_ops():
    """coerce_predicate_for_types (DELETE WHERE surface) matches the
    merge-condition coercion for ALIAS-QUALIFIED refs ('t.iscurrent =
    true' in a single-table predicate names the one table) and for the
    ordered comparisons <= / >= — the round-10 ADVICE inconsistency.
    Boolean columns, unknown names, multi-dotted refs, and literals
    inside strings stay untouched."""
    from sql_based_etl_spark.engine.sql_compat import (
        coerce_predicate_for_types,
    )

    dt = {"iscurrent": "int", "flag": "boolean", "n": "bigint"}
    assert coerce_predicate_for_types(
        "t.iscurrent = true", dt) == "t.iscurrent = 1"
    assert coerce_predicate_for_types(
        "iscurrent <= TRUE AND false >= n", dt) == "iscurrent <= 1 AND 0 >= n"
    assert coerce_predicate_for_types(
        "t.flag = true", dt) == "t.flag = true"          # boolean keeps
    assert coerce_predicate_for_types(
        "unknown = true", dt) == "unknown = true"        # unknown keeps
    assert coerce_predicate_for_types(
        "a.b.iscurrent = true", dt) == "a.b.iscurrent = true"  # 2-dot
    assert coerce_predicate_for_types(
        "note = 'iscurrent = true'", dt) == "note = 'iscurrent = true'"


def test_predicate_coercion_struct_field_access_untouched():
    """Self-review r11: a qualifier that names a KNOWN COLUMN is
    struct-field access, not a table alias — `a.b = true` where `a` is
    a struct must not be coerced by the dtype of an unrelated
    top-level `b` (coercion), and `s.flag = 5` must not yield a
    scope-tree atom attributed to top-level `flag` (pruning — that
    would prune files containing rows the DELETE should remove)."""
    from sql_based_etl_spark.engine.sql_compat import (
        coerce_predicate_for_types,
        condition_scope_tree,
    )

    dt = {"a": "struct<b:boolean>", "b": "int", "flag": "int",
          "s": "struct<flag:int>"}
    # struct access stays untouched; true alias still rewrites
    assert coerce_predicate_for_types("a.b = true", dt) == "a.b = true"
    assert coerce_predicate_for_types("t.b = true", dt) == "t.b = 1"
    # single-table scope tree: qualified refs never yield an atom
    assert condition_scope_tree("s.flag = 5", list(dt), None) is None
    assert condition_scope_tree(
        "flag = 5 AND s.flag = 7", list(dt), None) == (
            "atom", ("flag", "=", 5))
