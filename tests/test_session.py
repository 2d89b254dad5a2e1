"""Session-level settings of ``get_spark`` that change how plans run."""

from __future__ import annotations


def _compiles(spark) -> int:
    """Classes compiled by Spark's code generator in this JVM so far
    (cache hits are not counted)."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def test_warm_plan_survives_many_other_plans(spark):
    """A plan run once keeps its compiled classes while a few hundred
    other plans compile: rerunning it compiles nothing. With Spark's
    default 100-entry codegen cache the fillers evict it and the rerun
    compiles again."""
    q = ("SELECT sum(x) FROM (SELECT id * 3 + 1 AS x FROM range(50)) "
         "WHERE x % 2 = 1")
    spark.sql(q).collect()
    before = _compiles(spark)
    # 200 distinct whole-stage subtrees in one plan; explain("codegen")
    # compiles each on the driver without running a job
    filler = spark.sql(" UNION ALL ".join(
        f"SELECT id * 7919 + {i} AS x FROM range(1)" for i in range(200)))
    spark._jvm.PythonSQLUtils.explainString(
        filler._jdf.queryExecution(), "codegen")
    filled = _compiles(spark)
    assert filled - before >= 200
    spark.sql(q).collect()
    assert _compiles(spark) == filled
