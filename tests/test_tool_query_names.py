"""The benchmark and plan-audit tools name queries by registry key.
``bench.py`` skips a HEADLINE name that is not registered, so a
deleted query would silently drop out of ``headline_queries_total_time``
instead of failing. Every named query must exist (no Spark session)."""

from __future__ import annotations

import importlib.util
import os

import bench
from sql_based_etl_spark.queries import all_queries

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


def _plan_audit():
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(_TOOLS, "plan_audit.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tool_query_names_are_registered():
    registry = all_queries()
    assert [n for n in bench.HEADLINE if n not in registry] == []
    assert [n for n in _plan_audit().AUDIT if n not in registry] == []
