"""Conf scoping: a query that needs confs of its own builds its plan on
``session.child_session``, never by setting them on the session it was
handed."""

from __future__ import annotations

import ast
import os
from collections import Counter

import pytest

from data_eng_iceberg_demo_spark.plans.registry import (REGISTRY,
                                                        _load_all_modules)
from data_eng_iceberg_demo_spark.session import ensure_session_defaults

_load_all_modules()

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "data_eng_iceberg_demo_spark")

# a caller tuned away from every default the scoped queries override
_CALLER_CONFS = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.sources.bucketing.enabled": "false",
}


@pytest.mark.parametrize("name", ["join_bucketed_colocated",
                                  "join_bloom_prefilter",
                                  "llm_dedup_clusters"])
def test_scoped_query_leaves_a_tuned_caller_untouched(spark, sf_dir, name):
    """The query runs on a caller whose runtime confs are not the
    defaults: every caller conf reads the same afterwards, and the
    output equals the same query's on the test session."""
    caller = spark.newSession()
    for k, v in _CALLER_CONFS.items():
        caller.conf.set(k, v)
    ensure_session_defaults(caller)
    before = caller.conf.getAll
    got = Counter(map(tuple, REGISTRY[name].fn(caller, sf_dir).collect()))
    assert caller.conf.getAll == before
    want = Counter(map(tuple, REGISTRY[name].fn(spark, sf_dir).collect()))
    assert got == want and got


def _package_trees():
    for root, _dirs, files in os.walk(_PKG):
        for f in sorted(files):
            path = os.path.join(root, f)
            if f.endswith(".py") and path != os.path.join(_PKG, "session.py"):
                yield os.path.relpath(path, _PKG), ast.parse(open(path).read())


def test_only_session_py_scopes_a_conf():
    """No package code outside session.py calls ``.newSession()``, and
    no function calls ``.conf.set`` on its ``spark`` parameter: every
    child session and every query-scoped conf goes through
    session.child_session."""
    bad, n_files = [], 0
    for rel, tree in _package_trees():
        n_files += 1
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and getattr(node.func, "attr", None) == "newSession"):
                bad.append((rel, node.lineno, "newSession"))
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            if "spark" not in {p.arg for p in
                               a.posonlyargs + a.args + a.kwonlyargs}:
                continue
            for call in ast.walk(node):
                f = getattr(call, "func", None)
                if (isinstance(call, ast.Call) and isinstance(f, ast.Attribute)
                        and f.attr == "set"
                        and isinstance(f.value, ast.Attribute)
                        and f.value.attr == "conf"
                        and getattr(f.value.value, "id", None) == "spark"):
                    bad.append((rel, call.lineno, "spark.conf.set"))
    assert n_files > 20
    assert bad == []
