"""The query registry of ``driver_queries.py``: every query is
registered once, with its oracle, and no module-level name is bound
twice (a second binding silently shadows the first query or oracle)."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from cesium_spark import driver_queries as dq


def test_every_query_has_one_oracle():
    assert dq.QUERIES.keys() == dq.ORACLE_SQL.keys()


def test_second_registration_raises():
    before = dict(dq._REGISTRY)
    with pytest.raises(ValueError, match="registered twice"):
        dq.oracle(dq.q_ts_derive_series, "SELECT 1")
    with pytest.raises(ValueError, match="q_"):
        dq.oracle(dq._events, "SELECT 1")
    assert dq._REGISTRY == before


def test_no_module_level_name_bound_twice():
    tree = ast.parse(Path(dq.__file__).read_text(encoding="utf-8"))
    seen: dict[str, int] = {}
    twice = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            names = [n.id for t in targets for n in ast.walk(t)
                     if isinstance(n, ast.Name)]
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names = [(a.asname or a.name).split(".")[0]
                     for a in node.names]
        else:
            continue
        for name in names:
            if name in seen:
                twice.append(f"{name}: lines {seen[name]}, {node.lineno}")
            seen[name] = node.lineno
    assert twice == []
