"""The benchmark in ``perfbench/`` is frozen: it must keep running against
the package as the package changes. This test needs no Spark session. It
parses every ``perfbench/*.py`` and checks that each package callable the
benchmark imports still exists and accepts every call the benchmark makes
to it (the positional count and each keyword), and that every ``cfg.<x>``
the benchmark reads is an ``ERConfig`` field. ``perfbench/test_smoke.py``
runs the benchmark itself but is not part of this suite."""

from __future__ import annotations

import ast
import dataclasses
import importlib
import inspect
import os

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
PACKAGE = "ent_res_feedback_spark"


def _sources():
    for name in sorted(os.listdir(PERFBENCH)):
        if name.endswith(".py"):
            with open(os.path.join(PERFBENCH, name)) as fh:
                yield name, ast.parse(fh.read(), name)


def _package_imports(tree) -> dict[str, tuple[str, object]]:
    """local name -> (qualified name, the package object it is bound to,
    or None when the package no longer has it)."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            module = importlib.import_module(node.module)
            for alias in node.names:
                out[alias.asname or alias.name] = (
                    f"{node.module}.{alias.name}",
                    getattr(module, alias.name, None),
                )
    return out


def test_perfbench_imports_exist():
    gone = [
        qualified
        for _, tree in _sources()
        for qualified, obj in _package_imports(tree).values()
        if obj is None
    ]
    assert gone == []


def _calls():
    for fname, tree in _sources():
        bound = _package_imports(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and bound.get(node.func.id, (None, None))[1] is not None
            ):
                yield fname, node, bound[node.func.id][1]


CALLS = list(_calls())


def test_perfbench_calls_the_package():
    names = {node.func.id for _, node, _ in CALLS}
    # the benchmark's ER chain: if none of these are found the parse broke
    assert {"run_pipeline", "run_feedback_loop", "connected_components"} <= names


@pytest.mark.parametrize(
    "fname,node,target",
    CALLS,
    ids=[f"{f}:{n.lineno}:{n.func.id}" for f, n, _ in CALLS],
)
def test_perfbench_call_binds(fname, node, target):
    n_pos = sum(1 for a in node.args if not isinstance(a, ast.Starred))
    kws = {k.arg: None for k in node.keywords if k.arg is not None}
    sig = inspect.signature(target)
    try:
        sig.bind_partial(*[None] * n_pos, **kws)
    except TypeError as exc:
        pytest.fail(f"{fname}:{node.lineno} {node.func.id}{sig}: {exc}")


def test_perfbench_config_fields_exist():
    from ent_res_feedback_spark.pipeline import ERConfig

    fields = {f.name for f in dataclasses.fields(ERConfig)}
    read = {
        (fname, node.attr)
        for fname, tree in _sources()
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "cfg"
    }
    assert read, "perfbench reads no cfg field: the parse broke"
    assert {(f, a) for f, a in read if a not in fields} == set()
