"""No package function goes unreferenced.

A module-level, undecorated, non-dunder function in the package that
no code in the repo's Python sources (package, tests, tools,
perfbench, bench.py, __spark_entry__.py) refers to has no caller:
delete it rather than carry it.  A reference is a name or attribute
load, an import, or a string constant that is exactly the name (a
``getattr`` or registry lookup); a word in a docstring, comment or
error message is not.  Decorated functions are skipped because the
decorator (``@register``, ``@udf``, ...) is their reference."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "hadoop_20_warehouse_spark"
SEARCHED = [PACKAGE, REPO / "tests", REPO / "tools", REPO / "perfbench",
            REPO / "bench.py", REPO / "__spark_entry__.py"]


def _py_files(root: Path):
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _references(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.isidentifier()
        ):
            yield node.value


def unreferenced_functions() -> list[str]:
    refs: Counter = Counter()
    for root in SEARCHED:
        for path in _py_files(root):
            refs.update(_references(ast.parse(path.read_text())))
    dead = []
    for path in _py_files(PACKAGE):
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.decorator_list
                and not (node.name.startswith("__") and node.name.endswith("__"))
                and not refs[node.name]
            ):
                dead.append(f"{path.relative_to(REPO)}:{node.lineno} {node.name}")
    return dead


def test_every_package_function_is_referenced():
    assert unreferenced_functions() == []
