"""No package function goes unreferenced.

A module-level, undecorated, non-dunder function in the package whose
name appears nowhere else in the repo's Python sources (package, tests,
tools, perfbench, bench.py, __spark_entry__.py) has no caller: delete
it rather than carry it.  Decorated functions are skipped because the
decorator (``@register``, ``@udf``, ...) is their reference."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "hadoop_20_warehouse_spark"
SEARCHED = [PACKAGE, REPO / "tests", REPO / "tools", REPO / "perfbench",
            REPO / "bench.py", REPO / "__spark_entry__.py"]


def _py_files(root: Path):
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def unreferenced_functions() -> list[str]:
    words: Counter = Counter()
    for root in SEARCHED:
        for path in _py_files(root):
            words.update(re.findall(r"\w+", path.read_text()))
    dead = []
    for path in _py_files(PACKAGE):
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.decorator_list
                and not (node.name.startswith("__") and node.name.endswith("__"))
                and words[node.name] == 1  # the def itself
            ):
                dead.append(f"{path.relative_to(REPO)}:{node.lineno} {node.name}")
    return dead


def test_every_package_function_is_referenced():
    assert unreferenced_functions() == []
