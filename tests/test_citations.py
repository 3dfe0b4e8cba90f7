"""The guard that keeps the package's test citations true: every
``tests/<file>.py`` named in kiji_scoring_spark/ exists, and every
``tests/<file>.py::<name>`` names a test defined in that file, so a
comment or docstring never points a reader at a deleted or renamed
test."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "kiji_scoring_spark"
CITATION = re.compile(r"tests/(\w+\.py)(?:::(\w+))?")


def _citations():
    for path in sorted(PACKAGE.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            for m in CITATION.finditer(line):
                yield f"{path.relative_to(ROOT)}:{n}", m.group(1), m.group(2)


def _defined_tests(test_file: pathlib.Path) -> set[str]:
    return {
        node.name
        for node in ast.walk(ast.parse(test_file.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test_")
    }


def test_cited_tests_exist():
    cited = list(_citations())
    assert any(name for _, _, name in cited), "no test::name citation found"
    broken = []
    for where, file, name in cited:
        test_file = ROOT / "tests" / file
        if not test_file.is_file():
            broken.append(f"{where}: tests/{file} does not exist")
        elif name is not None and name not in _defined_tests(test_file):
            broken.append(f"{where}: tests/{file}::{name} is not defined")
    assert broken == []
