"""Dead-code guard: every top-level public function and class in the
engine package is referenced from at least one other Python file.

A name that appears only in the file defining it has no caller — not
the engine, the query entry point, the bench, the tools, the tests or
the benchmark harness — so it is an unselected alternative that has to
be either wired in or deleted. Pure AST + text scan; no Spark session.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "drought_t_spark"
SEARCH = [PACKAGE, ROOT / "__spark_entry__.py", ROOT / "bench.py",
          ROOT / "tools", ROOT / "tests", ROOT / "perfbench"]


def _py_files() -> list[Path]:
    out = []
    for p in SEARCH:
        out.extend([p] if p.is_file() else sorted(p.rglob("*.py")))
    return [p for p in out if p.resolve() != Path(__file__).resolve()]


def _public_defs(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.name for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
    ]


def test_every_public_engine_def_has_an_outside_reference():
    files = _py_files()
    text = {p: p.read_text() for p in files}
    unreferenced = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for name in _public_defs(path):
            word = re.compile(rf"\b{re.escape(name)}\b")
            if not any(word.search(src) for p, src in text.items() if p != path):
                unreferenced.append(f"{path.relative_to(ROOT)}:{name}")
    assert not unreferenced, f"defined but referenced nowhere else: {unreferenced}"
