"""Dead-code guard: every top-level public function and class in the
engine package is referenced from at least one other Python file, every
public module-level constant is read somewhere, in its own module or
elsewhere, and every defaulted parameter of a public engine function or
method is set by some call.

A name that appears only in the file defining it has no caller — not
the engine, the query entry point, the bench, the tools, the tests or
the benchmark harness — so it is an unselected alternative that has to
be either wired in or deleted. Only code references count: names,
attribute accesses, imported names, and identifier-valued string
constants (the benchmark harness wraps functions by name); a name counts
only where it is read, not where it is bound. A mention in a comment or
docstring is not a caller. A defaulted parameter that no call sets to
another value than its default has one value in use: it is a constant,
and the branches it selects are dead. Pure AST scan; no Spark session.
"""

import ast
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


def _public_constants(path: Path) -> list[str]:
    out = []
    for node in ast.parse(path.read_text(), filename=str(path)).body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        out += [t.id for t in targets if isinstance(t, ast.Name) and not t.id.startswith("_")]
    return out


def _references(path: Path) -> set[str]:
    refs: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.update(node.name.split("."))
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier()):
            refs.add(node.value)
    return refs


def test_every_public_engine_def_has_an_outside_reference():
    refs = {p: _references(p) for p in _py_files()}
    unreferenced = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for name in _public_defs(path):
            if not any(name in r for p, r in refs.items() if p != path):
                unreferenced.append(f"{path.relative_to(ROOT)}:{name}")
    assert not unreferenced, f"defined but referenced nowhere else: {unreferenced}"


def test_every_public_engine_constant_is_read():
    refs = [_references(p) for p in _py_files()]
    unread = [
        f"{path.relative_to(ROOT)}:{name}"
        for path in sorted(PACKAGE.rglob("*.py")) for name in _public_constants(path)
        if not any(name in r for r in refs)
    ]
    assert not unread, f"module-level constants read nowhere: {unread}"


def _defaulted_params(path: Path) -> list[tuple[str, str, int | None, str]]:
    """(function name, parameter, positional index or None if keyword-
    only, `ast.dump` of the default) of every defaulted parameter of a
    public top-level function or a public method of a public class; a
    method's index skips its `self`/`cls`."""
    def params(fn, is_method):
        a = fn.args
        pos = a.posonlyargs + a.args
        if is_method and not any(
                isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list):
            pos = pos[1:]
        out = [(fn.name, p.arg, pos.index(p), ast.dump(d))
               for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)]
        return out + [(fn.name, p.arg, None, ast.dump(d))
                      for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]

    out = []
    for node in ast.parse(path.read_text(), filename=str(path)).body:
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
            out += params(node, False)
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            out += [p for m in node.body
                    if isinstance(m, ast.FunctionDef) and not m.name.startswith("_")
                    for p in params(m, True)]
    return out


def _calls(path: Path) -> list[tuple[str, list[str], dict[str, str], bool]]:
    """(callee name, `ast.dump` of each positional argument, keyword name
    → `ast.dump` of its value, unpacks) of every call by name or
    attribute; `partial(f, ...)` is a call of `f`."""
    def name(f):
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if not isinstance(node, ast.Call):
            continue
        callee, args = name(node.func), node.args
        if callee == "partial" and args:
            callee, args = name(args[0]), args[1:]
        unpacks = (any(isinstance(a, ast.Starred) for a in args)
                   or any(k.arg is None for k in node.keywords))
        out.append((callee, [ast.dump(a) for a in args],
                    {k.arg: ast.dump(k.value) for k in node.keywords}, unpacks))
    return out


# Set by no caller the dead-code scan may change: only
# `perfbench/workloads.py` passes `end`, to its default, and the
# benchmark harness is not edited along with the engine.
_SET_OUTSIDE = {"drought_t_spark/synth.py:series_pdf.end"}


def _sets(call, param: str, idx: int | None, default: str) -> bool:
    """Does `call` set `param` to another value than its default?"""
    _, args, kws, unpacks = call
    if unpacks:
        return True
    given = kws.get(param, args[idx] if idx is not None and idx < len(args) else None)
    return given is not None and given != default


def test_every_defaulted_engine_parameter_is_set():
    calls = [c for p in _py_files() for c in _calls(p)]
    unset = [
        name
        for path in sorted(PACKAGE.rglob("*.py"))
        for fn, param, idx, default in _defaulted_params(path)
        if (name := f"{path.relative_to(ROOT)}:{fn}.{param}") not in _SET_OUTSIDE
        and not any(c[0] == fn and _sets(c, param, idx, default) for c in calls)
    ]
    assert not unset, f"{len(unset)} defaulted parameters no call sets: {unset}"
