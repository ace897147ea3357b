"""Guard against unreachable surface in the package.

An AST scan over the package's module-level functions. It fails when

- a function is referenced by no program or test file, or
- a defaulted parameter is set by no call in the package, ``bench.py``,
  ``__spark_entry__.py``, ``scripts/``, ``perfbench/`` or ``tests/``.

A default that nobody overrides is a constant, not a knob: every other
value it admits is a configuration nobody runs or tests. Turn it into a
constant in the function body, or set it from a caller that needs it.

The scan matches calls by name (``f(...)`` and ``mod.f(...)``), so a
method or variable that shares a function's name counts as a use. It can
therefore miss dead surface, but never reports live surface as dead.
Decorated functions (the registered queries) count as referenced.

Run ``python tests/test_dead_surface.py`` to print the findings.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "automated_property_data_ingestion_document_pipeline_spark"

# Each entry names one reason it stays although nothing reaches it.
KEEP_FUNCTIONS = {
    "soffice_convert_partition": "COVERAGE.md maps it to reference capability S8",
}
KEEP_PARAMS = {
    ("get_spark", "master"): "deployment setting: the cluster URL of the host",
    ("pdf_bytes_modern", "owner_pw"): "credential: the PDF owner password",
}


def _sources() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in (PACKAGE, ROOT / "scripts", ROOT / "perfbench", ROOT / "tests"):
        files += sorted(d.rglob("*.py"))
    return [f for f in files if f.is_file()]


def _package_functions(trees: dict[Path, ast.Module]):
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield path, node


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """``(name, position)`` of each defaulted parameter; None = keyword-only."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    out: list[tuple[str, int | None]] = [
        (p.arg, i) for i, p in enumerate(positional) if i >= first
    ]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def scan() -> tuple[list[str], list[str]]:
    """Return (unreferenced functions, never-set defaulted parameters)."""
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _sources()}
    refs: set[str] = set()
    set_kw: dict[str, set[str]] = {}
    set_pos: dict[str, int] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name is None:
                    continue
                n_pos = len(node.args)
                if any(isinstance(x, ast.Starred) for x in node.args) or any(
                    k.arg is None for k in node.keywords
                ):
                    n_pos = 1 << 30  # *args / **kwargs may set any parameter
                set_pos[name] = max(set_pos.get(name, 0), n_pos)
                set_kw.setdefault(name, set()).update(k.arg for k in node.keywords if k.arg)

    dead_fns, dead_params = [], []
    for path, fn in _package_functions(trees):
        where = f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}"
        if not fn.decorator_list and fn.name not in refs and fn.name not in KEEP_FUNCTIONS:
            dead_fns.append(where)
        for pname, pos in _defaulted(fn):
            if (fn.name, pname) in KEEP_PARAMS:
                continue
            by_pos = pos is not None and set_pos.get(fn.name, 0) > pos
            if not by_pos and pname not in set_kw.get(fn.name, ()):
                dead_params.append(f"{where}({pname})")
    return dead_fns, dead_params


def count_defaulted() -> int:
    trees = {p: ast.parse(p.read_text(), str(p)) for p in PACKAGE.rglob("*.py")}
    return sum(len(_defaulted(fn)) for _, fn in _package_functions(trees))


def test_every_package_function_is_referenced():
    dead_fns, _ = scan()
    assert not dead_fns, "unreferenced functions (delete them or call them):\n" + "\n".join(dead_fns)


def test_every_defaulted_parameter_is_set_by_some_caller():
    _, dead_params = scan()
    assert not dead_params, (
        "defaulted parameters no caller sets (make them constants):\n" + "\n".join(dead_params)
    )


def test_keep_lists_name_live_definitions():
    trees = {p: ast.parse(p.read_text(), str(p)) for p in PACKAGE.rglob("*.py")}
    fns = {fn.name: fn for _, fn in _package_functions(trees)}
    for name in KEEP_FUNCTIONS:
        assert name in fns, name
    for fname, pname in KEEP_PARAMS:
        assert pname in {p for p, _ in _defaulted(fns[fname])}, (fname, pname)


if __name__ == "__main__":
    fns, params = scan()
    print("\n".join(fns))
    print("\n".join(params))
    print(f"{len(fns)} unreferenced functions, {len(params)} never-set parameters, "
          f"{count_defaulted()} defaulted parameters in the package")
