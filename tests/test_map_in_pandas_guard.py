"""Guard: row-local Python stages go through ``operators/rowmap.map_rows``.

An AST scan over the package. It fails on a ``mapInPandas`` call that is
neither the helper's own nor one of the kept bodies below, each of which
works on a whole batch at once or carries state from one row to the
next, so a per-row function cannot express it.

Run ``python tests/test_map_in_pandas_guard.py`` to print every call.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "automated_property_data_ingestion_document_pipeline_spark"
HELPER = "operators/rowmap.py"

# (module, batch function passed to mapInPandas) -> why it is not map_rows
KEEP = {
    ("operators/similarity.py", "score_partition"):
        "whole batch: one numpy pass encodes and scores every vector of the batch",
    ("operators/similarity.py", "encode"):
        "whole batch: one numpy pass assigns cells and PQ codes to the batch",
    ("operators/sessionize.py", "assign"):
        "stateful: the open session and its anchor carry across rows and batches",
    ("streaming/state_machine.py", "_wizard_stream"):
        "stateful: the replay machine's state carries across users and batches",
    ("sources/html_source.py", "_parse"):
        "whole batch: appends one column to every input column, of any type",
    ("sources/http_source.py", "_enrich"):
        "per partition: one transport session serves every row of the partition",
}


def calls() -> list[tuple[str, int, str]]:
    """``(module, line, batch function)`` of each mapInPandas call."""
    out = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "mapInPandas"):
                continue
            fn = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "func"), None
            )
            name = fn.id if isinstance(fn, ast.Name) else ast.unparse(fn) if fn else "?"
            out.append((rel, node.lineno, name))
    return out


def test_row_local_stages_use_map_rows():
    stray = [
        f"{rel}:{line} mapInPandas({name}, ...)"
        for rel, line, name in calls()
        if rel != HELPER and (rel, name) not in KEEP
    ]
    assert not stray, (
        "per-row mapInPandas outside operators/rowmap.map_rows (port it, or add "
        "it to KEEP with the reason a row function cannot express it):\n" + "\n".join(stray)
    )


def test_keep_list_names_live_calls():
    found = {(rel, name) for rel, _, name in calls()}
    assert set(KEEP) <= found, set(KEEP) - found
    assert any(rel == HELPER for rel, _, _ in calls())


if __name__ == "__main__":
    for rel, line, name in calls():
        tag = "helper" if rel == HELPER else "kept" if (rel, name) in KEEP else "STRAY"
        print(f"{tag:6s} {rel}:{line} {name}")
