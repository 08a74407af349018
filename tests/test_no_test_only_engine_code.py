"""The engine package holds only code that something other than a test
runs (ROADMAP aim 2: delete any module or option that has no caller).

Every public top-level function or class under ``iot_data_pipeline_spark/``,
outside ``queries/``, must be referenced from some file outside a ``tests/``
directory: the engine package itself, ``bench.py``, ``perfbench/`` or
``tools/``. A reference is a use as a Name, an Attribute or an imported
name, so a mention in a comment or a string does not count. A package
``__init__.py`` re-export does not count either, and a reference made
inside a definition counts only once that definition is itself referenced
(so a helper that only a test-only function calls is test-only too).
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "iot_data_pipeline_spark"

# Names kept by decision although no non-test file calls them.
ALLOWLIST = {
    "Engine": "the user-facing facade, exported by the package",
    "build_session": "package export (iot_data_pipeline_spark.__all__)",
    "get_session": "package export (iot_data_pipeline_spark.__all__)",
    "object_store_conf": "the S3 deployment path (ROADMAP item 7, Keep)",
    "configure_object_store": "the S3 deployment path (ROADMAP item 7, Keep)",
    "last_state_batch": "the batch reference the stream-state tests compare against",
    "celsius_to_fahrenheit_py": "the scalar Python UDF of COVERAGE.md row B49",
    "explode_ngrams": "the generator UDF of COVERAGE.md row B51",
    "read_binary_files": "the binary-file reader of COVERAGE.md row B48",
    "encode_jpeg12": "the 12-bit fixture encoder; it needs jpeg.py's private tables",
}


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` uses as a Name, an Attribute or an import."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
    return out


def _is_test_file(path: Path) -> bool:
    return "tests" in path.relative_to(ROOT).parts


def unreached_engine_names() -> list[str]:
    """``module:name`` of each public top-level engine definition that
    only tests reach, outside the allowlist."""
    queries = PACKAGE / "queries"
    roots: set[str] = set(ALLOWLIST)
    owned: dict[tuple[str, str], set[str]] = {}
    for path in sorted(ROOT.rglob("*.py")):
        if _is_test_file(path) or ".perfbench" in path.as_posix():
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        in_engine = PACKAGE in path.parents and queries not in path.parents
        reexports = in_engine and path.name == "__init__.py"
        for stmt in tree.body:
            if reexports and isinstance(stmt, ast.ImportFrom):
                continue
            if in_engine and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                mod = path.relative_to(PACKAGE).with_suffix("").as_posix()
                owned[(mod, stmt.name)] = _names(stmt)
            else:
                roots |= _names(stmt)
    live: set[tuple[str, str]] = set()
    grew = True
    while grew:
        grew = False
        for key, refs in owned.items():
            if key not in live and key[1] in roots:
                live.add(key)
                roots |= refs
                grew = True
    return sorted(
        f"{mod}:{name}"
        for (mod, name) in owned
        if not name.startswith("_") and (mod, name) not in live
    )


def test_engine_has_no_test_only_names():
    assert unreached_engine_names() == []


def test_allowlist_names_exist():
    """Each allowlisted name is an engine definition, so a deletion takes
    its allowlist entry with it."""
    defined = {
        stmt.name
        for path in PACKAGE.rglob("*.py")
        if PACKAGE / "queries" not in path.parents
        for stmt in ast.parse(path.read_text()).body
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }
    assert sorted(set(ALLOWLIST) - defined) == []
