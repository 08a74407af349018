"""Only ``session.py`` writes a SQL conf (ROADMAP item 9).

A conf set on the shared session applies to every other thread's query
while it is set, so engine code that needs a different conf plans on a
session of its own (``session.stream_probe_session``) instead. This lint
finds every ``.set`` call under ``iot_data_pipeline_spark/`` whose
receiver is a ``.conf`` attribute, a ``.conf()`` call, or a local name
bound to one of those; only ``iot_data_pipeline_spark/session.py`` may
make them.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "iot_data_pipeline_spark"


def _is_conf(node: ast.AST, aliases: set[str]) -> bool:
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr == "conf"
    return isinstance(node, ast.Name) and node.id in aliases


def conf_set_calls(package: Path = PACKAGE) -> list[str]:
    """``path:line`` of each SQL conf write outside ``session.py``."""
    found = []
    for path in sorted(package.rglob("*.py")):
        if path == package / "session.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        aliases = {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign) and _is_conf(n.value, set())
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "set"
                and _is_conf(n.func.value, aliases)
            ):
                found.append(f"{path.relative_to(package.parent)}:{n.lineno}")
    return found


def test_only_session_module_sets_sql_conf():
    assert conf_set_calls() == []


def test_lint_sees_direct_and_aliased_conf_writes(tmp_path):
    pkg = tmp_path / "iot_data_pipeline_spark"
    pkg.mkdir()
    (pkg / "session.py").write_text('spark.conf.set("k", "v")\n')
    (pkg / "op.py").write_text(
        'spark.conf.set("k", "v")\n'
        "c = spark.conf\n"
        'c.set("k", "v")\n'
        'spark._jsparkSession.conf().set("k", "v")\n'
        'other.set("k", "v")\n'
    )
    assert conf_set_calls(pkg) == [
        "iot_data_pipeline_spark/op.py:1",
        "iot_data_pipeline_spark/op.py:3",
        "iot_data_pipeline_spark/op.py:4",
    ]
