"""The engine's environment surface. Only deployment settings (cores,
driver heap) and safety gates (the python() plugin opt-in, the index
staleness checksum) are read from the environment; every tuning value and
round cap is a module constant, so no configuration exists that the tests
and benchmarks do not run."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "kql_engine_spark"


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_names() -> set[str]:
    """Keys of every os.environ.get / os.getenv / os.environ[...] read; a
    non-literal key is kept as its source text so it cannot go unseen."""
    names = set()
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                f = node.func
                is_read = f.attr == "getenv" or (
                    f.attr == "get" and _is_environ(f.value)
                )
                key = node.args[0] if is_read and node.args else None
            elif isinstance(node, ast.Subscript) and _is_environ(node.value):
                key = node.slice
            else:
                continue
            if key is None:
                continue
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                names.add(key.value)
            else:
                names.add(ast.unparse(key))
    return names


def test_engine_reads_only_deployment_and_safety_env():
    assert _env_names() == {
        "SPARK_GRAFT_CPUS",
        "SPARK_DRIVER_MEM",
        "KQL_ENGINE_ENABLE_PYTHON_PLUGIN",
        "KQL_ENGINE_INDEX_STRICT",
    }
