"""Module-hygiene guards born from round-10 incidents.

Duplicate top-level definitions: wave 49 added a second
``benford_digit_audit`` to validation.py, silently shadowing the r5
function of the same name — BOTH faces of the shadowed oracle pair
flipped in lock-step, so the hash gate stayed green and only a unit
test caught the behavior change. This scan fails on ANY duplicate
top-level def/class name inside the operator/registry/plan modules, so
the collision is impossible to reintroduce.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "audience_manager_platform_spark"


def _top_level_names(path: Path):
    tree = ast.parse(path.read_text())
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno


def test_no_duplicate_top_level_definitions():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        seen: dict[str, int] = {}
        for name, lineno in _top_level_names(path):
            if name in seen:
                offenders.append(
                    f"{path.relative_to(PKG.parent)}:{lineno} redefines "
                    f"{name!r} (first at :{seen[name]})"
                )
            else:
                seen[name] = lineno
    assert not offenders, "\n".join(offenders)


def test_create_dataframe_only_inside_local_table():
    """Driver-side rows become a DataFrame through exactly one helper,
    ``partitioning.local_table`` (an Arrow-built LocalRelation: no job
    per action, exact values, typed when empty). Any other
    ``.createDataFrame(`` call is a second literal-table path."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path == PKG / "operators" / "partitioning.py":
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "local_table":
                    allowed = set(range(node.lineno, node.end_lineno + 1))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and node.lineno not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not offenders, "\n".join(offenders)


def test_row_number_only_inside_topk():
    """Every per-key ranking in the ANN serving modules goes through one
    step, ``similarity.topk`` (per-key ``(score, item ASC)`` order and
    the ``rank <= k`` cut). Any other ``row_number()`` call in them is a
    second top-k path. The ``ROW_NUMBER()`` text inside the DuckDB twins'
    SQL strings is not a call and is not scanned."""
    offenders = []
    for name in ("similarity", "pq", "sq", "hybrid"):
        path = PKG / "operators" / f"{name}.py"
        tree = ast.parse(path.read_text())
        allowed = set()
        if name == "similarity":
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "topk":
                    allowed = set(range(node.lineno, node.end_lineno + 1))
            assert allowed, "similarity.topk is missing"
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "row_number"
                and node.lineno not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not offenders, "\n".join(offenders)
