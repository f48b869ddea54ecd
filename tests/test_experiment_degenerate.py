"""Degenerate inputs for the operators built on the experiment policy.

Every public operator in ``operators/`` that rounds cents, splits at the
midpoint day or assigns arms (directly or through a module-local step
such as ``analytics._user_periods``) and takes only an events frame runs
on an empty frame and on a one-user frame. Each must return a typed
DataFrame (no ``NullType`` column) that collects without raising.
"""

import ast
from pathlib import Path

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NullType

OPS = Path(__file__).resolve().parents[1] / "audience_manager_platform_spark" / "operators"
POLICY = {"cents", "with_midpoint", "user_arm"}


def _called(call: ast.Call) -> str | None:
    func = call.func
    return func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)


def _policy_operators():
    """(module, name) of each events-only operator that reaches a policy
    helper through calls inside its own module."""
    out = []
    for path in sorted(OPS.glob("*.py")):
        defs = {
            n.name: n for n in ast.parse(path.read_text()).body if isinstance(n, ast.FunctionDef)
        }
        calls = {
            name: {_called(c) for c in ast.walk(fn) if isinstance(c, ast.Call)}
            for name, fn in defs.items()
        }
        reaches = {name for name, c in calls.items() if c & POLICY}
        while True:
            more = {name for name, c in calls.items() if c & reaches} - reaches
            if not more:
                break
            reaches |= more
        for name in sorted(reaches):
            args = defs[name].args
            required = [a.arg for a in args.args[: len(args.args) - len(args.defaults)]]
            if not name.startswith("_") and required == ["events"]:
                out.append((path.stem, name))
    return out


CASES = _policy_operators()


def test_policy_operators_are_found():
    names = {name for _, name in CASES}
    assert {"cuped_adjustment", "msprt_always_valid", "psi_value_drift"} <= names
    assert len(CASES) >= 30


@pytest.fixture(scope="module")
def frames(spark, sf_dir):
    from audience_manager_platform_spark.sources import load_table

    events = load_table(spark, sf_dir, "events")
    uid = events.agg(F.min("user_id")).first()[0]
    return {"empty": events.limit(0), "one_user": events.filter(F.col("user_id") == uid)}


@pytest.mark.parametrize("module,name", CASES, ids=[f"{m}.{n}" for m, n in CASES])
@pytest.mark.parametrize("kind", ["empty", "one_user"])
def test_policy_operator_on_degenerate_events(frames, module, name, kind):
    import importlib

    op = getattr(
        importlib.import_module(f"audience_manager_platform_spark.operators.{module}"), name
    )
    out = op(frames[kind])
    assert isinstance(out, DataFrame)
    assert out.schema.fields
    assert not [f.name for f in out.schema.fields if isinstance(f.dataType, NullType)]
    out.collect()


def test_cms_heavy_change_on_degenerate_events(spark, frames):
    from audience_manager_platform_spark.operators.skew import cms_heavy_change

    for kind in ("empty", "one_user"):
        out = cms_heavy_change(frames[kind], "user_id", "ts", [1, 2])
        assert not [f for f in out.schema.fields if isinstance(f.dataType, NullType)]
        out.collect()
