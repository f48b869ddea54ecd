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
import re
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


def _is_hash_force(node: ast.AST) -> bool:
    """``xxhash64(struct(*cols))``: the row hash that makes every column
    of a timed frame load-bearing."""
    if not (isinstance(node, ast.Call) and _called(node) == "xxhash64"):
        return False
    return any(
        isinstance(arg, ast.Call)
        and _called(arg) == "struct"
        and any(isinstance(a, ast.Starred) for a in arg.args)
        for arg in node.args
    )


def _is_udf_warm_up(node: ast.AST) -> bool:
    """An identity ``pandas_udf``: the function that starts the Python
    workers before anything is timed."""
    if not isinstance(node, ast.FunctionDef) or len(node.args.args) != 1:
        return False
    decorated = any(
        _called(d) == "pandas_udf" for d in node.decorator_list if isinstance(d, ast.Call)
    )
    body = node.body
    return (
        decorated
        and len(body) == 1
        and isinstance(body[0], ast.Return)
        and isinstance(body[0].value, ast.Name)
        and body[0].value.id == node.args.args[0].arg
    )


def _called(call: ast.Call) -> str | None:
    func = call.func
    return func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)


def test_measurement_helpers_only_in_bench():
    """The session warm-up and the hash-force live in ``bench.py``
    (``start_session`` and ``force``); every other timing tool imports
    them, so their copies cannot drift apart again. perfbench keeps its
    own, because the benchmark is versioned apart from the program."""
    root = PKG.parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] in ("perfbench", ".git") or rel == Path("bench.py"):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if _is_hash_force(node) or _is_udf_warm_up(node):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, "\n".join(offenders)
    bench = ast.parse((root / "bench.py").read_text())
    assert sum(map(_is_hash_force, ast.walk(bench))) == 1
    assert sum(map(_is_udf_warm_up, ast.walk(bench))) == 1


_CENTS = re.compile(r"CAST\(floor\(\{?\w+\}? \* 100 \+ 0\.5\) AS BIGINT\)")
_MIDPOINT = ("datediff(hi, lo) div 2", "datediff(_hi, _lo) div 2")


def _literal(node: ast.AST) -> str | None:
    """A string constant, or an f-string with each field shown as ``{x}``."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{x}" for v in node.values
        )
    return None


def _enclosing_functions(tree: ast.AST):
    """``lineno -> name`` of the innermost function holding that line."""
    spans = sorted(
        (n.lineno, n.end_lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef)
    )

    def at(lineno: int) -> str | None:
        inner = [name for lo, hi, name in spans if lo <= lineno <= hi]
        return inner[-1] if inner else None

    return at


def test_experiment_policy_only_in_helpers():
    """The experiment policy behind the A/B, uplift and drift readouts
    has one home each: cents rounding (``functions.cents``), the
    midpoint-day split (``functions.with_midpoint``), the user arm
    (``functions.user_arm``), the per-arm moments
    (``analytics._arm_moments``) and the arm-pair statistics
    (``analytics._arm_stats``). A second copy anywhere in the package is
    a policy that can drift apart. A cents string counts wherever it
    sits, in an ``F.expr`` call or held in a variable first. The DuckDB
    twins (``*_sql``) spell the policy in DuckDB's own syntax and are
    not matched."""
    found = {k: [] for k in ("cents", "midpoint", "arm", "moments", "stats")}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = path.relative_to(PKG.parent)
        at = _enclosing_functions(tree)

        def hit(kind: str, node: ast.AST) -> None:
            found[kind].append((f"{rel}:{node.lineno}", at(node.lineno)))

        for node in ast.walk(tree):
            text = _literal(node)
            if text and any(m in text for m in _MIDPOINT):
                hit("midpoint", node)
            if (
                text
                and _CENTS.fullmatch(text.strip())
                and not (at(node.lineno) or "").endswith("_sql")
            ):
                hit("cents", node)
            if text == "{x}.q_a":
                hit("stats", node)
            if not isinstance(node, ast.Call):
                continue
            arg = _literal(node.args[0]) if node.args else None
            if (
                _called(node) == "stable_long_hash"
                and node.args
                and ast.unparse(node.args[0]).startswith("F.col('user_id')")
            ):
                hit("arm", node)
            if _called(node) == "alias" and arg == "q_a":
                hit("moments", node)
    homes = {
        "cents": "cents",
        "midpoint": "with_midpoint",
        "arm": "user_arm",
        "moments": "_arm_moments",
        "stats": "_arm_stats",
    }
    for kind, home in homes.items():
        assert [fn for _, fn in found[kind]] == [home], (kind, found[kind])


def _stream_driving_calls(tree: ast.AST):
    """``(kind, lineno)`` of each call that drives a stream: an
    availableNow trigger, an ``awaitTermination`` or a
    ``maxFilesPerTrigger`` option."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = _called(node)
        if name == "trigger" and any(k.arg == "availableNow" for k in node.keywords):
            yield "trigger", node.lineno
        elif name == "awaitTermination":
            yield "await", node.lineno
        elif (
            name == "option"
            and node.args
            and _literal(node.args[0]) == "maxFilesPerTrigger"
        ):
            yield "replay", node.lineno


def test_streams_driven_only_by_jobs_drivers():
    """Every availableNow stream of the package runs through the drivers
    in ``streaming/jobs.py``: the memory-sink driver
    (``run_available_now``) and the foreachBatch starter (``_drive``)
    hold the only two availableNow triggers, ``_settle`` the only
    ``awaitTermination`` (it raises when a backlog did not drain), and
    ``chunked_replay`` the only ``maxFilesPerTrigger`` source. A copy
    elsewhere is a stream whose partial state can pass as settled.
    Docstrings and comments are not calls and are not scanned."""
    found = {"trigger": [], "await": [], "replay": []}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        at = _enclosing_functions(tree)
        rel = path.relative_to(PKG).as_posix()
        for kind, lineno in _stream_driving_calls(tree):
            found[kind].append(f"{rel}::{at(lineno)}")
    jobs = "streaming/jobs.py::"
    assert sorted(found["trigger"]) == [
        jobs + "_drive",
        jobs + "run_available_now",
    ], found["trigger"]
    assert found["await"] == [jobs + "_settle"], found["await"]
    assert found["replay"] == [jobs + "chunked_replay"], found["replay"]


def test_driver_java_options_only_in_get_spark():
    """The driver JVM's default options (its JIT compile budget) are set
    in one place, ``session.get_spark``. A second site in ``bench.py`` or
    a tool would time or check a JVM other than the engine's. perfbench
    is versioned apart from the program and is not scanned."""
    root = PKG.parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] in ("perfbench", "tests", ".git"):
            continue
        tree = ast.parse(path.read_text())
        at = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if _literal(node) == "spark.driver.defaultJavaOptions":
                found.append(f"{rel.as_posix()}::{at(node.lineno)}")
    assert found == ["audience_manager_platform_spark/session.py::get_spark"], found
