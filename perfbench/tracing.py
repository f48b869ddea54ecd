"""Span tracing for the traced run, installed from the benchmark's side.

``Tracer.install`` wraps the public entry points of each engine module
(and the Spark actions they end in) so that every call records a span:
name, start, end, parent span and operation id. Spans stay in memory and
are written out once, when the run ends. Names are ``<layer>.<call>``,
with layers named after the package modules.

Nothing here is imported by an untraced run.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "audience_manager_platform_spark"


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, parent, name, op, start, end)
        self.counts: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def set_op(self, op: str | None) -> None:
        self._tls.op = op

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, name, getattr(self._tls, "op", None), t0, t1))

    def wrap(self, fn, name: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = fn(*args, **kwargs)
                if after is not None:
                    after(args, kwargs, result)
                return result

        wrapper.__perfbench_original__ = fn
        return wrapper

    def count(self, key: str, n: float = 1.0) -> None:
        with self._lock:
            self.counts[key] += n

    def sample(self, key: str, value: float) -> None:
        with self._lock:
            self.samples[key].append(value)

    # ------------------------------------------------------ installation
    def install(self) -> None:
        """Wrap the engine's layers. Functions bound by name in other
        modules (``from .x import f``) are replaced wherever they are
        bound, so every call site is traced; hence every engine module,
        the registry's query families included, is imported first."""
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        from audience_manager_platform_spark import api, catalog, engine, registry, scheduler  # noqa: F401
        from audience_manager_platform_spark.operators import analytics, partitioning, segments
        from audience_manager_platform_spark.plans import dependency_finder, rule_compiler
        from audience_manager_platform_spark.registry import _shared, similarity, textops
        from audience_manager_platform_spark.sources import tables

        registry.queries()
        replace_everywhere(tables.load_table, self.wrap(tables.load_table, "sources.load_table"))
        replace_everywhere(
            dependency_finder.find_best_dependency,
            self.wrap(dependency_finder.find_best_dependency, "plans.find_best_dependency"),
        )
        wrap_method(self, rule_compiler.RuleCompiler, "compile", "plans.compile")
        replace_everywhere(
            segments.combine_segments, self.wrap(segments.combine_segments, "segments.combine")
        )

        cat = catalog.Catalog
        wrap_method(self, cat, "_save", "catalog.save", after=self._catalog_saved)
        for meth in ("get_rule", "get_segment", "lineage_graph", "topological_order"):
            wrap_method(self, cat, meth, "catalog.read")
        orig_active = cat.active_rules
        cat.active_rules = self.wrap(lambda s: iter(list(orig_active(s))), "catalog.read")

        eng = engine.AudienceEngine
        wrap_method(self, eng, "create_rule", "engine.create_rule", after=self._rule_created)
        wrap_method(
            self, eng, "create_compound_rule", "engine.create_rule", after=self._rule_created
        )
        for meth in ("execute_rule", "segment_dataframe", "sample_segment", "read_segment"):
            wrap_method(self, eng, meth, f"engine.{meth}")
        wrap_method(self, scheduler.Scheduler, "run_due", "scheduler.run_due")

        for fn in ("filter_transactions", "category_totals", "daily_totals", "summary", "user_search"):
            replace_everywhere(getattr(analytics, fn), self.wrap(getattr(analytics, fn), f"analytics.{fn}"))

        replace_everywhere(
            partitioning.materialize,
            self.wrap(partitioning.materialize, "partitioning.materialize", after=self._materialized),
        )
        replace_everywhere(_shared.shared, self._asset_wrapper(_shared.shared, _shared_hit))
        similarity._cached_fit = self._asset_wrapper(similarity._cached_fit, _fit_hit)
        textops._text_kmeans_model = self._asset_wrapper(textops._text_kmeans_model, _kmeans_hit)

        for meth in ("collect", "toPandas"):
            wrap_method(self, DataFrame, meth, "spark.action", after=self._planned)
        wrap_method(self, DataFrame, "count", "spark.action")
        wrap_method(self, DataFrameWriter, "parquet", "spark.write")

    # ------------------------------------------------ per-call recorders
    def _catalog_saved(self, args, kwargs, result) -> None:
        self.sample("catalog.bytes", os.path.getsize(args[0]._path))

    def _rule_created(self, args, kwargs, result) -> None:
        self.count("plans.rules_created")
        if result.depends_on and (result.operation or "").lower() == "intersection":
            self.count("plans.rules_rewritten")

    def _materialized(self, args, kwargs, result) -> None:
        from audience_manager_platform_spark.operators import partitioning

        self.count("partitioning.bytes", du(os.path.dirname(partitioning._MATERIALIZED[-1])))

    def _planned(self, args, kwargs, result) -> None:
        try:
            phases = args[0]._jdf.queryExecution().tracker().phases()
        except Exception:  # noqa: BLE001 — Spark Connect frames have no tracker
            return
        ms = 0
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                ms += opt.get().durationMs()
        self.sample("catalyst.plan_ms", float(ms))

    def _asset_wrapper(self, fn, is_hit):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            hit = is_hit(*args, **kwargs)
            t0 = time.perf_counter()
            with tracer.span("assets.hit" if hit else "assets.build"):
                result = fn(*args, **kwargs)
            if hit:
                tracer.count("assets.hits")
            else:
                tracer.count("assets.builds")
                tracer.count("assets.build_s", time.perf_counter() - t0)
            return result

        return wrapper

    # ------------------------------------------------------------ output
    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("id", "parent", "name", "op", "start", "end")
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [dict(zip(keys, s)) for s in self.spans],
                    "counts": self.counts,
                    **extra,
                },
                fh,
            )


def _shared_hit(spark, key, build) -> bool:
    from audience_manager_platform_spark.registry import _shared

    return (spark.sparkContext.applicationId, *key) in _shared._CACHE


def _fit_hit(key, fit) -> bool:
    from audience_manager_platform_spark.registry import similarity

    return key in similarity._FIT_CACHE


def _kmeans_hit(s, d, k=64, iters=1) -> bool:
    from audience_manager_platform_spark.registry import textops

    return (d, k, iters) in textops._TEXT_KMEANS_CACHE


def wrap_method(tracer: Tracer, cls, name: str, span: str, after=None) -> None:
    setattr(cls, name, tracer.wrap(getattr(cls, name), span, after=after))


def replace_everywhere(orig, wrapper) -> None:
    """Rebind ``orig`` to ``wrapper`` in every loaded engine module."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, value in list(vars(mod).items()):
            if value is orig:
                setattr(mod, attr, wrapper)


def du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------- analysis
def self_times(spans: list[tuple]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    child = defaultdict(float)
    for _, parent, _, _, t0, t1 in spans:
        if parent is not None:
            child[parent] += t1 - t0
    return {sid: (t1 - t0) - child[sid] for sid, _, _, _, t0, t1 in spans}


def children(spans: list[tuple]) -> dict[int, list[tuple]]:
    out = defaultdict(list)
    for s in spans:
        if s[1] is not None:
            out[s[1]].append(s)
    return out


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, task seconds, shuffle read and
    write bytes, spill bytes and output bytes, from Spark's event log."""
    stage_group: dict[tuple, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    paths = [
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files if not f.startswith(".")
    ]
    for path in sorted(paths):
        app = os.path.dirname(path)  # one directory per application
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    for sid in ev.get("Stage IDs", []):
                        stage_group[(app, sid)] = group
                    out[group]["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get((app, sid), "none")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get((app, ev.get("Stage ID")), "none")]
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return {k: dict(v) for k, v in out.items()}
