"""Per-layer metrics of a traced run, computed from its spans, its
counters and Spark's event log. Layers are named after the engine's
modules. A layer the workload does not reach reports 0."""

from __future__ import annotations

from collections import defaultdict

import tracing
from api_reads import ROUTE_CLASSES
from common import median
from registry_mix import GROUPS
SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)

# (name, unit, better)
METRICS = [
    ("env.probe_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("sources.load_table.calls", "count", "lower"),
    ("sources.load_table_ms", "ms", "lower"),
    ("plans.compile.calls", "count", "lower"),
    ("plans.compile_ms", "ms", "lower"),
    ("plans.dependency_ms", "ms", "lower"),
    ("plans.rewrite_ratio", "ratio", "higher"),
    ("catalog.saves", "count", "lower"),
    ("catalog.save_ms", "ms", "lower"),
    ("catalog.bytes_per_save", "bytes", "lower"),
    ("catalog.read_ms", "ms", "lower"),
    ("engine.create_rule_ms", "ms", "lower"),
    ("engine.execute_rule_s", "s", "lower"),
    ("engine.segment_dataframe_ms", "ms", "lower"),
    ("engine.execute_self_s", "s", "lower"),
    ("engine.sample_segment_s", "s", "lower"),
    ("segments.combine.calls", "count", "lower"),
    ("segments.combine_ms", "ms", "lower"),
    ("scheduler.run_due_self_s", "s", "lower"),
    ("api.self_ms", "ms", "lower"),
    *[(f"api.route.{r}_s", "s", "lower") for r in ROUTE_CLASSES],
    ("analytics.construct_ms", "ms", "lower"),
    ("registry.first_construct_s", "s", "lower"),
    *[(f"registry.construct_s.{g}", "s", "lower") for g in GROUPS],
    *[(f"registry.execute_s.{g}", "s", "lower") for g in GROUPS],
    *[(f"registry.warm_s.{g}", "s", "lower") for g in GROUPS],
    ("registry.asset_builds", "count", "lower"),
    ("registry.asset_hits", "count", "higher"),
    ("registry.asset_build_s", "s", "lower"),
    ("registry.warm_asset_hit_ratio", "ratio", "higher"),
    ("partitioning.materialize.calls", "count", "lower"),
    ("partitioning.materialize_s", "s", "lower"),
    ("partitioning.materialized_bytes", "bytes", "lower"),
    ("catalyst.plan_ms", "ms", "lower"),
    *[(f"spark.{k}", "s" if k == "task_s" else ("bytes" if k.endswith("bytes") else "count"), "lower") for k in SPARK_KEYS],
    ("spark.jobs_per_op", "count", "lower"),
    ("wall.cold_pass_s", "s", "lower"),
    ("wall.warm_p50_ms", "ms", "lower"),
    ("wall.warm_p90_ms", "ms", "lower"),
    ("wall.warm_ops_per_s", "1/s", "higher"),
    ("traced.setup_s", "s", "lower"),
    ("traced.cold_cpu_s", "s", "lower"),
    ("traced.warm_cpu_ms", "ms", "lower"),
]
UNITS = {name: unit for name, unit, _ in METRICS}


def per_layer(tracer, run, workload: str, session, outcome, e2e: dict, probe_s: float) -> dict:
    spans = tracer.spans
    own = tracing.self_times(spans)
    kids = tracing.children(spans)
    by_name: dict[str, list[tuple]] = defaultdict(list)
    for s in spans:
        by_name[s[2]].append(s)

    def dur(s):
        return s[5] - s[4]

    def durs(name):
        return [dur(s) for s in by_name.get(name, [])]

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def top(prefix):
        """Spans of a layer not nested in another span of the same layer."""
        names = {s[0]: s[2] for s in spans}
        return [
            s
            for s in spans
            if s[2].startswith(prefix) and not (s[1] is not None and names.get(s[1], "").startswith(prefix))
        ]

    v: dict[str, float] = {name: 0.0 for name, _, _ in METRICS}
    c = tracer.counts
    v["env.probe_s"] = probe_s
    v["session.start_s"] = median(session.start_s)
    v["session.warmup_s"] = median(session.warmup_s)

    v["sources.load_table.calls"] = len(by_name["sources.load_table"])
    v["sources.load_table_ms"] = mean(durs("sources.load_table")) * 1000
    v["plans.compile.calls"] = len(by_name["plans.compile"])
    v["plans.compile_ms"] = mean(durs("plans.compile")) * 1000
    v["plans.dependency_ms"] = mean(durs("plans.find_best_dependency")) * 1000
    if c["plans.rules_created"]:
        v["plans.rewrite_ratio"] = c["plans.rules_rewritten"] / c["plans.rules_created"]
    v["catalog.saves"] = len(by_name["catalog.save"])
    v["catalog.save_ms"] = mean(durs("catalog.save")) * 1000
    v["catalog.bytes_per_save"] = mean(tracer.samples["catalog.bytes"])
    v["catalog.read_ms"] = mean(dur(s) for s in top("catalog.read")) * 1000

    v["engine.create_rule_ms"] = median(durs("engine.create_rule")) * 1000
    executes = [s for s in by_name["engine.execute_rule"] if s[3] and s[3].startswith("refresh:")]
    v["engine.execute_rule_s"] = median(dur(s) for s in executes)
    v["engine.segment_dataframe_ms"] = median(durs("engine.segment_dataframe")) * 1000
    v["engine.execute_self_s"] = median(
        dur(s) - sum(dur(k) for k in kids[s[0]] if k[2] == "engine.segment_dataframe") for s in executes
    )
    v["engine.sample_segment_s"] = median(durs("engine.sample_segment"))
    v["segments.combine.calls"] = len(by_name["segments.combine"])
    v["segments.combine_ms"] = mean(durs("segments.combine")) * 1000
    v["scheduler.run_due_self_s"] = median(
        dur(s) - sum(dur(k) for k in kids[s[0]] if k[2] == "engine.execute_rule")
        for s in by_name["scheduler.run_due"]
        if s[3] != "setup"
    )

    requests = [s for s in spans if s[2].startswith("api.request.")]
    v["api.self_ms"] = median(own[s[0]] for s in requests) * 1000
    for r in ROUTE_CLASSES:
        v[f"api.route.{r}_s"] = median(durs(f"api.request.{r}"))
    v["analytics.construct_ms"] = mean(dur(s) for s in top("analytics.")) * 1000

    if workload == "registry_mix":
        v["registry.first_construct_s"] = outcome.extra["first_construct_s"]
        for g in GROUPS:
            for kind in ("construct_s", "execute_s", "warm_s"):
                v[f"registry.{kind}.{g}"] = outcome.extra[f"{kind}.{g}"]
    v["registry.asset_builds"] = c["assets.builds"]
    v["registry.asset_hits"] = c["assets.hits"]
    v["registry.asset_build_s"] = c["assets.build_s"]
    warm_assets = [s for s in spans if s[2].startswith("assets.") and (s[3] or "").startswith("warm:")]
    if warm_assets:
        v["registry.warm_asset_hit_ratio"] = sum(s[2] == "assets.hit" for s in warm_assets) / len(warm_assets)
    v["partitioning.materialize.calls"] = len(by_name["partitioning.materialize"])
    v["partitioning.materialize_s"] = sum(durs("partitioning.materialize"))
    v["partitioning.materialized_bytes"] = c["partitioning.bytes"]
    v["catalyst.plan_ms"] = mean(tracer.samples["catalyst.plan_ms"])

    groups = tracing.read_event_log(run.eventlog)
    timed = [g for g in groups if g not in ("setup", "probe", "check", "none")]
    for k in SPARK_KEYS:
        v[f"spark.{k}"] = sum(groups[g].get(k, 0.0) for g in timed)
    if outcome.attempted:
        v["spark.jobs_per_op"] = v["spark.jobs"] / outcome.attempted

    for k in ("wall.cold_pass_s", "wall.warm_p50_ms", "wall.warm_p90_ms", "wall.warm_ops_per_s"):
        v[k] = outcome.extra[k]
    for k, value in e2e.items():
        v[f"traced.{k}"] = value
    return v
