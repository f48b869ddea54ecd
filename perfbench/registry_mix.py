"""registry_mix: the analytics-engine surface behind ``registry.queries()``.

Each call is timed as construct (``queries()[name](spark, data_dir)``,
including any eager jobs it runs) plus execute (a forced full
materialization: ``xxhash64`` over a struct of all columns, then
``bit_xor``). The first pass runs in a fresh session, so shared assets are
built; later passes are served from them. The query order of each warm
pass is shuffled by the seed.
"""

from __future__ import annotations

import random
import time
from collections import defaultdict

import oracle
from common import Outcome, median, percentile, tree_cpu_seconds

SCALE = 0.001
GROUPS = {
    "relational": ("tpch_q5_local_supplier",),
    "text": ("sketch_cms_user_counts",),
    "ann": ("ann_hamming_topk",),
    "graph": ("pagerank_customer_supplier",),
}
GROUP_OF = {q: g for g, qs in GROUPS.items() for q in qs}


def forced(df):
    """(row count, xor of row hashes) — forces every output column."""
    from pyspark.sql import functions as F

    row = (
        df.select(F.xxhash64(F.struct(*df.columns)).alias("_h"))
        .agg(F.count("*").alias("n"), F.expr("bit_xor(_h)").alias("x"))
        .collect()[0]
    )
    return row["n"], row["x"]


class Workload:
    name = "registry_mix"

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, spark, run) -> None:
        from audience_manager_platform_spark import registry

        queries = registry.queries()
        self.queries = {q: queries[q] for q in GROUP_OF}
        self.oracles = registry.oracle_sql()

    def _call(self, spark, run, name, tracer, op_id):
        spark.sparkContext.setJobGroup(f"registry.{GROUP_OF[name]}", name)
        if tracer is not None:
            tracer.set_op(op_id)
        t0 = time.perf_counter()
        df = self.queries[name](spark, run.data)
        t1 = time.perf_counter()
        result = forced(df)
        t2 = time.perf_counter()
        return df, result, t1 - t0, t2 - t1

    def run(self, spark, run, seconds: float, tracer=None) -> Outcome:
        out = Outcome(metrics={})
        first: dict[str, tuple] = {}
        frames = {}
        first_construct = first_total = 0.0
        errors = 0
        cpu = [tree_cpu_seconds()]
        for name in self.queries:
            try:
                df, result, c, e = self._call(spark, run, name, tracer, f"cold:{name}")
            except Exception as ex:  # noqa: BLE001 — counted, not fatal
                errors += 1
                out.problems.append(f"{name}: {type(ex).__name__}: {ex}")
                continue
            first[name], frames[name] = result, df
            out.extra[f"cold.{name}"] = c + e
            first_construct += c
            first_total += c + e
        attempted = len(self.queries)
        cpu.append(tree_cpu_seconds())

        rng = random.Random(f"passes-{self.seed}")
        warm: dict[str, list[tuple[float, float]]] = defaultdict(list)
        walls: list[float] = []
        t_start = time.perf_counter()
        p = 0
        while not walls or time.perf_counter() - t_start < seconds:
            order = list(self.queries)
            rng.shuffle(order)
            t0 = time.perf_counter()
            for name in order:
                attempted += 1
                try:
                    _, result, c, e = self._call(spark, run, name, tracer, f"warm:{p}:{name}")
                except Exception as ex:  # noqa: BLE001
                    errors += 1
                    out.problems.append(f"{name}: {type(ex).__name__}: {ex}")
                    continue
                if result != first.get(name):
                    errors += 1
                    out.problems.append(f"{name}: warm result {result} != first {first.get(name)}")
                warm[name].append((c, e))
            walls.append(time.perf_counter() - t0)
            p += 1
        cpu.append(tree_cpu_seconds())
        spark.sparkContext.setJobGroup("check", "oracle check")
        if tracer is not None:
            tracer.set_op(None)

        con = oracle.connect(run.data)
        bad = 0
        for name, df in frames.items():
            problem = oracle.check_query(con, name, self.oracles[name], df.toPandas())
            if problem:
                bad += 1
                out.problems.append(problem)
        con.close()
        out.attempted = attempted
        out.failed = min(attempted, errors + bad * (1 + p))

        totals = [c + e for runs in warm.values() for c, e in runs]
        out.metrics = {"cold_cpu_s": cpu[1] - cpu[0], "warm_cpu_ms": (cpu[2] - cpu[1]) / len(totals) * 1000}
        out.extra |= {
            "wall.cold_pass_s": first_total,
            "wall.warm_p50_ms": median(totals) * 1000,
            "wall.warm_p90_ms": percentile(totals, 90) * 1000,
            "wall.warm_ops_per_s": len(totals) / sum(walls),
            "ops_warm": len(totals),
            "first_construct_s": first_construct,
        }
        for name, runs in warm.items():
            out.extra[f"warm.{name}"] = median(c + e for c, e in runs)
        for group, names in GROUPS.items():
            out.extra[f"warm_s.{group}"] = sum(median(c + e for c, e in warm[n]) for n in names)
            out.extra[f"construct_s.{group}"] = sum(median(c for c, _ in warm[n]) for n in names)
            out.extra[f"execute_s.{group}"] = sum(median(e for _, e in warm[n]) for n in names)
        return out
