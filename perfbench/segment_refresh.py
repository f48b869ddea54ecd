"""segment_refresh: the engine's core lifecycle, write-heavy.

Set-up creates a seeded catalog of HOURLY rules through
``AudienceEngine.create_rule``/``create_compound_rule``. The timed part
runs ``Scheduler.run_due`` cycles with a virtual clock moved forward by
about an hour each time: the first cycle materializes every segment, each
later one overwrites every segment through the engine's locked swap.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import time

import oracle
import rulegen
from common import Outcome, median, percentile, tree_cpu_seconds

N_RULES = 6
MIN_WARM_CYCLES = 1
SCALE = 0.01


def build_engine(spark, data_dir: str, catalog_dir: str):
    from audience_manager_platform_spark.catalog import Catalog
    from audience_manager_platform_spark.engine import AudienceEngine
    from audience_manager_platform_spark.sources import tables, transactions

    def txns():
        return transactions.unified_transactions_from_events(
            tables.load_table(spark, data_dir, "events")
        )

    return AudienceEngine(spark, Catalog(catalog_dir), txns)


def clock_steps(seed: int, n: int) -> list[dt.datetime]:
    rng = random.Random(f"clock-{seed}")
    now = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)
    out = []
    for _ in range(n):
        out.append(now)
        now += dt.timedelta(hours=1, minutes=rng.randint(0, 15))
    return out


class Workload:
    name = "segment_refresh"

    def __init__(self, seed: int):
        self.seed = seed
        self.specs = rulegen.generate(seed, N_RULES)
        self.create_s: list[float] = []

    def prepare(self, spark, run) -> None:
        """One set-up: a fresh catalog holding the generated rules."""
        catalog_dir = str(run.catalogs / "refresh")
        shutil.rmtree(catalog_dir, ignore_errors=True)
        self.engine = build_engine(spark, run.data, catalog_dir)
        self.ids = rulegen.create_all(self.engine, self.specs, "HOURLY", self.create_s)

    def run(self, spark, run, seconds: float, tracer=None) -> Outcome:
        from audience_manager_platform_spark.scheduler import Scheduler

        engine, sched = self.engine, Scheduler(self.engine)
        samples: list[tuple[int, int, float]] = []  # (cycle, rule, seconds)
        errors: list[str] = []
        cycle = 0
        execute = engine.execute_rule

        def timed_execute(rule_id, now=None):
            sc = spark.sparkContext
            sc.setJobGroup(f"refresh.{'cold' if cycle == 0 else 'warm'}", f"rule {rule_id}")
            if tracer is not None:
                tracer.set_op(f"refresh:{cycle}:{rule_id}")
            t0 = time.perf_counter()
            try:
                return execute(rule_id, now=now)
            finally:
                samples.append((cycle, rule_id, time.perf_counter() - t0))

        engine.execute_rule = timed_execute
        clock = clock_steps(self.seed, 1000)
        walls: list[float] = []
        cpu = [tree_cpu_seconds()]
        warm_started = None
        while True:
            t0 = time.perf_counter()
            try:
                ran = sched.run_due(clock[cycle])
                if len(ran) != len(self.ids):
                    errors.append(f"cycle {cycle}: {len(ran)} of {len(self.ids)} rules ran")
            except Exception as ex:  # noqa: BLE001 — counted, not fatal
                errors.append(f"cycle {cycle}: {type(ex).__name__}: {ex}")
            walls.append(time.perf_counter() - t0)
            cycle += 1
            if cycle == 1:
                cpu.append(tree_cpu_seconds())
                warm_started = time.perf_counter()
                continue
            if cycle - 1 >= MIN_WARM_CYCLES and time.perf_counter() - warm_started >= seconds:
                break
        cpu.append(tree_cpu_seconds())
        engine.execute_rule = execute
        spark.sparkContext.setJobGroup("check", "oracle check")
        if tracer is not None:
            tracer.set_op(None)

        out = Outcome(metrics={}, attempted=len(samples), problems=errors[:5])
        con = oracle.connect(run.data)
        bad = set()
        for rid in self.ids:
            problem = oracle.check_segment(con, engine.catalog, rid, engine.catalog.segment_path(rid))
            if problem:
                bad.add(rid)
                out.problems.append(problem)
        con.close()
        # a failed cycle fails all its refreshes; a wrong segment fails each of its refreshes
        failed = {(c, rid) for c, rid, _ in samples if rid in bad}
        out.failed = min(out.attempted, len(failed) + len(errors) * len(self.ids))

        warm = [s for c, _, s in samples if c > 0]
        out.metrics = {"cold_cpu_s": cpu[1] - cpu[0], "warm_cpu_ms": (cpu[2] - cpu[1]) / len(warm) * 1000}
        out.extra = {
            "wall.cold_pass_s": walls[0],
            "wall.warm_p50_ms": median(warm) * 1000,
            "wall.warm_p90_ms": percentile(warm, 90) * 1000,
            "wall.warm_ops_per_s": len(warm) / sum(walls[1:]),
            "ops_warm": len(warm),
            "create_p50_ms": median(self.create_s) * 1000,
        }
        return out

