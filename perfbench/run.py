"""Benchmark entry point.

    python3 perfbench/run.py --workload segment_refresh --seed 1 --seconds 1 --trace 0

Generates the workload's inputs from the seed, sets the engine up several
times (reporting the median set-up time), runs the workload's cold pass
and then its warm passes, at least one and more until ``--seconds``
seconds have passed, checks every output against DuckDB and prints, as
the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` spans are recorded and the metrics are the per-layer ones
(the spans go to ``.perfbench/out/``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

import common
import datagen

WORKLOADS = ("segment_refresh", "api_reads", "registry_mix")
SETUP_REPS = 3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None, help="data scale (default: the workload's)")
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    run = common.prepare_environment(f"{args.workload}-{args.seed}")
    session = None
    try:
        module = importlib.import_module(args.workload)
        datagen.write(args.seed, args.scale or module.SCALE, run.data)
        wl = module.Workload(args.seed)

        cpu0 = common.tree_cpu_seconds()
        tracer = None
        if traced:
            import tracing

            tracer = tracing.Tracer()
            tracer.install()
        session = common.Session(run, traced)
        setup_s = []
        for _ in range(SETUP_REPS):
            spark = session.start()
            if tracer is not None:
                tracer.set_op("setup")
            spark.sparkContext.setJobGroup("setup", "set-up")
            wl.prepare(spark, run)
            cpu = common.tree_cpu_seconds()
            setup_s.append(cpu - cpu0)
            cpu0 = cpu
        spark.sparkContext.setJobGroup("probe", "calibration probe")
        probe_s = session.probe()

        outcome = wl.run(spark, run, args.seconds, tracer)
        metrics = {"setup_s": common.median(setup_s), **outcome.metrics}

        if traced:
            session.stop()
            import layers

            values = layers.per_layer(
                tracer, run, args.workload, session, outcome, metrics, probe_s
            )
            out_dir = common.WORK / "out"
            tracer.dump(
                str(out_dir / f"trace-{args.workload}-{args.seed}.json"),
                {"per_layer": values, "end_to_end": metrics, "problems": outcome.problems},
            )
            report = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in values.items()}
        else:
            report = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    finally:
        common.shutdown(session, run)

    for name, m in report.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    if not traced:
        print(f"env.probe_s {probe_s:.6g} s")
    for name, value in sorted(outcome.extra.items()):
        print(f"info {name} {value:.6g}")
    for problem in outcome.problems[:10]:
        print(f"problem: {problem}")
    result = {
        "correct": outcome.failed == 0 and outcome.attempted > 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": report,
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


UNITS = {"setup_s": "s", "cold_cpu_s": "s", "warm_cpu_ms": "ms"}


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    os._exit(code)  # the JVM is already stopped; skip interpreter teardown noise
