#!/usr/bin/env python
"""Time a subset of registry queries with the bench methodology
(one warm session, hash-forced full materialization, single-shot in the
given order — matching the full sweep's accounting). For isolating
optimization wins per `spark_optimization_guide.md` §1.

Usage: python tools/time_queries.py [--sf-dir DIR] [--repeat N] name1 name2 ...
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import pandas as pd  # noqa: F401  (pandas_udf warm-up hints resolve by name)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from audience_manager_platform_spark import registry
    from audience_manager_platform_spark.session import get_spark

    spark = get_spark(
        "time_queries",
        extra_conf={"spark.sql.streaming.stateStore.maintenanceInterval": "3600s"},
    )
    spark.range(1000).count()

    @F.pandas_udf("double")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(100 * cpus, numPartitions=cpus).select(
        _warm(F.col("id").cast("double"))
    ).count()

    qs = registry.queries()
    total = 0.0
    for name in args.names:
        samples = []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            n = (
                df.select(F.xxhash64(F.struct(*df.columns)).alias("_h"))
                .agg(F.count("*").alias("n"), F.expr("bit_xor(_h)"))
                .collect()[0]["n"]
            )
            samples.append(round(time.perf_counter() - t0, 3))
        total += samples[0] if args.repeat == 1 else sorted(samples)[len(samples) // 2]
        print(f"{name}: {samples} ({n} rows)", flush=True)
    summed = "first-sample" if args.repeat == 1 else "median"
    print(f"TOTAL ({summed} sum): {round(total, 3)}s", flush=True)
    spark.stop()
    # os._exit skips atexit hooks, so sweep the materialize() scratch
    # dirs (amp-mat-*) here or every timed query leaks them
    from audience_manager_platform_spark.operators import partitioning

    partitioning._sweep_materialized()
    os._exit(0)


if __name__ == "__main__":
    main()
