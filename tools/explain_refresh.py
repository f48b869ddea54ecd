#!/usr/bin/env python
"""Capture what one segment refresh runs: the number of Spark jobs and the
formatted physical plan of every SQL execution it issued, for one base
rule and one compound (dependency-rewritten) rule.

Usage: python tools/explain_refresh.py --tag after --out plans/r12 --sf-dir DIR

``DIR`` holds the ``events.parquet`` fixture; it and the temporary
catalog directory appear as ``<sf-dir>`` and ``<catalog>`` in the output.

Writes ``<out>/refresh_base_<tag>.txt`` and ``<out>/refresh_compound_<tag>.txt``.
Each rule is refreshed once before the captured run, so the captured run
is a warm refresh. Plans are the final (adaptive) ones Spark recorded for
each execution, in ``spark.sql.ui.explainMode`` (formatted by default).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AMT = {"field": "transaction_amount", "operator": ">", "value": "120"}
TIER = {"field": "city_tier", "operator": "=", "value": "1"}


def capture(spark, engine, rule_id: int) -> str:
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    seen = {e.executionId() for e in _executions(store)}
    group = f"refresh-{rule_id}"
    sc.setJobGroup(group, "captured refresh")
    rows = engine.execute_rule(rule_id)
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
    new = [e for e in _executions(store) if e.executionId() not in seen]
    out = [f"rule {rule_id}: {rows} rows, {len(jobs)} Spark jobs, {len(new)} SQL executions", ""]
    for e in sorted(new, key=lambda e: e.executionId()):
        out += [f"== SQL execution {e.executionId()}: {e.description()} ==", e.physicalPlanDescription(), ""]
    return "\n".join(out)


def _executions(store) -> list:
    it = store.executionsList().iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True)
    ap.add_argument("--out", default="plans/r12")
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()

    from audience_manager_platform_spark.catalog import Catalog
    from audience_manager_platform_spark.engine import AudienceEngine
    from audience_manager_platform_spark.session import get_spark
    from audience_manager_platform_spark.sources import (
        load_table,
        unified_transactions_from_events,
    )

    spark = get_spark("explain_refresh")
    with tempfile.TemporaryDirectory() as work:
        engine = AudienceEngine(
            spark,
            Catalog(work),
            lambda: unified_transactions_from_events(load_table(spark, args.sf_dir, "events")),
        )
        base = engine.create_rule("amt", [AMT])
        engine.create_rule("tier", [TIER])
        compound = engine.create_rule("amt_and_tier", [AMT, TIER])
        engine.execute_all()
        os.makedirs(args.out, exist_ok=True)
        for kind, rule in (("base", base), ("compound", compound)):
            path = os.path.join(args.out, f"refresh_{kind}_{args.tag}.txt")
            text = capture(spark, engine, rule.rule_id)
            text = text.replace(os.path.realpath(work), "<catalog>").replace(work, "<catalog>")
            with open(path, "w") as fh:
                fh.write(text.replace(os.path.abspath(args.sf_dir), "<sf-dir>"))
            print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
