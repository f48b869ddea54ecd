"""The driver records only the LAST ~2000 chars of bench.py's output and
parses the final JSON line (BENCH_r07/r08 were lost to overflow + a
shutdown stack trace). Pin the compact-line contract so a future edit
can't silently regrow the line past the capture window."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_compact_line_fits_driver_tail_capture():
    timings = {n: 123.456 for n in bench.HEADLINE}
    line = bench._compact_line(
        "sum over %d headline queries of the per-query median (3 runs, "
        "heavy families 2), one warm session, full-materialization timing"
        % len(timings),
        9999.999,
        timings,
        0.1,
        bench.HEADLINE,
        1.234,
    )
    assert len(line) <= 2000
    d = json.loads(line)
    assert d["unit"] == "sec" and d["sf"] == 0.1
    assert 0 < len(d["queries"]) <= len(timings)
    # membership is a PREFIX of the priority list: stable round over round
    included = list(d["queries"])
    assert included == [n for n in bench.HEADLINE if n in d["queries"]]
    assert included == bench.HEADLINE[: len(included)]


def test_compact_line_full_sweep_sized_names():
    # --all mode passes ~370 sorted registry names; the line must still fit
    names = sorted(f"family_operator_variant_{i:03d}" for i in range(370))
    timings = {n: 1.234 for n in names}
    line = bench._compact_line("total wall-clock", 475.5, timings, 0.1, names, 1.234)
    assert len(line) <= 2000
    assert json.loads(line)["detail"].startswith("bench_full.json")


def test_compact_line_guarantees_query_floor_with_realistic_values():
    # r10 verdict #2: the families dict added in r10 truncated the driver
    # tail at 40 of 80 per-query entries (r9: 56). Per-query entries are
    # the primary round-over-round diff signal; with realistic timing
    # magnitudes the line must carry at least the r9-parity floor.
    timings = {n: 0.17 + (i % 37) * 0.13 for i, n in enumerate(bench.HEADLINE)}
    line = bench._compact_line(
        "sum over %d headline queries of the per-query median (3 runs, "
        "heavy families 2), one warm session, full-materialization timing"
        % len(timings),
        sum(timings.values()),
        timings,
        0.1,
        bench.HEADLINE,
        1.234,
    )
    # the driver window is EXACTLY 2000 chars; line + newline must fit
    # whole, with margin for a stray '\r' in the capture
    assert len(line) <= 1999 - 20
    d = json.loads(line)
    assert len(d["queries"]) >= bench._QUERY_FLOOR
    included = list(d["queries"])
    assert included == bench.HEADLINE[: len(included)]


def test_compact_line_families_only_when_budget_remains():
    # families are secondary to the per-query floor (r10 verdict #2): with
    # few queries they fit and appear; with the full headline they must
    # never displace per-query entries below the floor.
    few = {n: 1.234 for n in bench.HEADLINE[:10]}
    line = bench._compact_line(
        "total wall-clock", 12.3, few, 0.1, bench.HEADLINE, 1.234
    )
    d = json.loads(line)
    fams = d["families"]
    assert abs(sum(fams.values()) - sum(few.values())) < 0.5
    assert len(d["queries"]) == 10

    full = {n: 1.234 for n in bench.HEADLINE}
    d2 = json.loads(
        bench._compact_line(
            "sum over 80 headline queries of the per-query median (3 runs, "
            "heavy families 2), one warm session, full-materialization timing",
            98.7,
            full,
            0.1,
            bench.HEADLINE,
            1.234,
        )
    )
    assert len(d2["queries"]) >= bench._QUERY_FLOOR
    if "families" in d2:  # only legal when the floor was already met
        assert len(d2["queries"]) >= bench._QUERY_FLOOR


def test_compact_line_carries_the_calibration_probe():
    # VERDICT r11 #1: every bench artifact carries a fixed-work probe
    # reading, so box drift can be told apart from code changes; it must
    # not push per-query entries below the floor of the captured tail
    timings = {n: 0.17 + (i % 37) * 0.13 for i, n in enumerate(bench.HEADLINE)}
    line = bench._compact_line(
        "sum over %d headline queries of the per-query median (3 runs, "
        "heavy families 2), one warm session, full-materialization timing"
        % len(timings),
        sum(timings.values()),
        timings,
        0.1,
        bench.HEADLINE,
        12.345,
    )
    assert len(line) <= bench._TAIL_BUDGET
    d = json.loads(line)
    assert d["probe_sec"] == 12.345
    assert len(d["queries"]) >= bench._QUERY_FLOOR


def test_force_evaluates_every_output_column(spark):
    # the timed region must pay for every column a query returns: a bare
    # count() prunes an unused projection, the hash-force cannot
    from pyspark.sql import functions as F

    df = spark.range(3).withColumn("boom", F.raise_error(F.lit("forced column")))
    assert df.count() == 3
    with pytest.raises(Exception, match="forced column"):
        bench.force(df)
    assert bench.force(spark.range(5)) == 5
