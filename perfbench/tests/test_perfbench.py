"""Tests of the benchmark's own logic (run: python -m pytest perfbench/tests).

They cover the input generator, the independent expected report, the span
arithmetic and the result digest, plus agreement between BENCHMARK.json and
the metric names the benchmark prints.
"""

from __future__ import annotations

import csv
import io
import json
import os
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import btsgen, run, workloads  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    driver_gap,
    self_values,
    union_length,
)


def test_generator_same_seed_same_bytes():
    a, b = btsgen.generate(3000, 11), btsgen.generate(3000, 11)
    assert a.data == b.data
    assert btsgen.generate(3000, 12).data != a.data


def test_generator_lines_are_109_quoted_fields():
    g = btsgen.generate(2000, 5)
    rows = list(csv.reader(io.StringIO(g.data.decode())))
    assert len(rows) == 2000
    assert {len(r) for r in rows} == {btsgen.N_COLS}
    assert all(", " in r[15] for r in rows)  # quoted "City, ST"
    carriers = np.array(btsgen.CARRIERS)[g.carrier]
    assert [r[6] for r in rows] == list(carriers)
    assert [int(r[0]) for r in rows] == list(g.year)
    assert [int(r[2]) for r in rows] == list(g.month)
    assert [r[41] == "1.00" for r in rows] == list(g.cancelled)
    assert [r[43] == "1.00" for r in rows] == list(g.diverted)


def test_generator_covers_the_fixture_domain():
    g = btsgen.generate(60_000, 7)
    assert (g.year == 2007).mean() >= 0.10
    assert 0.015 < g.cancelled.mean() < 0.025
    assert 0.005 < g.diverted.mean() < 0.015
    assert not (g.cancelled & g.diverted).any()
    heavy = g.carrier == btsgen.CARRIERS.index(btsgen.HEAVY_CARRIER)
    assert heavy.mean() > 0.2
    empty = g.carrier == btsgen.CARRIERS.index(btsgen.EMPTY_MONTH_CARRIER)
    assert not (empty & (g.year == 2008)
                & (g.month == btsgen.EMPTY_MONTH)).any()
    report = dict(line.split("\t") for line in btsgen.expected_report(g))
    assert f", ({btsgen.EMPTY_MONTH},0)" in report[
        f"AIR-{btsgen.EMPTY_MONTH_CARRIER}"]
    # exact-integer averages 3*month report as 3*month + 1
    assert report[f"AIR-{btsgen.INTEGRAL_CARRIER}"] == "".join(
        f", ({m},{3 * m + 1})" for m in range(1, 13))


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    yield s
    s.stop()


def test_expected_report_agrees_with_delay_report_from(spark, tmp_path):
    from hbase_hadoop_flightsearch_spark.plans.delay_report import (
        delay_report_from,
        format_report,
    )
    from hbase_hadoop_flightsearch_spark.sources.ingest import read_bts_csv

    g = btsgen.generate(20_000, 3)
    path = tmp_path / "flights.csv"
    path.write_bytes(g.data)
    got = format_report(delay_report_from(read_bts_csv(spark, str(path))))
    lines = sorted(f"{r.report_key}\t{r.report_line}" for r in got.collect())
    assert lines == btsgen.expected_report(g)


def _span(i, start, end, parent=None, **counters):
    return Span(i, f"s{i}", "r", start, end, parent, counters=counters)


def test_self_time_subtracts_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0, executor_cpu_s=2.0),
        _span(2, 5.0, 9.0, parent=0, executor_cpu_s=3.0),
        _span(3, 11.0, 12.5, parent=2, executor_cpu_s=1.0),
    ]
    spans[0].counters["executor_cpu_s"] = 6.5
    assert self_values(spans, lambda s: s.duration) == {
        0: 3.0, 1: 3.0, 2: 2.5, 3: 1.5}
    assert self_values(spans, lambda s: s.counters["executor_cpu_s"]) == {
        0: 1.5, 1: 2.0, 2: 2.0, 3: 1.0}


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0, 5) == 0
    assert union_length([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert union_length([(0, 2), (1, 8)], 1.5, 5) == 3.5
    assert union_length([(3, 4), (1, 2)], 0, 10) == 2
    assert union_length([(1, 9), (2, 3)], 0, 10) == 8


def test_driver_gap_is_span_minus_stage_cover():
    s = _span(0, 100.0, 110.0)
    s.stage_intervals = [(101.0, 104.0), (103.0, 105.0), (108.0, 112.0)]
    assert driver_gap(s) == pytest.approx(10.0 - 4.0 - 2.0)


def test_result_digest_is_order_insensitive_and_typed():
    rows = [(1, "a", 2.5), (2, "b", None)]
    d = workloads.result_digest(["k", "v", "x"], rows)
    assert d == workloads.result_digest(["k", "v", "x"], rows[::-1])
    # columns are matched by name, not position
    swapped = [(r[2], r[0], r[1]) for r in rows]
    assert d == workloads.result_digest(["x", "k", "v"], swapped)
    assert d[:2] == (("k", "v", "x"), 2)
    assert d != workloads.result_digest(["k", "v", "x"],
                                        [(1.0, "a", 2.5), (2, "b", None)])
    assert d != workloads.result_digest(["k", "v", "x"], rows[:1])


def test_benchmark_json_matches_printed_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    layer = [m["name"] for m in spec["per_layer"]]
    assert layer == workloads.per_layer_names()
    assert len(layer) <= 128
    assert all(m["unit"] == run._layer_unit(m["name"])
               for m in spec["per_layer"])


def test_cpu_env_is_validated(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    with pytest.raises(SystemExit):
        run._cpus()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert run._cpus() == 2
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert run._cpus() == len(os.sched_getaffinity(0))


@pytest.mark.parametrize("seconds", ["0", "-3"])
def test_non_positive_seconds_are_rejected(monkeypatch, seconds):
    monkeypatch.setattr(sys, "argv", [
        "run.py", "--workload", "seats", "--seed", "1",
        "--seconds", seconds, "--trace", "1"])
    with pytest.raises(SystemExit) as exc:
        run.main()
    assert exc.value.code == 2
