"""bench.py contracts: the per-seat conf pins must be applied for the
timed runs and restored afterwards EVEN when a run raises — a leaked
pin would silently change every later seat's plan."""

from __future__ import annotations

import bench


class _Boom:
    name = "flight_connection_search"

    def fn(self, spark, sf_dir):
        raise RuntimeError("boom")


def test_pinned_confs_restored_on_failure(spark):
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    default = spark.conf.get(key)
    try:
        bench.time_query(spark, _Boom(), "/root/testdata/sf0.001", 1)
    except RuntimeError:
        pass
    assert spark.conf.get(key) == default, "pin leaked after failure"


def test_pinned_confs_applied_during_run(spark):
    seen = {}
    key = "spark.sql.adaptive.coalescePartitions.enabled"

    class _Probe:
        name = "flight_connection_search"

        def fn(self, s, sf_dir):
            seen["v"] = spark.conf.get(key)
            from hbase_hadoop_flightsearch_spark.sources.catalog import (
                load_table,
            )

            return load_table(spark, sf_dir, "region").limit(1)

    default = spark.conf.get(key)
    bench.time_query(spark, _Probe(), "/root/testdata/sf0.001", 1)
    assert seen["v"] == "false"  # pin active during the timed run
    assert spark.conf.get(key) == default  # restored afterwards


def test_subsecond_pins_are_headline_seats_under_one_second():
    """BASELINE.md sub-second-seat rule (VERDICT r14 #3): the seats bench.py
    annotates must (a) be real headline seats and (b) carry pins < 1 s —
    a stale entry would mislabel a >=1 s seat into the lenient absolute-
    delta adjudication."""
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    headline = {q.name for q in load_all().values() if q.headline}
    assert set(bench.SUB_SECOND_PINS) <= headline
    assert all(0 < pin < 1.0 for pin in bench.SUB_SECOND_PINS.values())


def test_bad_cpu_count_fails_before_spark_starts(monkeypatch):
    """A non-numeric or non-positive SPARK_GRAFT_CPUS must stop the bench
    with a clear message before any timed work, not crash when the
    finished run's report is assembled."""
    import pytest

    def _no_spark(*a, **k):
        raise AssertionError("Spark started despite a bad SPARK_GRAFT_CPUS")

    monkeypatch.setattr(bench, "get_spark", _no_spark)
    for bad in ("four", "0", "-2", ""):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(SystemExit, match="SPARK_GRAFT_CPUS"):
            bench.main()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert bench.n_cpus() == 3
