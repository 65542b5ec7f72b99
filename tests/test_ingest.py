"""Ingest path (HPopulate-equivalent) round-trip tests.

Covers S1 (CSV scan), P1 (quote-aware positional parse), T1 (casts),
T2 (uuid rowkey), S3/S5 (bronze write, create-if-absent), S4 (text sink),
and the partition-pruning upgrade over the reference's full-scan-only
storage (HPopulate/Main.java:97-100).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from hbase_hadoop_flightsearch_spark.plans.delay_report import (
    delay_report_from,
    flight_delay_report,
    format_report,
)
from hbase_hadoop_flightsearch_spark.sources.flights import flights
from hbase_hadoop_flightsearch_spark.sources.ingest import (
    flights_from_lines,
    ingest_flights,
    read_bronze,
    read_bts_csv,
    write_report_text,
)

SF = "/root/testdata/sf0.001"
N_COLS = 109  # the real BTS export is ~109 columns wide


def _bts_line(year, quarter, month, carrier, delay, cancelled, diverted):
    """Render one headerless BTS-shaped CSV line with the reference's
    positional contract: 0=Year 1=Quarter 2=Month 6=UniqueCarrier
    37=ArrDelayMinutes 41=Cancelled 43=Diverted."""
    cells = ["x"] * N_COLS
    cells[0], cells[1], cells[2] = str(year), str(quarter), str(month)
    cells[6] = carrier
    cells[37] = f"{delay:.2f}"
    cells[41] = f"{cancelled:.2f}"
    cells[43] = f"{diverted:.2f}"
    return ",".join(cells)


@pytest.fixture(scope="module")
def bts_csv(spark, tmp_path_factory):
    """A deterministic BTS-shaped CSV derived from the sf0.001 flights view,
    so ingest output can be compared to the in-memory source exactly."""
    rows = flights(spark, SF).collect()
    path = tmp_path_factory.mktemp("bts") / "ontime.csv"
    with open(path, "w") as f:
        for r in rows:
            f.write(
                _bts_line(
                    r.year, 1, r.month, r.carrier,
                    r.arr_delay_minutes, r.cancelled, r.diverted,
                )
                + "\n"
            )
    return str(path)


def test_csv_parse_positional_contract(spark, bts_csv):
    df = read_bts_csv(spark, bts_csv)
    assert df.columns == [
        "year", "quarter", "month", "carrier",
        "arr_delay_minutes", "cancelled", "diverted", "raw_line",
    ]
    src = flights(spark, SF)
    key = ["year", "month", "carrier", "arr_delay_minutes",
           "cancelled", "diverted"]
    assert sorted(map(tuple, df.select(*key).collect())) == sorted(
        map(tuple, src.select(*key).collect())
    )


def test_quote_aware_parse(spark):
    # opencsv parity (HCompute/Main.java:88): quoted cells may contain commas.
    cells = ["x"] * N_COLS
    cells[0], cells[2] = "2008", "7"
    cells[6] = '"AA,weird"'
    cells[37], cells[41], cells[43] = "12.00", "0.00", "0.00"
    line = ",".join(cells)
    df = flights_from_lines(
        spark.createDataFrame([(line,)], ["raw_line"])
    )
    row = df.collect()[0]
    assert row.carrier == "AA,weird"
    assert row.year == 2008 and row.arr_delay_minutes == 12.0
    assert row.raw_line == line


def test_ingest_bronze_roundtrip(spark, bts_csv, tmp_path):
    bronze = str(tmp_path / "bronze")
    ingest_flights(spark, bts_csv, bronze)

    # Partition layout: the year filter becomes directory pruning.
    years = {d for d in os.listdir(bronze) if d.startswith("year=")}
    assert years == {"year=2007", "year=2008"}

    back = read_bronze(spark, bronze)
    n = back.count()
    assert n == flights(spark, SF).count()
    # T2: uuid rowkey present and unique.
    assert back.select("rowkey").distinct().count() == n
    # raw_line blob fidelity, like HPopulate's info:data cell.
    assert back.filter(F.length("raw_line") < 100).count() == 0

    # mode="ignore" == create-table-if-absent (S5): second run is a no-op.
    ingest_flights(spark, bts_csv, bronze)
    assert read_bronze(spark, bronze).count() == n

    # The flagship query over the bronze table matches the direct path.
    got = delay_report_from(back.drop("raw_line", "rowkey"))
    want = flight_delay_report(spark, SF)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_partition_pruning_in_plan(spark, bts_csv, tmp_path):
    bronze = str(tmp_path / "bronze")
    ingest_flights(spark, bts_csv, bronze)
    plan = (
        read_bronze(spark, bronze)
        .filter(F.col("year") == 2008)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "year" in plan


def test_text_sink_format(spark, tmp_path):
    # S4: key \t value lines, exact reference rendering (leading ", ").
    report = format_report(flight_delay_report(spark, SF))
    out = str(tmp_path / "report")
    write_report_text(report, out)
    lines = sorted(
        spark.read.text(out).rdd.map(lambda r: r.value).collect()
    )
    assert len(lines) == report.count()
    first = lines[0]
    key, _, rest = first.partition("\t")
    assert key.startswith("AIR-")
    assert rest.startswith(", (1,") and ", (12," in rest


def test_hbase_edge_is_gated(spark):
    """No HBase in this environment: the connector edge must fail with an
    actionable error, not an opaque ClassNotFound at action time."""
    import pytest as _pytest

    from hbase_hadoop_flightsearch_spark.sources.hbase import (
        HBaseConnectorUnavailable,
        flight_blob_catalog,
        read_flight_table,
    )

    with _pytest.raises(HBaseConnectorUnavailable, match="Parquet"):
        read_flight_table(spark)
    cat = flight_blob_catalog("FlightRecords")
    assert '"info"' in cat and '"data"' in cat  # reference cell layout


def test_compact_parquet_small_files(spark, tmp_path):
    """32 tiny files -> 1 compacted file, same rows, atomic swap (no
    .compacting/.old residue)."""
    import os

    from hbase_hadoop_flightsearch_spark.sources.ingest import (
        compact_parquet,
    )

    path = str(tmp_path / "frag")
    spark.range(10000).repartition(32).write.parquet(path)
    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert before == 32
    n = compact_parquet(spark, path)
    assert n == 1
    after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert after == 1
    assert spark.read.parquet(path).count() == 10000
    assert not os.path.exists(path + ".compacting")
    assert not os.path.exists(path + ".old")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned layout must turn a day filter into partition
    pruning: the scan's PartitionFilters carries the predicate and only
    the matching directory is read — at 100 TB this is the difference
    between scanning one day and scanning everything."""
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    path = str(tmp_path / "events_by_day")
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    (
        events.withColumn("day", F.to_date("ts"))
        .write.partitionBy("day")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("day") == "2024-01-05")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    want = events.filter(F.to_date("ts") == "2024-01-05").count()
    assert df.count() == want and want > 0


def test_compact_preserves_partitioned_layout(spark, tmp_path):
    """Compacting a Hive-partitioned table must keep the key=value
    directory layout (and therefore PartitionFilters pruning), not
    flatten the partition column into data files."""
    import os

    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table
    from hbase_hadoop_flightsearch_spark.sources.ingest import (
        compact_parquet,
    )

    path = str(tmp_path / "events_part")
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    (
        events.withColumn("day", F.to_date("ts"))
        .repartition(8)
        .write.partitionBy("day")
        .parquet(path)
    )
    want = spark.read.parquet(path).count()
    compact_parquet(spark, path)
    assert any(d.startswith("day=") for d in os.listdir(path))
    df = spark.read.parquet(path).filter(F.col("day") == "2024-01-05")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    assert spark.read.parquet(path).count() == want


def test_compact_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two swap renames leaves the table at `.old`
    and nothing live; the next compact_parquet call must restore and
    proceed rather than wedge."""
    import os

    from hbase_hadoop_flightsearch_spark.sources.ingest import (
        compact_parquet,
    )

    path = str(tmp_path / "tbl")
    spark.range(1000).repartition(4).write.parquet(path)
    # Simulate the crash window: live dir renamed away, swap incomplete.
    os.rename(path, path + ".old")
    n = compact_parquet(spark, path)
    assert n == 1
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + ".old")


def test_dynamic_partition_overwrite_restates_only_touched_partitions(
    spark, tmp_path
):
    """The incremental-maintenance contract: overwriting one partition's
    worth of corrected rows must not rewrite (or delete) sibling
    partitions — verified via file inventory, not just row values."""
    import os

    from hbase_hadoop_flightsearch_spark.sources.ingest import (
        overwrite_partitions_dynamic,
    )

    path = str(tmp_path / "rollup")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0),
         ("2024-01-02", 1, 30.0), ("2024-01-03", 9, 90.0)],
        "day string, k int, v double",
    )
    base.write.partitionBy("day").parquet(path)

    def files_for(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        )

    before_d2 = files_for("2024-01-02")
    before_d3 = files_for("2024-01-03")

    # Restate day 1 only (late-arriving correction).
    fix = spark.createDataFrame(
        [("2024-01-01", 1, 11.0), ("2024-01-01", 3, 33.0)],
        "day string, k int, v double",
    )
    overwrite_partitions_dynamic(fix, path, "day")

    # Untouched partitions: identical file lists (not rewritten).
    assert files_for("2024-01-02") == before_d2
    assert files_for("2024-01-03") == before_d3

    got = {
        # partition-column type inference reads `day` back as DATE
        (str(r["day"]), r["k"]): r["v"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("2024-01-01", 1): 11.0,  # replaced
        ("2024-01-01", 3): 33.0,  # replaced partition's new row
        ("2024-01-02", 1): 30.0,  # untouched
        ("2024-01-03", 9): 90.0,  # untouched
    }
    # and the session default wasn't mutated by the scoped option
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "static"
    )


def test_schema_evolution_merge_read(spark, tmp_path):
    """Additive schema evolution: later files may add columns; a
    mergeSchema read unions the schemas and back-fills NULL — the
    contract that lets a 100 TB table evolve without rewriting history."""
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    v1.write.parquet(path + "/batch=1")
    v2 = spark.createDataFrame(
        [(2, "b", 0.5)], "id long, name string, score double"
    )
    v2.write.parquet(path + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score", "batch"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None  # back-filled for pre-evolution files
    assert rows[2]["score"] == 0.5


def test_orc_source_roundtrip(spark, tmp_path):
    """ORC source/sink contract: the second columnar format Spark ships
    natively — schema-preserving lossless roundtrip incl. timestamps, so
    an ORC-resident warehouse can adopt every query unchanged."""
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    orders = load_table(spark, SF, "orders")
    path = str(tmp_path / "orders_orc")
    orders.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == orders.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, orders.collect())
    )


def test_json_source_roundtrip(spark, tmp_path):
    """JSONL source/sink contract: schema-preserving lossless roundtrip of
    a typed table (timestamps included) through the JSON format."""
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    orders = load_table(spark, SF, "orders")
    path = str(tmp_path / "orders_json")
    orders.write.json(path)
    back = spark.read.schema(orders.schema).json(path)
    assert back.schema == orders.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, orders.collect())
    )


def test_cli_jobs_match_reference_shapes(spark, bts_csv, tmp_path):
    """python -m hbase_hadoop_flightsearch_spark: the three reference jobs
    (ingest/report/direct) driven through the CLI dispatcher. ingest+report
    and direct must produce byte-identical report files, shaped like the
    reference's TextOutputFormat (AIR-<carrier>\\t, (m,v) x12)."""
    import os
    import re

    from hbase_hadoop_flightsearch_spark.__main__ import main

    bronze = str(tmp_path / "bronze")
    out_a = str(tmp_path / "report_via_bronze")
    out_b = str(tmp_path / "report_direct")
    # main() reuses the live test session via getOrCreate and must NOT
    # stop it (it only stops sessions it created itself).
    assert main(["ingest", str(bts_csv), bronze]) == 0
    assert main(["report", bronze, out_a]) == 0
    assert main(["direct", str(bts_csv), out_b]) == 0
    assert spark.range(1).count() == 1  # session survived all three jobs

    def read_report(d):
        lines = []
        for f in os.listdir(d):
            if f.startswith("part-"):
                with open(os.path.join(d, f)) as fh:
                    lines += [l.rstrip("\n") for l in fh if l.strip()]
        return sorted(lines)

    a, b = read_report(out_a), read_report(out_b)
    assert a == b and a
    pat = re.compile(r"^AIR-[A-Z0-9]+\t(, \(\d+,\d+\)){12}$")
    for line in a:
        assert pat.match(line), line

    # Edge lines, CRLF-terminated: `report` reads the columns ingest
    # parsed, `direct` parses through the CSV source, which drops the
    # blank lines ingest keeps as all-NULL rows. Both must still agree.
    good = _bts_line(2008, 1, 3, "ZZ", 10.0, 0.0, 0.0)
    quoted = good.split(",")
    quoted[10] = '"a,b"'  # a quote-unaware split shifts every later field
    quoted[37] = "20.00"
    edge = [
        good,
        ",".join(quoted),
        "2008,1,3",
        "2008,1,3,x,x,x,ZZ",
        good.replace("2008", "notayear", 1),
        good.replace(",10.00,", ",garbage,", 1).replace(",3,", ",4,", 1),
        ',,,"unterminated,quote',
        "",
        "   ",
    ]
    csv = tmp_path / "edge.csv"
    with open(bts_csv) as src, open(csv, "w", newline="") as dst:
        dst.write(src.read() + "\r\n".join(edge) + "\r\n")
    bronze = str(tmp_path / "bronze_edge")
    out_a = str(tmp_path / "report_edge_via_bronze")
    out_b = str(tmp_path / "report_edge_direct")
    assert main(["ingest", str(csv), bronze]) == 0
    assert main(["report", bronze, out_a]) == 0
    assert main(["direct", str(csv), out_b]) == 0
    # ingest keeps every line, blank ones included
    assert read_bronze(spark, bronze).count() == spark.read.text(
        str(csv)
    ).count()
    a, b = read_report(out_a), read_report(out_b)
    assert a == b
    zz = "AIR-ZZ\t" + "".join(
        f", ({m},{16 if m == 3 else 0})" for m in range(1, 13)
    )
    assert zz in a


def _cli_report_plan(monkeypatch, argv):
    """Physical plan of the report a CLI job writes (the text sink is
    replaced by a plan capture)."""
    from hbase_hadoop_flightsearch_spark import __main__ as cli
    from hbase_hadoop_flightsearch_spark.sources import ingest

    seen = []
    monkeypatch.setattr(
        ingest,
        "write_report_text",
        lambda df, out: seen.append(
            df._jdf.queryExecution().executedPlan().toString()
        ),
    )
    assert cli.main(argv) == 0
    (plan,) = seen
    return plan


def test_report_scans_typed_bronze_columns(
    spark, bts_csv, tmp_path, monkeypatch
):
    """Parse once: `report` reads the typed columns ingest wrote (no
    raw_line, no re-parse), and the year filter still prunes partitions."""
    bronze = str(tmp_path / "bronze")
    ingest_flights(spark, bts_csv, bronze)
    plan = _cli_report_plan(
        monkeypatch, ["report", bronze, str(tmp_path / "out")]
    )
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "raw_line" not in read_schema, read_schema
    assert "from_csv" not in plan
    assert "PartitionFilters: [isnotnull(year" in plan, plan
    assert "(year#" in plan.split("PartitionFilters: ")[1].split("]")[0]


def test_direct_csv_scan_reads_only_report_fields(
    spark, bts_csv, tmp_path, monkeypatch
):
    """`direct` goes through the CSV source, whose column pruning leaves
    exactly the six positional fields the report uses."""
    plan = _cli_report_plan(
        monkeypatch, ["direct", bts_csv, str(tmp_path / "out")]
    )
    assert "FileScan csv" in plan
    assert "from_csv" not in plan
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert read_schema == (
        "struct<_c0:string,_c2:string,_c6:string,"
        "_c37:string,_c41:string,_c43:string>"
    ), read_schema


def test_malformed_lines_never_crash_ingest(spark, tmp_path):
    """Robustness the reference lacks (a malformed line crashes its
    mapper on ArrayIndexOutOfBounds / NumberFormatException): short rows,
    non-numeric fields, stray quotes, and empty lines must flow through
    the try_cast parse as NULL-typed rows, not exceptions, and stay
    filterable downstream."""
    from hbase_hadoop_flightsearch_spark.sources.ingest import read_bts_csv

    bad = tmp_path / "bad.csv"
    good = _bts_line(2008, 1, 1, "AA", 12.0, 0.0, 0.0)
    bad.write_text(
        "\n".join(
            [
                good,
                "too,short,row",
                good.replace("2008", "notayear", 1),
                ',,,"unterminated,quote',
                "",
                good,
            ]
        )
    )
    df = read_bts_csv(spark, str(bad))
    rows = df.collect()  # must not raise
    assert len(rows) >= 5  # empty line may drop; nothing else may
    ok = [r for r in rows if r.year == 2008 and r.carrier == "AA"]
    assert len(ok) == 2  # the two good lines parse fully
    # Malformed rows surface as NULLs, so the flagship's filter-and-agg
    # path simply excludes them.
    from hbase_hadoop_flightsearch_spark.plans.delay_report import (
        delay_report_from,
    )

    report = delay_report_from(df).collect()
    assert len(report) == 1 and report[0]["carrier"] == "AA"


def test_cli_query_and_list(spark, sf_smoke, tmp_path, capsys):
    """The generic `query` front door must run any registered query by
    name to a chosen sink format, and `list` must enumerate the whole
    registry — the switch-over surface for a reference user."""
    from hbase_hadoop_flightsearch_spark.__main__ import main
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    out = str(tmp_path / "q_out")
    rc = main(["query", "agg_q1_pricing_summary", sf_smoke, out,
               "--format", "csv"])
    assert rc == 0
    got = spark.read.option("header", "true").csv(out)
    want = load_all()["agg_q1_pricing_summary"].fn(spark, sf_smoke)
    assert got.count() == want.count() > 0
    assert set(got.columns) == set(want.columns)

    rc = main(["list"])
    assert rc == 0
    listed = capsys.readouterr().out
    assert "flight_delay_report" in listed
    assert len(listed.strip().splitlines()) == len(load_all())

    rc = main(["query", "no_such_query", sf_smoke, "-"])
    assert rc == 2


def test_dynamic_partition_pruning_on_dim_join(spark, tmp_path):
    """DYNAMIC partition pruning (runtime, not static): a fact table
    partitioned by region key, joined to a FILTERED dimension, must
    carry a dynamicpruning#N subquery in its PartitionFilters — Catalyst
    prunes fact partitions from the dim filter's runtime result, the
    plan feature that makes star joins over partitioned 100 TB facts
    read only the matching slices."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 10000).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("region_key"),
        (F.col("id") * 3).alias("val"),
    )
    path = str(tmp_path / "fact_parted")
    fact.write.partitionBy("region_key").parquet(path)
    dim = spark.createDataFrame(
        [(0, "keep"), (1, "drop"), (2, "drop"), (3, "drop"), (4, "drop")],
        "region_key long, name string",
    )
    f = spark.read.parquet(path)
    joined = (
        f.join(dim.filter(F.col("name") == "keep"), "region_key")
        .groupBy("region_key")
        .agg(F.sum("val").alias("s"))
    )
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]
    rows = joined.collect()
    assert len(rows) == 1 and rows[0]["region_key"] == 0
