"""Ingest path — the HPopulate-equivalent ETL (SURVEY.md §3.1, §7 Phase 1).

The reference's ingest job (HPopulate/Main.java) reads headerless BTS
On-Time Performance CSV from HDFS (S1, :50), parses each line with opencsv
only to DISCARD the parse (:96), tags a random-UUID rowkey (T2, :97-98) and
writes the whole raw line as one HBase cell per record — one synchronous
RPC per row (S3 anti-pattern, :100) into table FlightTable created on the
fly (S5, :54-73).

Spark-first redesign (not a translation):
  * the parse is KEPT (schema-on-write): a quote-aware `from_csv` pulls the
    six columns the queries touch (HCompute/Main.java:75-81) into typed
    fields once, and `report` scans them back instead of re-parsing;
    `raw_line` keeps full fidelity like the reference's blob cell and
    feeds the HBase-shaped read path (`sources/hbase.py`);
  * `direct` reads through the CSV source (`read_bts_columns`), whose
    column pruning parses only the fields the report uses;
  * the sink is columnar Parquet partitioned by year — the year filter
    (F1) becomes partition pruning instead of the full scan the reference's
    random rowkeys force;
  * writes are batched per partition by the Parquet writer — the
    per-record-RPC pattern disappears structurally;
  * `mode("ignore")` reproduces create-table-if-absent semantics (S5).

At 100 TB: ingest is a single embarrassingly-parallel scan→project→write
with zero shuffles (`.explain` shows no Exchange); files-per-partition is
governed by maxPartitionBytes on the read side, so executor memory is
bounded regardless of input size.
"""

from __future__ import annotations

import math
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import BTS_INDICES

# Positional CSV schema wide enough to reach the highest index the
# reference touches (43 = Diverted; HCompute/Main.java:75-81). Columns past
# that are irrelevant to every query and stay inside raw_line.
_N_POSITIONAL = max(BTS_INDICES.values()) + 1
_POSITIONAL_SCHEMA = T.StructType(
    [T.StructField(f"_c{i}", T.StringType()) for i in range(_N_POSITIONAL)]
)

_TYPES = {
    "year": "int",
    "quarter": "int",
    "month": "int",
    "carrier": "string",
    "arr_delay_minutes": "double",
    "cancelled": "double",
    "diverted": "double",
}


def parse_bts_line(line: F.Column) -> F.Column:
    """Quote-aware positional parse of one raw BTS CSV line (P1).

    The reference uses opencsv's CSVParser.parseLine (HCompute/Main.java:88)
    — quote-aware, comma-separated. `from_csv` matches that contract
    JVM-side (no Python in the path)."""
    return F.from_csv(line, _POSITIONAL_SCHEMA.simpleString())


def _typed_columns(prefix: str = "") -> list[F.Column]:
    """T1: the positional string fields `<prefix>_c<i>` cast to the typed
    flights columns.

    try_cast, not cast: real BTS exports carry empty/garbage cells in
    columns the queries never read for a given row (e.g. ArrDelayMinutes
    is blank on cancelled flights). Under ANSI mode a plain cast would
    kill a 100 TB ingest on the first such cell; NULL is the correct
    schema-on-write answer (the reference never parses those cells either
    — filters gate emission before the delay parse, HCompute/Main.java:90)."""
    return [
        F.col(f"{prefix}_c{idx}").try_cast(_TYPES[name]).alias(name)
        for name, idx in BTS_INDICES.items()
    ]


def flights_from_lines(df: DataFrame, line_col: str = "raw_line") -> DataFrame:
    """raw-line DataFrame -> typed flights columns + preserved raw_line.

    This is the P1+P2+T1 stack (parse, project, cast) as one codegen'd
    projection; it serves ingest and the HCompute-style read of a stored
    line column (the HBase blob scan)."""
    parsed = df.withColumn("_p", parse_bts_line(F.col(line_col)))
    return parsed.select(
        *_typed_columns("_p."), F.col(line_col).alias("raw_line")
    )


def read_bts_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1: headerless CSV scan. Reads each line whole (like
    TextInputFormat), then parses positionally — preserving the raw line
    for blob-fidelity with HPopulate's info:data cell."""
    raw = spark.read.text(path).withColumnRenamed("value", "raw_line")
    return flights_from_lines(raw)


def read_bts_columns(spark: SparkSession, path: str) -> DataFrame:
    """Headerless CSV scan -> typed flights columns, no raw_line. Same
    parser and options as `parse_bts_line`, but the CSV source's column
    pruning parses only the fields a query reads. Unlike `read_bts_csv`,
    blank lines are dropped, not kept as all-NULL rows."""
    csv = spark.read.schema(_POSITIONAL_SCHEMA).csv(path)
    return csv.select(*_typed_columns())


def ingest_flights(
    spark: SparkSession,
    csv_path: str,
    bronze_path: str,
    mode: str = "ignore",
) -> None:
    """The whole HPopulate job: CSV -> typed bronze Parquet.

    T2 uuid rowkey kept for fidelity (HPopulate/Main.java:97-98) even
    though Parquet needs no key; partitionBy("year") turns the flagship's
    year==2008 filter into partition pruning; mode 'ignore' == create-table-
    if-absent (S5)."""
    (
        read_bts_csv(spark, csv_path)
        .withColumn("rowkey", F.expr("uuid()"))
        .write.mode(mode)
        .partitionBy("year")
        .parquet(bronze_path)
    )


def read_bronze(spark: SparkSession, bronze_path: str) -> DataFrame:
    """S2-equivalent: scan of the ingested table. Unlike the reference's
    HBase full scan, year-filtered reads prune whole partitions."""
    return spark.read.parquet(bronze_path)


def write_report_text(report: DataFrame, path: str) -> None:
    """S4: TextOutputFormat-style `key \\t value` lines (HCompute/
    Main.java:64-67). Expects the (report_key, report_line) shape produced
    by plans.delay_report.format_report."""
    (
        report.select(
            F.concat_ws("\t", F.col("report_key"), F.col("report_line")).alias(
                "value"
            )
        ).write.mode("overwrite").text(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Table maintenance: rewrite a parquet directory into
    ceil(total_bytes / target_file_bytes) files and return the new file
    count.

    Why this is a first-class 100 TB operator: streaming ingest and
    per-microbatch writes leave thousands of KB-sized files; every
    downstream scan then pays one file-open + footer-read per file and
    the scheduler pays one split per file. Compaction restores
    maxPartitionBytes-sized splits. The rewrite is shuffle-free
    (coalesce, not repartition) and Hive-partitioned layouts are
    preserved — partition directories are re-written with partitionBy,
    so downstream PartitionFilters pruning keeps working.

    Crash behavior: the rewrite goes to a `.compacting` temp dir, so a
    failed REWRITE never touches the live table. The final two-rename
    swap is not atomic (local/HDFS rename has a window where `path` is
    absent); a crash there leaves the data intact in `.old`, and the
    next call recovers it automatically before compacting. True atomic
    swap needs a metadata-commit table format (Delta/Iceberg) — this is
    the directory-layout equivalent, with explicit crash recovery.
    """
    tmp = path.rstrip("/") + ".compacting"
    live = path.rstrip("/") + ".old"
    # Recover from a previous crash: a stale .old with no live dir means
    # the swap died between renames — restore it. Stale temp output is
    # always safe to discard.
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(live):
        if os.path.exists(path):
            shutil.rmtree(live)  # swap completed; only cleanup was lost
        else:
            os.rename(live, path)
    total = sum(
        f.stat().st_size for f in Path(path).rglob("*.parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    # key=value subdirectories are Hive partition columns; preserve them.
    part_cols = sorted(
        {
            d.name.split("=", 1)[0]
            for d in Path(path).iterdir()
            if d.is_dir() and "=" in d.name
        }
    )
    df = spark.read.parquet(path)
    writer = df.coalesce(n_files).write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(tmp)
    os.rename(path, live)
    os.rename(tmp, path)
    shutil.rmtree(live)
    return n_files


def overwrite_partitions_dynamic(df: DataFrame, path: str, part_col: str) -> None:
    """Incremental batch maintenance: rewrite ONLY the partitions present
    in `df`, leaving all other partitions' files untouched (the batch
    equivalent of a MERGE-by-partition — at 100 TB you restate the late
    day, not the table).

    Uses `partitionOverwriteMode=dynamic` scoped to this write via the
    DataFrameWriter option, so the session default ("static", which would
    truncate the whole table) is not disturbed.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )
