"""Command-line entry points mirroring the reference's three jobs.

The reference ships three `main(args)` programs (O3 orchestration):
  HPopulate  <csv>            -> HBase table          (HPopulate/Main.java:54)
  HCompute   <out>            -> delay report         (HCompute/Main.java:40)
  Secondary  <csv> <out>      -> delay report         (Secondary/Main.java:180)

A user switching from the reference drives the same three jobs here:

  python -m hbase_hadoop_flightsearch_spark ingest  <csv> <bronze>
  python -m hbase_hadoop_flightsearch_spark report  <bronze> <out>
  python -m hbase_hadoop_flightsearch_spark direct  <csv> <out>

`ingest` is HPopulate (CSV -> year-partitioned bronze Parquet, parsed
once into typed columns plus the raw line), `report` is HCompute (a
column-pruned, year-pruned scan of bronze's typed columns -> quirk-exact
formatted delay report as key\\tvalue text), `direct` is Secondary (CSV
-> report with no intermediate table; the CSV reader materializes only
the fields the report uses). Output bytes match the reference's
TextOutputFormat rendering (AIR- key prefix, leading ', ' month list).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="hbase_hadoop_flightsearch_spark",
        description="Reference-parity jobs on Spark",
    )
    sub = parser.add_subparsers(dest="job", required=True)
    p_ing = sub.add_parser("ingest", help="HPopulate: CSV -> bronze parquet")
    p_ing.add_argument("csv")
    p_ing.add_argument("bronze")
    p_rep = sub.add_parser("report", help="HCompute: bronze -> delay report")
    p_rep.add_argument("bronze")
    p_rep.add_argument("out")
    p_dir = sub.add_parser("direct", help="Secondary: CSV -> delay report")
    p_dir.add_argument("csv")
    p_dir.add_argument("out")
    p_q = sub.add_parser(
        "query",
        help="Run ANY registered query by name over a testdata dir",
    )
    p_q.add_argument("name", help="registry name (see `list`)")
    p_q.add_argument("sf_dir", help="dir holding the parquet tables")
    p_q.add_argument("out", help="output path, or '-' to print 20 rows")
    p_q.add_argument(
        "--format", default="parquet", choices=["parquet", "csv", "json"]
    )
    sub.add_parser("list", help="List every registered query with its doc")
    args = parser.parse_args(argv)

    if args.job == "list":
        from .plans.registry import load_all

        for q in load_all().values():
            first = (q.doc or "").split(". ")[0].strip()
            print(f"{q.name}\t{first}")
        return 0

    from .plans.delay_report import delay_report_from, format_report
    from .schemas import BTS_INDICES
    from .session import get_spark
    from .sources.ingest import (
        ingest_flights,
        read_bronze,
        read_bts_columns,
        write_report_text,
    )

    from pyspark.sql import SparkSession

    # Only stop a session this invocation created: under getOrCreate a
    # pre-existing session (e.g. the test harness's) must survive the job.
    # getActiveSession is thread-local, so ALSO check the process-wide
    # default — a session created by another thread (or not yet activated
    # in this one) is still reused by getOrCreate and must not be stopped.
    # PySpark exposes no public getDefaultSession (that's the Scala API);
    # _instantiatedSession is its long-stable Python equivalent.
    preexisting = (
        SparkSession.getActiveSession() is not None
        or SparkSession._instantiatedSession is not None
    )
    spark = get_spark(app_name=f"flightsearch-{args.job}")
    try:
        if args.job == "ingest":
            ingest_flights(spark, args.csv, args.bronze)
        elif args.job == "report":
            # Parse once: ingest already wrote the typed columns, from the
            # same raw line and the same parse, so the report reads them
            # directly (the reference must re-parse its info:data blob,
            # HCompute/Main.java:88). The scan reads only the columns the
            # report uses, never raw_line, and the year filter on the
            # partition column prunes to year=2008 instead of the full
            # scan the reference's random rowkeys force.
            from pyspark.sql import functions as F

            fl = (
                read_bronze(spark, args.bronze)
                .filter(F.col("year") == 2008)
                .select(*BTS_INDICES)
            )
            write_report_text(
                format_report(delay_report_from(fl)), args.out
            )
        elif args.job == "direct":
            fl = read_bts_columns(spark, args.csv)
            write_report_text(
                format_report(delay_report_from(fl)), args.out
            )
        else:  # query
            from .plans.registry import load_all

            reg = load_all()
            if args.name not in reg:
                print(
                    f"unknown query {args.name!r}; run `list` for names",
                    file=sys.stderr,
                )
                return 2
            df = reg[args.name].fn(spark, args.sf_dir)
            if args.out == "-":
                df.show(20, truncate=False)
            else:
                w = df.write.mode("overwrite")
                if args.format == "csv":
                    w = w.option("header", "true")
                w.format(args.format).save(args.out)
    finally:
        if not preexisting:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
