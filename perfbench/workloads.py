"""The two workloads: the reference job chain and a set of registry seats.

Each workload prepares its inputs from the seed (with the expected outputs
computed independently of the engine), runs passes of operations, checks
every output and, in a traced run, records per-layer spans.
"""

from __future__ import annotations

import hashlib
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import btsgen
from perfbench.trace import Tracer, driver_gap, self_values
from tests.oracle_utils import _norm_value, duckdb_con

PKG = "hbase_hadoop_flightsearch_spark"

# Lines of the generated BTS CSV (~327 bytes each).
REFCHAIN_ROWS = 120_000

# The seat corpus is tools/gen_altseed.py at this size multiplier of its
# sf0.01 base, with the events user domain scaled alike so per-user event
# density matches the driver fixtures.
SEAT_SCALE = 1

# The `seats` workload: one headline seat per module named below. The
# relational seats are JVM-only and bound by job and stage scheduling; the
# LLM-pipeline seats spend their time in Arrow Python workers and in
# iterative driver loops that run jobs while the plan is built. The other
# headline seats of these modules (flight_otp_ranking,
# flight_connection_search, flight_connection_search_hourband,
# join_q5_region_revenue, dedup_image_phash, dedup_substring_spans) are
# left out to keep a run, with its cold pass and three warm passes, inside
# the benchmark's time budget. operators.aggregates runs
# agg_multi_distinct_expand rather than its headline agg_q1_pricing_summary:
# on some seeds a q1 sum lands exactly on a half cent, where Spark's ROUND
# (decimal HALF_UP) and its DuckDB oracle's ROUND of a double disagree, so
# the seat fails its oracle check (seed 2144569713: sum_disc_price of
# A/O is 278313869.28 against the oracle's 278313869.27).
RELATIONAL_SEATS = [
    "flight_delay_report",
    "join_q3_shipping_priority",
    "join_q2_min_cost_supplier",
    "agg_multi_distinct_expand",
    "stream_tumbling_event_counts",
]
LLM_PIPELINE_SEATS = [
    "dedup_ngram_jaccard",
    "similarity_knn_bruteforce",
    "pipeline_corpus_prep_neardup",
    "graph_kcore",
    "ts_holt_winters_additive",
    "multimodal_jpeg_pixel_stats",
]
SEATS = RELATIONAL_SEATS + LLM_PIPELINE_SEATS
SEAT_MODULES = [  # per-layer names, relative to the package
    "plans.delay_report", "operators.joins", "operators.subqueries",
    "operators.aggregates", "streaming.windows",
    "operators.dedup", "operators.similarity", "plans.pipelines",
    "operators.graph", "operators.timeseries", "functions.multimodal",
]
SEAT_COUNTERS = (
    "build_s", "exec_s", "jobs", "stages", "tasks", "executor_run_s",
    "executor_cpu_s", "shuffle_write_bytes", "driver_gap_s",
)
REFCHAIN_LAYERS = [
    "sources.ingest.read_bts_csv",
    "sources.ingest.ingest_flights",
    "sources.ingest.read_bronze",
    "plans.delay_report.delay_report_from",
    "sources.ingest.write_report_text",
]
REFCHAIN_JOBS = ["ingest", "report", "direct"]


def per_layer_names() -> list[str]:
    """Every per-layer metric, in a fixed order (BENCHMARK.json)."""
    names = ["session.get_spark_s", "bench.trace_overhead_s",
             "bench.peak_rss_mb"]
    names += [f"main.{j}_s" for j in REFCHAIN_JOBS]
    names += ["sources.ingest.bronze_bytes",
              "sources.ingest.bronze_bytes_per_input_byte"]
    for layer in REFCHAIN_LAYERS:
        names += [f"{layer}_s", f"{layer}.executor_cpu_s",
                  f"{layer}.input_bytes", f"{layer}.output_bytes"]
    names += [f"{m}.{c}" for m in SEAT_MODULES for c in SEAT_COUNTERS]
    return names


class OpFailed(Exception):
    """An operation's output did not match its expected value."""


def _failure(op: str, exc: BaseException) -> None:
    print(f"perfbench: {op} FAILED", file=sys.stderr)
    traceback.print_exception(exc, file=sys.stderr)


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*.parquet"))


# --------------------------------------------------------------- refchain


class RefChain:
    """ingest (HPopulate), report (HCompute) and direct (Secondary), run
    in-process through the CLI entry point on a generated BTS CSV."""

    ops = REFCHAIN_JOBS

    def __init__(self, spark, workdir: Path, seed: int):
        from hbase_hadoop_flightsearch_spark.__main__ import main

        self.spark, self.workdir, self._main = spark, workdir, main
        gen = btsgen.generate(REFCHAIN_ROWS, seed)
        self.csv = workdir / "flights.csv"
        self.csv.write_bytes(gen.data)
        self.n_rows = REFCHAIN_ROWS
        self.expected = btsgen.expected_report(gen)
        self.bronze_bytes = 0
        self._pass = 0

    def _paths(self, tag) -> dict[str, Path]:
        return {j: self.workdir / f"{j}-{tag}" for j in REFCHAIN_JOBS}

    def _argv(self, job: str, paths: dict[str, Path]) -> list[str]:
        if job == "ingest":
            return ["ingest", str(self.csv), str(paths["ingest"])]
        if job == "report":
            return ["report", str(paths["ingest"]), str(paths["report"])]
        return ["direct", str(self.csv), str(paths["direct"])]

    def _check(self, job: str, paths: dict[str, Path]) -> None:
        out = paths[job]
        if job == "ingest":
            # Row counts from the Parquet footers, so the check runs no
            # Spark job that would warm the reader before `report`.
            years = sorted(p.name for p in out.glob("year=*"))
            rows = sum(pq.ParquetFile(f).metadata.num_rows
                       for f in out.rglob("*.parquet"))
            if years != ["year=2007", "year=2008"] or rows != self.n_rows:
                raise OpFailed(f"bronze has {years}, {rows} rows")
            self.bronze_bytes = _dir_bytes(out)
            return
        lines = []
        for part in sorted(out.glob("part-*")):
            lines += part.read_text().splitlines()
        if sorted(lines) != self.expected:
            raise OpFailed(
                f"{job}: {len(lines)} lines differ from the "
                f"{len(self.expected)} expected"
            )

    def run_pass(self, cold: bool, tracer: Tracer | None = None):
        """One ingest -> report -> direct chain; returns per-job seconds
        and the names of the jobs that failed."""
        paths = self._paths(self._pass)
        self._pass += 1
        times, failed = {}, []
        root = tracer.open("main.pass") if tracer else None
        for job in REFCHAIN_JOBS:
            span = tracer.open(f"main.{job}", root) if tracer else None
            t0 = time.perf_counter()
            try:
                rc = self._main(self._argv(job, paths))
                times[job] = time.perf_counter() - t0
                if span:
                    tracer.close(span)
                    span = None
                if rc != 0:
                    raise OpFailed(f"{job} exited {rc}")
                self._check(job, paths)
            except Exception as exc:  # a failed job is counted, not fatal
                if span:
                    tracer.close(span)
                _failure(job, exc)
                failed.append(job)
        if root:
            tracer.close(root)
        for p in paths.values():
            shutil.rmtree(p, ignore_errors=True)
        return times, failed

    def layer_pass(self, tracer: Tracer) -> dict[str, float]:
        """Materialise each layer at its own boundary (noop writes, plus the
        real bronze and text writes) and return the refchain per-layer
        metrics. A consuming layer's span has the layers it reads from as
        children, so its self time is the work it adds."""
        from pyspark.sql import functions as F

        from hbase_hadoop_flightsearch_spark.plans.delay_report import (
            delay_report_from,
            format_report,
        )
        from hbase_hadoop_flightsearch_spark.sources.ingest import (
            flights_from_lines,
            ingest_flights,
            read_bronze,
            read_bts_csv,
            write_report_text,
        )

        spark, csv = self.spark, str(self.csv)
        paths = self._paths("layers")

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def span(name, fn, children=()):
            s = tracer.open(name)
            fn()
            tracer.close(s)
            for c in children:
                c.parent = s.span_id
            return s

        def bronze_2008():
            return flights_from_lines(
                read_bronze(spark, str(paths["ingest"]))
                .filter(F.col("year") == 2008)
                .select("raw_line")
            )

        csv_l, ingest_l, bronze_l, report_l, text_l = REFCHAIN_LAYERS
        first = len(tracer.spans)
        # ingest: CSV parse, then the bronze write on top of it
        c = span(csv_l, lambda: noop(read_bts_csv(spark, csv)))
        span(ingest_l, lambda: ingest_flights(
            spark, csv, str(paths["ingest"])), [c])
        # report: pruned bronze scan + re-parse, aggregate, text sink
        b = span(bronze_l, lambda: noop(bronze_2008()))
        r = span(report_l, lambda: noop(delay_report_from(bronze_2008())), [b])
        span(text_l, lambda: write_report_text(
            format_report(delay_report_from(bronze_2008())),
            str(paths["report"])), [r])
        # direct: CSV parse, aggregate, text sink
        c = span(csv_l, lambda: noop(read_bts_csv(spark, csv)))
        r = span(report_l, lambda: noop(
            delay_report_from(read_bts_csv(spark, csv))), [c])
        span(text_l, lambda: write_report_text(
            format_report(delay_report_from(read_bts_csv(spark, csv))),
            str(paths["direct"])), [r])

        spans = tracer.spans[first:]
        st = self_values(spans, lambda s: s.duration)
        cpu = self_values(spans, lambda s: s.counters["executor_cpu_s"])
        out = dict.fromkeys(
            [f"{n}{suffix}" for n in REFCHAIN_LAYERS for suffix in
             ("_s", ".executor_cpu_s", ".input_bytes", ".output_bytes")], 0.0
        )
        for s in spans:
            out[f"{s.name}_s"] += st[s.span_id]
            out[f"{s.name}.executor_cpu_s"] += cpu[s.span_id]
            out[f"{s.name}.input_bytes"] += s.counters["input_bytes"]
            out[f"{s.name}.output_bytes"] += s.counters["output_bytes"]
        for job in ("report", "direct"):
            self._check(job, paths)
        out["sources.ingest.bronze_bytes"] = _dir_bytes(paths["ingest"])
        for p in paths.values():
            shutil.rmtree(p, ignore_errors=True)
        return out

    def summary(self) -> dict[str, float]:
        return {
            "bronze_bytes": self.bronze_bytes,
            "bronze_bytes_per_input_byte":
                self.bronze_bytes / self.csv.stat().st_size,
        }


# ------------------------------------------------------------------ seats


def result_digest(cols: list[str], rows) -> tuple:
    """(sorted column names, row count, order-insensitive row hash): the
    per-row hashes of the rows normalised as tests/oracle_utils.py does,
    columns in name order, summed modulo 2**64."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total, n = 0, 0
    for r in rows:
        key = repr(tuple(_norm_value(r[i]) for i in order)).encode()
        total += int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(),
                                "little")
        n += 1
    return tuple(sorted(cols)), n, total % (1 << 64)


def render_seat_corpus(root: Path, outdir: Path, seed: int) -> None:
    """tools/gen_altseed.py at SEAT_SCALE, in a child interpreter (the
    generator keeps its sizes in module globals)."""
    shutil.rmtree(outdir, ignore_errors=True)
    subprocess.run(
        [sys.executable, str(root / "tools" / "gen_altseed.py"), str(outdir),
         str(seed), str(SEAT_SCALE), str(150 * SEAT_SCALE)],
        check=True, stdout=subprocess.DEVNULL,
    )


def oracle_digests(corpus: Path, queries, threads: int) -> dict[str, tuple]:
    """Each seat's expected digest from its DuckDB oracle (the registered
    large-corpus restatement where there is one)."""
    con = duckdb_con(str(corpus))
    try:
        con.execute(f"SET threads = {threads}")
        out = {}
        for q in queries:
            res = con.execute(q.oracle_scale or q.oracle)
            out[q.name] = result_digest(
                [d[0] for d in res.description], res.fetchall()
            )
        return out
    finally:
        con.close()


class Seats:
    """Headline registry seats run back to back, as the CLI `query`
    subcommand runs them (default conf, no per-seat pins)."""

    def __init__(self, spark, workdir: Path, seed: int, root: Path,
                 threads: int):
        from hbase_hadoop_flightsearch_spark.plans.registry import load_all

        self.spark = spark
        reg = load_all()
        self.queries = [reg[n] for n in SEATS]
        self.ops = SEATS
        self.corpus = workdir / "corpus"
        render_seat_corpus(root, self.corpus, seed)
        self.expected = oracle_digests(self.corpus, self.queries, threads)

    def run_pass(self, cold: bool, tracer: Tracer | None = None):
        """One pass over the seats. The cold pass fetches every result and
        checks it against the oracle digest (the check is not timed); warm
        passes write to the `noop` sink. Returns per-seat seconds and the
        seats that failed."""
        from hbase_hadoop_flightsearch_spark.operators.ranks import (
            release_rank_bases,
        )

        times, failed = {}, []
        root = tracer.open("seats.pass") if tracer else None
        for q in self.queries:
            mod = q.fn.__module__.removeprefix(PKG + ".")
            try:
                t0 = time.perf_counter()
                span = tracer.open(f"{mod}.build", root, seat=q.name) \
                    if tracer else None
                df = q.fn(self.spark, str(self.corpus))
                if span:
                    tracer.close(span)
                    span = tracer.open(f"{mod}.exec", root, seat=q.name)
                if cold:
                    rows = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
                times[q.name] = time.perf_counter() - t0
                if span:
                    tracer.close(span)
                    span = None
                if cold:
                    got = result_digest(df.columns, rows)
                    if got != self.expected[q.name]:
                        raise OpFailed(
                            f"{q.name}: got {got[:2]}, oracle "
                            f"{self.expected[q.name][:2]} (or hash differs)"
                        )
            except Exception as exc:  # a failed seat is counted, not fatal
                if tracer and span:
                    tracer.close(span)
                _failure(q.name, exc)
                failed.append(q.name)
            finally:
                release_rank_bases()
        if root:
            tracer.close(root)
        return times, failed

    def module_metrics(self, tracer: Tracer) -> dict:
        """Per-module sums over the traced pass's build and exec spans."""
        out = {f"{m}.{c}": 0.0 for m in SEAT_MODULES for c in SEAT_COUNTERS}
        for s in tracer.spans:
            if "seat" not in s.attrs:
                continue
            mod, phase = s.name.rsplit(".", 1)
            out[f"{mod}.{phase}_s"] += s.duration
            for c in ("jobs", "stages", "tasks", "executor_run_s",
                      "executor_cpu_s", "shuffle_write_bytes"):
                out[f"{mod}.{c}"] += s.counters[c]
            if phase == "exec":
                out[f"{mod}.driver_gap_s"] += driver_gap(s)
        return out
