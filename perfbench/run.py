#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client on local[N] running one
workload per invocation, from outside the package.

    python3 perfbench/run.py --workload refchain --seed 1 --seconds 10 --trace 0

Workloads (inputs are generated from --seed; the program sees only them):
  refchain      ingest -> report -> direct through the CLI entry point on a
                generated headerless 109-column BTS CSV
  seats         headline registry seats back to back: JVM-only relational
                seats, then LLM-pipeline seats (Python workers, iterative
                driver loops)

A run sets up (session start, input generation, expected results), makes one
cold pass that also checks every output, then repeats warm passes for
--seconds, and at least MIN_WARM_PASSES times. With --trace 0 the last
stdout line carries the end-to-end metrics; with --trace 1 it carries the
per-layer metrics from a traced pass (spans are written under
.perfbench/traces/). Earlier lines are a readable report, including the
workload-specific job times and run conditions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("refchain", "seats")
E2E_UNITS = {"setup_s": "s", "first_pass_s": "s", "wall_s": "s"}
SETUP_REPEATS = 3
MIN_WARM_PASSES = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpus() -> int:
    """SPARK_GRAFT_CPUS, validated before any timed work; defaults to the
    cores this process may run on."""
    avail = len(os.sched_getaffinity(0))
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return avail
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if not 1 <= n <= 4 * avail:
        _fail(f"SPARK_GRAFT_CPUS={raw!r} is not a core count in 1..{4 * avail}")
    return n


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    return v[0] + v[2], v[7]


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _start_session(workdir: Path, cpus: int):
    from hbase_hadoop_flightsearch_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf={
        "spark.local.dir": str(workdir / "tmp"),
        "spark.sql.warehouse.dir": str(workdir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, cpus: int) -> tuple[dict, dict, int, int]:
    """Run one workload; returns (metrics for the last line, report
    extras, operations attempted, operations failed)."""
    from perfbench import workloads as W
    from perfbench.trace import Tracer

    base = ROOT / ".perfbench"
    workdir = base / f"work-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    (workdir / "tmp").mkdir(parents=True)
    # Temporary files stay in the work directory, including those of the
    # launcher and driver JVMs.
    os.environ["TMPDIR"] = str(workdir / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={workdir / 'tmp'}"
    )
    load0, ticks0 = os.getloadavg()[0], _cpu_ticks()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(workdir, cpus)
        session_s = time.perf_counter() - t0
        # The session starts once: a second JVM launch does not fit a run.
        # The inputs and expected results are prepared SETUP_REPEATS times
        # (each replaces the last) and the median preparation counts.
        prep = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            if args.workload == "refchain":
                wl = W.RefChain(spark, workdir, args.seed)
            else:
                wl = W.Seats(spark, workdir, args.seed, ROOT, cpus)
            prep.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(prep)

        # Like wall_s, the sum of the operations' own times: the output
        # checks that follow each operation are not timed.
        times, failed = wl.run_pass(cold=True)
        first_pass_s = sum(times.values())
        attempted = len(wl.ops)

        samples: dict[str, list[float]] = {op: [] for op in wl.ops}

        def warm_pass(tracer=None) -> float:
            nonlocal attempted, failed
            t = time.perf_counter()
            times, f = wl.run_pass(cold=False, tracer=tracer)
            attempted += len(wl.ops)
            failed += f
            if tracer is None:
                for op, dt in times.items():
                    samples[op].append(dt)
            return time.perf_counter() - t

        # Warm passes for --seconds, and at least MIN_WARM_PASSES so that
        # every operation's median has that many samples.
        t2, passes = time.perf_counter(), 0
        while (passes < MIN_WARM_PASSES
               or time.perf_counter() - t2 < args.seconds):
            before = warm_pass()
            passes += 1
        medians = {op: statistics.median(v) for op, v in samples.items() if v}
        wall_s = sum(medians.values())

        extras = {
            "per_op_median_s": medians,
            "warm_passes": passes,
        }
        if args.workload == "refchain":
            extras.update(wl.summary())
        metrics = {
            "setup_s": setup_s,
            "first_pass_s": first_pass_s,
            "wall_s": wall_s,
        }
        if args.trace:
            # Passes still speed up as the JIT warms, so the traced pass is
            # compared with the untraced passes on either side of it.
            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            traced = warm_pass(tracer)
            after = warm_pass()
            layer = dict.fromkeys(W.per_layer_names(), 0.0)
            layer["session.get_spark_s"] = session_s
            layer["bench.trace_overhead_s"] = traced - (before + after) / 2
            if args.workload == "refchain":
                layer.update(wl.layer_pass(tracer))
                for job in W.REFCHAIN_JOBS:
                    layer[f"main.{job}_s"] = medians.get(job, 0.0)
                layer["sources.ingest.bronze_bytes_per_input_byte"] = \
                    extras["bronze_bytes_per_input_byte"]
            else:
                layer.update(wl.module_metrics(tracer))
            traces = base / "traces"
            traces.mkdir(exist_ok=True)
            path = traces / f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
            tracer.dump(path)
            extras["trace_file"] = str(path.relative_to(ROOT))
            extras.update(metrics)
            metrics = layer
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        extras["peak_rss_mb"] = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
        if args.trace:
            metrics["bench.peak_rss_mb"] = extras["peak_rss_mb"]
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    busy1, steal1 = _cpu_ticks()
    db, ds = busy1 - ticks0[0], steal1 - ticks0[1]
    extras.update({
        "loadavg_1m_before": load0,
        "loadavg_1m_after": os.getloadavg()[0],
        "steal_pct_busy": 100.0 * ds / (db + ds) if db + ds else 0.0,
        "n_cpus": cpus,
        "failed_ops": failed,
        "failed_ops_frac": len(failed) / attempted,
    })
    return metrics, extras, attempted, len(failed)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not args.seconds > 0:
        _fail(f"--seconds {args.seconds} is not a positive duration")

    if not (ROOT / "hbase_hadoop_flightsearch_spark" / "__init__.py").is_file():
        _fail(f"no hbase_hadoop_flightsearch_spark package under {ROOT}")
    cpus = _cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Spark's Python workers import the package from the repository root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))

    metrics, extras, attempted, failed = measure(args, cpus)
    units = {} if args.trace else E2E_UNITS
    for name, value in metrics.items():
        unit = units.get(name) or _layer_unit(name)
        print(f"{args.workload:12s} {name:55s} {value:16.4f} {unit}")
    for name, value in extras.items():
        print(f"{args.workload:12s} {name:55s} {json.dumps(value)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units.get(k) or _layer_unit(k)}
            for k, v in metrics.items()
        },
    }))


def _layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("per_input_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
