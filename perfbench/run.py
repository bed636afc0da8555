"""Layered benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch-small --seed 1 --seconds 30 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` is a separate run that splits
the workload's time across the engine's layers. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (each ``{"value", "unit"}``). Workloads,
metrics and the layer map are documented in README.md next to this
file.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "stream_latency_p50_s": "s",
    "stream_latency_p95_s": "s",
}

PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_share": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.peak_execution_memory_mb": "MB",
    "release.release_s": "s",
    "release.frames_released": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.state_rows_max": "count",
    "streaming.state_memory_mb_max": "MB",
    "streaming.state_partitions": "count",
    "recovery.drains": "count",
    "recovery.drain_s_p50": "s",
    "recovery.restarts": "count",
    "recovery.restart_drain_s_p50": "s",
    "sink.files_written": "count",
    "sink.rows_per_file": "count",
    "generator.lag_max_s": "s",
    "generator.backlog_files_max": "count",
    "process.driver_peak_rss_mb": "MB",
    "process.jvm_peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}

WORKLOADS = ("batch-small", "batch-large", "stream-failover")


def process_age() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22, starttime
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


class Context:
    """What one run shares with the workload modules."""

    def __init__(self, args, work_dir: str, nproc: int) -> None:
        self.seed, self.trace = args.seed, bool(args.trace)
        self.seconds = args.seconds
        self.work_dir, self.nproc = work_dir, nproc
        self.spark = None
        self.normalize = None
        self.invalid_reasons: list[str] = []
        self.process_age = process_age

    def log(self, msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def invalid(self, reason: str) -> None:
        self.log(f"INVALID RUN: {reason}")
        self.invalid_reasons.append(reason)

    def data_dir(self, name: str) -> str:
        """A testdata scale directory, next to the engine's default one."""
        from flink_anomaly_spark.tables import DEFAULT_SF_DIR

        path = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), name)
        if not os.path.isfile(os.path.join(path, "lineitem.parquet")):
            raise FileNotFoundError(f"testdata {name} not found at {path}")
        return path


def prepare_env(work_dir: str, nproc: int) -> None:
    """Point Spark, its Python workers and temp files at this checkout
    before pyspark is imported."""
    for sub in ("tmp", "spark-local", "duckdb"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    # Spark's Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")


def start_spark(work_dir: str, nproc: int):
    from flink_anomaly_spark.session import get_spark

    return get_spark("perfbench", cpus=nproc, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work_dir}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def load_normalize():
    """``normalize`` of the oracle gate in tools/check_oracle.py."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def provenance(ctx, workload: str) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    from perfbench.batch import WORKLOADS as BATCH

    return {
        "nproc": ctx.nproc,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "testdata": ctx.data_dir(BATCH[workload][0]) if workload in BATCH else None,
    }


def print_self_table(workload: str, res: dict) -> None:
    """Mean self time per layer span per traced unit (pass or drain), as
    a markdown table on standard output."""
    unit = "pass" if workload.startswith("batch") else "drain"
    print(f"\n| {workload} span | self s per {unit} | share of traced {unit} |")
    print("|---|---:|---:|")
    for name, self_s in res["self_table"]:
        print(f"| {name} | {self_s:.3f} | {100.0 * self_s / res['unit_s']:.1f} % |")
    print(f"| (traced {unit} wall) | {res['unit_s']:.3f} | |\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # String hashing, and with it set iteration order in the query
        # builders, changes with each process: batch-small passes fell
        # into a 4.1 s and a 5.1 s group between otherwise equal runs.
        # A fixed hash seed removes that from the run-to-run spread.
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])

    nproc = len(os.sched_getaffinity(0))
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work_dir, nproc)
    sys.path.insert(0, ROOT)
    ctx = Context(args, work_dir, nproc)
    try:
        from perfbench import batch, spans, stream

        ctx.normalize = load_normalize()
        ctx.spark = start_spark(work_dir, nproc)
        try:
            info = provenance(ctx, args.workload)
            module = stream if args.workload == "stream-failover" else batch
            res = module.run(ctx, args.workload)
            if ctx.trace:
                res["layers"]["process.driver_peak_rss_mb"] = spans.peak_rss_mb()
                jvm_pid = ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
                res["layers"]["process.jvm_peak_rss_mb"] = spans.peak_rss_mb(jvm_pid)
        finally:
            stop_spark(ctx.spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # kept while another run uses it
            os.rmdir(os.path.dirname(work_dir))

    correct = res["failed"] == 0 and not ctx.invalid_reasons
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "provenance": info,
        "samples": {k: res[k] for k in ("samples", "passes", "drains") if k in res},
        "unit_times_s": [round(t, 4) for t in res["unit_times"]],
        "failed_ratio": {"value": res["failed"] / res["attempted"], "unit": "ratio"},
        "invalid": ctx.invalid_reasons,
    }
    if ctx.trace:
        spans_path = os.path.join(ROOT, ".perfbench_out",
                                  f"spans-{args.workload}-seed{args.seed}.json")
        res["tracer"].write(spans_path)
        summary["spans_file"] = os.path.relpath(spans_path, ROOT)
        print_self_table(args.workload, res)
        metrics = {name: {"value": float(res["layers"].get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER.items()}
    else:
        metrics = {name: {"value": float(res["metrics"][name]), "unit": unit}
                   for name, unit in END_TO_END.items()}
        summary["end_to_end"] = dict(metrics, failed_ratio=summary["failed_ratio"])
    print(json.dumps(summary))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
