"""Open-loop streaming workload with injected failures (stream-failover).

A generator thread writes one Parquet file of events per period into a
watched directory, on a fixed schedule that does not slow down when the
engine does (the reference's ``Main.java`` job, fed live). The main
thread drains the directory again and again with
``recovery.run_file_sink_with_restarts``: each call is an
``availableNow`` run of ``running_zscore_stream`` behind
``recovery.make_failing_filter``, from one checkpoint into the
transactional Parquet sink. The filter fails once at a few fixed event
ids, so some drains stall on a restart from the checkpoint.

A file's latency runs from its due time to the return of the drain
that committed it, so a stall is charged to every file that waited
behind it.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

from perfbench import spans

RATE = 2000  # events per second
# One file per period. Drain cost grows with the files it takes in; at
# 0.06 s per file drains grew with the backlog, here they stay ~1.7 s.
PERIOD_S = 0.15
EVENTS_PER_FILE = int(RATE * PERIOD_S)
KEYS = 100  # Zipf-distributed event_type keys
ZIPF_S = 1.1
WARMUP_S = 4.0  # stream time before the first timed file
PREWARM_FILES = 4  # files of the throwaway stream drained before the clock starts
# One injected failure per this much timed stream time: one restart per
# 30 s run, so the files behind it sit above the median and the 95th
# percentile lands on the recovery path.
FAIL_EVERY_S = 30.0
MAX_RESTARTS = 3  # restart budget of one drain
SCHEMA = "event_id long, ts timestamp, event_type string, value double"
# ``ts`` of file 0, so that one seed always writes the same events
TS0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


class Generator(threading.Thread):
    """Writes file ``k`` at its due time ``t0 + k * PERIOD_S`` with the
    events ``[k * EVENTS_PER_FILE, (k + 1) * EVENTS_PER_FILE)``, all
    stamped with the due time in stream time, ``TS0_US + k * PERIOD_S``.
    Files are written aside and renamed into the watched directory, so a
    listing never sees half a file."""

    def __init__(self, watch_dir: str, stage_dir: str, seed: int, n_files: int,
                 t0: float) -> None:
        super().__init__(name="perfbench-generator", daemon=True)
        self.watch_dir, self.stage_dir = watch_dir, stage_dir
        self.seed, self.n_files = seed, n_files
        self.t0 = t0
        self.lag_s: list[float] = []  # per file: visible time minus due time
        self.written = 0
        self.error: BaseException | None = None

    def due(self, k: int) -> float:
        return self.t0 + k * PERIOD_S

    def run(self) -> None:
        try:
            self.write_files()
        except BaseException as e:  # reported by the drain loop
            self.error = e

    def write_files(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.seed)
        weights = 1.0 / np.arange(1, KEYS + 1) ** ZIPF_S
        weights /= weights.sum()
        keys = np.array([f"k{i:03d}" for i in range(KEYS)])
        ts_type = pa.timestamp("us", tz="UTC")
        for k in range(self.n_files):
            n = EVENTS_PER_FILE
            value = np.round(rng.normal(50.0, 10.0, n), 1)
            value[rng.random(n) < 0.005] += 60.0  # rare level shifts to flag
            table = pa.table({
                "event_id": pa.array(np.arange(k * n, (k + 1) * n, dtype=np.int64)),
                "ts": pa.array(np.full(n, TS0_US + round(k * PERIOD_S * 1e6),
                                       dtype=np.int64), ts_type),
                "event_type": pa.array(keys[rng.choice(KEYS, size=n, p=weights)]),
                "value": pa.array(value),
            })
            wait = self.due(k) - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            name = f"part-{k:05d}.parquet"
            pq.write_table(table, os.path.join(self.stage_dir, name))
            os.rename(os.path.join(self.stage_dir, name), os.path.join(self.watch_dir, name))
            self.lag_s.append(time.monotonic() - self.due(k))
            self.written = k + 1


def failure_ids(seed: int, warm_files: int, timed_files: int) -> set[int]:
    """One event id per ``FAIL_EVERY_S`` of timed stream time, placed in
    the middle half of its slot at a seed-chosen offset."""
    rng = np.random.default_rng([seed, 1])
    n_fail = max(1, round(timed_files * PERIOD_S / FAIL_EVERY_S))
    slot = timed_files / n_fail
    ids = set()
    for j in range(n_fail):
        f = warm_files + int(slot * (j + 0.25 + 0.5 * rng.random()))
        ids.add(f * EVENTS_PER_FILE + int(rng.integers(EVENTS_PER_FILE)))
    return ids


def committed_files(ckpt_dir: str) -> int:
    """Files the query has taken in, from the file source's own log in
    the checkpoint. A drain returns only after every logged batch has
    committed, so after a drain this is the committed count. Files are
    renamed into place in index order and a listing takes every file it
    sees, so the committed files are always files ``0 .. count - 1``."""
    log_dir = os.path.join(ckpt_dir, "sources", "0")
    if not os.path.isdir(log_dir):
        return 0
    paths = set()
    for fn in os.listdir(log_dir):
        if fn.startswith(".") or fn.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, fn)) as f:
            lines = f.read().splitlines()
        paths.update(json.loads(line)["path"] for line in lines[1:] if line.strip())
    return len(paths)


def make_listener():
    """A ``StreamingQueryListener`` that keeps every query's run id and
    per-micro-batch progress (phase durations and state operators)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.run_ids: list[str] = []
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "run_id": str(p.runId),
                "ms": dict(p.durationMs),
                "state": [{"commit_ms": o.commitTimeMs, "rows": o.numRowsTotal,
                           "memory_bytes": o.memoryUsedBytes,
                           "partitions": o.numShufflePartitions}
                          for o in p.stateOperators or []],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def check(ctx, out_dir: str, watch_dir: str, n_events: int) -> tuple[int, int]:
    """Every sent event id appears exactly once in the sink, with the
    z-score of the registry's ``streaming_running_zscore`` oracle run on
    DuckDB over the generated files. Returns (events checked, failed)."""
    import duckdb

    from flink_anomaly_spark.plans.registry import all_oracles
    from flink_anomaly_spark.streaming import recovery

    try:
        recovery.assert_exactly_once_file_sink(ctx.spark, out_dir, "event_id")
    except AssertionError as e:
        ctx.log(f"FAIL stream: {e}")
    got = ctx.spark.read.parquet(out_dir).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={ctx.nproc}")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{watch_dir}/part-*.parquet'")
        want = con.execute(all_oracles()["streaming_running_zscore"]).fetchdf()
    finally:
        con.close()
    dup = len(got) - got["event_id"].nunique()
    lost = len(set(want["event_id"]) - set(got["event_id"]))
    extra = len(set(got["event_id"]) - set(want["event_id"]))
    both = want.merge(got.drop_duplicates("event_id"), on="event_id", suffixes=("", "_got"))
    z_differs = ~((both["z"] == both["z_got"]) | (both["z"].isna() & both["z_got"].isna()))
    misscored = int((z_differs
                     | (both["key"] != both["key_got"])
                     | (both["n_prev"] != both["n_prev_got"])
                     | (both["is_outlier"] != both["is_outlier_got"])).sum())
    failed = dup + lost + extra + misscored
    if len(want) != n_events:
        ctx.log(f"FAIL stream: oracle saw {len(want)} events, generator sent {n_events}")
        failed += abs(n_events - len(want))
    if failed == 0 and ctx.normalize(got) != ctx.normalize(want):
        failed = 1  # equal per event yet not as a set: count the run once
    if failed:
        ctx.log(f"FAIL stream: dup={dup} lost={lost} extra={extra} misscored={misscored}")
    return n_events, failed


class Drain:
    """One ``run_file_sink_with_restarts`` call. The builder callback it
    hands over runs once per attempt, so it marks where each attempt
    starts; traced drains also get a drain span with attempt and build
    spans under it, and run their builder in a job group of its own."""

    def __init__(self, ctx, build, tracer, trace_id: str) -> None:
        self.ctx, self.build, self.tracer, self.trace_id = ctx, build, tracer, trace_id
        self.starts: list[float] = []
        self.build_s = 0.0
        self.attempt_spans: list[int] = []
        self.span = tracer.open("drain", trace_id) if tracer else None

    def build_query(self):
        now = time.perf_counter()
        self.starts.append(now)
        if self.tracer is None:
            q = self.build()
        else:
            sc = self.ctx.spark.sparkContext
            if self.attempt_spans:
                self.tracer.close(self.attempt_spans[-1], now)
            attempt = self.tracer.open("attempt", self.trace_id, self.span, start=now)
            self.attempt_spans.append(attempt)
            with self.tracer.span("build", self.trace_id, attempt):
                sc.setJobGroup(f"{self.trace_id}.build", self.trace_id)
                try:
                    q = self.build()
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
        self.build_s += time.perf_counter() - now
        return q

    def run(self, dirs: dict) -> dict:
        from flink_anomaly_spark.streaming import recovery

        t0 = time.perf_counter()
        failed = False
        try:
            recovery.run_file_sink_with_restarts(
                self.ctx.spark, dirs["watch"], dirs["out"], dirs["ckpt"], self.build_query,
                max_restarts=MAX_RESTARTS)
        except Exception as e:  # restart budget exceeded: a failed drain
            self.ctx.log(f"FAIL drain {self.trace_id}: {type(e).__name__}: {e}")
            failed = True
        end = time.perf_counter()
        if self.tracer is not None:
            self.tracer.close(self.attempt_spans[-1], end)
            self.tracer.close(self.span, end)
        return {"wall_s": end - t0, "failed": failed, "restarts": len(self.starts) - 1,
                "build_s": self.build_s,
                "attempt_s": [b - a for a, b in zip(self.starts, self.starts[1:] + [end])]}


def run(ctx, workload: str) -> dict:
    from pyspark.sql import functions as F

    from flink_anomaly_spark.streaming import recovery
    from flink_anomaly_spark.streaming.stateful import running_zscore_stream

    spark = ctx.spark
    warm_files = int(WARMUP_S / PERIOD_S)
    timed_files = max(1, int(ctx.seconds / PERIOD_S))
    n_files = warm_files + timed_files

    def make_dirs(prefix):
        dirs = {d: os.path.join(ctx.work_dir, prefix + d)
                for d in ("watch", "stage", "out", "ckpt", "flags")}
        for d in dirs.values():
            os.makedirs(d, exist_ok=True)
        return dirs

    def make_build(dirs, fail_ids):
        unstable = recovery.make_failing_filter(dirs["flags"], fail_ids)

        def build():
            src = (spark.readStream.schema(SCHEMA)
                   .option("pathGlobFilter", "part-*.parquet").parquet(dirs["watch"]))
            return running_zscore_stream(src.filter(unstable(F.col("event_id"))),
                                         key="event_type")
        return build

    # Cold start (JVM code generation, Python workers, state store) on a
    # throwaway stream, so the timed stream starts from a warm engine.
    pre = make_dirs("prewarm-")
    Generator(pre["watch"], pre["stage"], ctx.seed, PREWARM_FILES,
              t0=time.monotonic() - 1.0).write_files()
    Drain(ctx, make_build(pre, set()), None, "prewarm").run(pre)

    dirs = make_dirs("")
    build = make_build(dirs, failure_ids(ctx.seed, warm_files, timed_files))

    listener = None
    if ctx.trace:
        listener = make_listener()
        spark.streams.addListener(listener)
    tracer = spans.Tracer() if ctx.trace else None
    counters = spans.SparkCounters(spark) if ctx.trace else None

    gen = Generator(dirs["watch"], dirs["stage"], ctx.seed, n_files,
                    t0=time.monotonic() + 0.2)
    setup_s = ctx.process_age() + (gen.due(warm_files) - time.monotonic())
    gen.start()

    drains: list[dict] = []
    latencies: list[float] = []
    backlog_max = committed = 0
    deadline = time.monotonic() + n_files * PERIOD_S + 120.0
    while committed < n_files:
        if gen.error is not None:
            raise gen.error
        if time.monotonic() > deadline:
            break
        if gen.written <= committed:
            time.sleep(0.002)
            continue
        d = len(drains)
        # a drain is timed once it can commit a timed file
        timed = gen.written > warm_files
        traced = ctx.trace and timed and d % 2 == 0
        n_runs = len(listener.run_ids) if listener else 0
        rec = Drain(ctx, build, tracer if traced else None, f"d{d}").run(dirs)
        done = time.monotonic()
        now_committed = committed_files(dirs["ckpt"])
        latencies.extend(done - gen.due(k)
                         for k in range(max(committed, warm_files), now_committed))
        if timed:
            due_by_now = min(n_files, int((done - gen.t0) / PERIOD_S) + 1)
            backlog_max = max(backlog_max, due_by_now - now_committed)
        committed = now_committed
        rec.update(timed=timed, traced=traced)
        if traced:
            rec["run_ids"] = listener.run_ids[n_runs:]
            rec["counters"] = counters.read(rec["run_ids"])
            rec["build_jobs"] = counters.read([f"d{d}.build"])["jobs"]
        drains.append(rec)
    gen.join()
    lost_files = n_files - committed
    if lost_files:
        ctx.log(f"FAIL stream: {lost_files} files never committed")
    n_events = n_files * EVENTS_PER_FILE
    checked, failed = check(ctx, dirs["out"], dirs["watch"], n_events)
    timed_drains = [r for r in drains if r["timed"]]
    failed += sum(r["failed"] for r in drains)
    lag_max = max(gen.lag_s, default=0.0)
    if lag_max > PERIOD_S:
        ctx.invalid(f"generator fell {lag_max:.3f} s behind (period {PERIOD_S} s)")
    out = {"attempted": checked + len(drains), "failed": failed,
           "samples": len(latencies), "drains": len(timed_drains),
           "unit_times": [r["wall_s"] for r in timed_drains]}
    if not ctx.trace:
        out["metrics"] = {
            "setup_s": setup_s,
            "pass_s": spans.p50([r["wall_s"] for r in timed_drains]),
            "query_p50_s": spans.p50([a for r in timed_drains for a in r["attempt_s"]]),
            "stream_latency_p50_s": spans.p50(latencies),
            "stream_latency_p95_s": spans.pct(latencies, 95),
        }
        return out

    traced = [r for r in timed_drains if r["traced"]]
    wait_for_progress(listener, {i for r in traced for i in r["run_ids"]})
    spark.streams.removeListener(listener)
    by_run: dict[str, list[dict]] = {}
    for prog in listener.progress:
        by_run.setdefault(prog["run_id"], []).append(prog)
    progress = [p for r in traced for i in r["run_ids"] for p in by_run.get(i, [])]
    state = [s for p in progress for s in p["state"]]
    self_rows = tracer.self_times()

    def per_drain_self(name):
        return sum(s["self_s"] for s in self_rows if s["name"] == name) / len(traced)

    def phase_p50(key):
        return spans.p50([p["ms"].get(key, 0) for p in progress])

    sink = spark.read.parquet(dirs["out"])
    sink_files = len(sink.inputFiles())
    restart_walls = [r["wall_s"] for r in timed_drains if r["restarts"]]
    layers = {
        "plans.build_s": spans.p50([r["build_s"] for r in traced]),
        "plans.build_jobs": spans.p50([r["build_jobs"] for r in traced]),
        "catalyst.plan_s": spans.p50([
            sum(p["ms"].get("queryPlanning", 0) for i in r["run_ids"] for p in by_run.get(i, []))
            / 1000.0 for r in traced]),
        "streaming.batches": len(progress),
        "streaming.trigger_ms_p50": phase_p50("triggerExecution"),
        "streaming.add_batch_ms_p50": phase_p50("addBatch"),
        "streaming.query_planning_ms_p50": phase_p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": phase_p50("walCommit"),
        "streaming.commit_offsets_ms_p50": phase_p50("commitOffsets"),
        "streaming.latest_offset_ms_p50": phase_p50("latestOffset"),
        "streaming.state_commit_ms_p50": spans.p50([s["commit_ms"] for s in state]),
        "streaming.state_rows_max": max((s["rows"] for s in state), default=0),
        "streaming.state_memory_mb_max": max((s["memory_bytes"] for s in state), default=0) * 1e-6,
        "streaming.state_partitions": max((s["partitions"] for s in state), default=0),
        "recovery.drains": len(timed_drains),
        "recovery.drain_s_p50": spans.p50([r["wall_s"] for r in timed_drains]),
        "recovery.restarts": sum(r["restarts"] for r in timed_drains),
        "recovery.restart_drain_s_p50": spans.p50(restart_walls),
        "sink.files_written": sink_files,
        "sink.rows_per_file": sink.count() / sink_files if sink_files else 0.0,
        "generator.lag_max_s": lag_max,
        "generator.backlog_files_max": backlog_max,
        "trace.overhead_pct": 100.0 * (
            spans.p50([r["wall_s"] for r in traced])
            / spans.p50([r["wall_s"] for r in timed_drains if not r["traced"]]) - 1.0),
    }
    layers.update(spans.spark_layer_metrics([r["counters"] for r in traced]))
    out["layers"] = layers
    out["tracer"] = tracer
    out["self_table"] = [(name, per_drain_self(name)) for name in ("drain", "attempt", "build")]
    out["unit_s"] = sum(r["wall_s"] for r in traced) / len(traced)
    return out


def wait_for_progress(listener, run_ids: set[str], timeout_s: float = 5.0) -> None:
    """Progress events reach the listener asynchronously, on Spark's
    listener bus: wait until every traced run has reported at least once
    and the count has stopped growing."""
    deadline = time.monotonic() + timeout_s
    seen = -1
    while time.monotonic() < deadline:
        have = {p["run_id"] for p in listener.progress}
        if run_ids <= have and len(listener.progress) == seen:
            return
        seen = len(listener.progress)
        time.sleep(0.2)
