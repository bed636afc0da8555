"""Closed-loop batch workloads: one client runs a fixed list of
registered, oracle-backed queries in passes. Each query is built,
planned, run into the noop sink and released before the next starts;
the seed shuffles the order of every pass.
"""

from __future__ import annotations

import random
import time

from perfbench import spans

# (testdata dir name, queries). Lists are cut from the full registry so
# that one pass fits the run length several times; see README.md.
WORKLOADS = {
    # fixed cost per query dominates: builder, planning, job scheduling
    # and release_cached, on inputs of 1-60k rows
    "batch-small": ("sf0.01", [
        "tpch_q1_pricing", "tpch_q3_sql", "tpch_q6_forecast", "tpch_q21_late_blame",
        "filter_project", "union_bag", "window_argmax", "pivot_order_status",
        "lineitem_cube", "json_extract_props",
    ]),
    # executor work dominates: a shuffle-heavy join, a pandas-UDF LSH
    # join and an iterative builder loop, on 600k lineitem rows
    "batch-large": ("sf0.1", [
        "tpch_q21_late_blame", "minhash_near_dup_pairs", "kmeans_lloyd_outliers",
    ]),
}


def check_oracles(ctx, sf_dir: str, names: list[str]) -> tuple[int, int]:
    """Hash-compare each query's collected result with its registry
    oracle on DuckDB. Returns (attempted, failed). Untimed."""
    import duckdb

    from flink_anomaly_spark.operators.dedup import release_cached
    from flink_anomaly_spark.plans.registry import all_oracles, all_queries
    from flink_anomaly_spark.tables import TABLE_NAMES

    queries, oracles = all_queries(), all_oracles()
    failed = 0
    for name in names:
        try:
            got = ctx.normalize(queries[name](ctx.spark, sf_dir))
            con = duckdb.connect()
            try:
                con.execute("SET memory_limit='2GB'")
                con.execute(f"SET threads={ctx.nproc}")
                con.execute(f"SET temp_directory='{ctx.work_dir}/duckdb'")
                for t in TABLE_NAMES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
                want = ctx.normalize(con.execute(oracles[name]).fetchdf())
            finally:
                con.close()
        except Exception as e:  # a query that raises is a failed operation
            ctx.log(f"FAIL {name}: {type(e).__name__}: {e}")
            failed += 1
            continue
        finally:
            release_cached()
        if got != want:
            ctx.log(f"FAIL {name}: spark (rows, cols, hash) {got[:2]} != oracle {want[:2]}")
            failed += 1
    return len(names), failed


def _run_query(ctx, fn, sf_dir, tracer, trace_id, **attrs):
    """build -> plan -> action -> release. Traced: each phase is a span
    and runs in its own job group; untraced: no spans, no groups and
    no forced planning."""
    from flink_anomaly_spark.operators.dedup import release_cached

    sc = ctx.spark.sparkContext
    if tracer is None:
        try:
            fn(ctx.spark, sf_dir).write.mode("overwrite").format("noop").save()
        finally:
            release_cached()
        return 0
    with tracer.span("query", trace_id, **attrs) as q:
        try:
            with tracer.span("build", trace_id, q):
                sc.setJobGroup(f"{trace_id}.build", trace_id)
                df = fn(ctx.spark, sf_dir)
            with tracer.span("plan", trace_id, q):
                sc.setJobGroup(f"{trace_id}.plan", trace_id)
                df._jdf.queryExecution().executedPlan()
            with tracer.span("action", trace_id, q):
                sc.setJobGroup(f"{trace_id}.action", trace_id)
                df.write.mode("overwrite").format("noop").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            with tracer.span("release", trace_id, q):
                released = release_cached()
    return released


def run(ctx, workload: str) -> dict:
    sf_name, names = WORKLOADS[workload]
    sf_dir = ctx.data_dir(sf_name)
    from flink_anomaly_spark.plans.registry import all_queries

    queries = all_queries()
    attempted, failed = check_oracles(ctx, sf_dir, names)
    # the oracle pass collects; one untimed pass down the timed path
    # lets the noop-sink plans compile before the clock starts
    for name in names:
        attempted += 1
        try:
            _run_query(ctx, queries[name], sf_dir, None, "warm")
        except Exception as e:
            ctx.log(f"FAIL {name} (warm pass): {type(e).__name__}: {e}")
            failed += 1
    setup_s = ctx.process_age()

    rng = random.Random(ctx.seed)
    tracer = spans.Tracer() if ctx.trace else None
    counters = spans.SparkCounters(ctx.spark) if ctx.trace else None
    samples: list[float] = []
    passes: list[tuple[bool, float]] = []
    per_pass: list[dict] = []  # traced passes: summed counters and releases
    t_start = time.perf_counter()
    while True:
        p = len(passes)
        order = list(names)
        rng.shuffle(order)
        traced = ctx.trace and p % 2 == 0
        pass_counts = {"build_jobs": 0, "all": {}, "released": 0}
        t_pass = time.perf_counter()
        for i, name in enumerate(order):
            trace_id = f"p{p}q{i}"
            t = time.perf_counter()
            attempted += 1
            try:
                released = _run_query(ctx, queries[name], sf_dir,
                                      tracer if traced else None, trace_id,
                                      query=name, pass_no=p)
            except Exception as e:
                ctx.log(f"FAIL {name} (pass {p}): {type(e).__name__}: {e}")
                failed += 1
                continue
            samples.append(time.perf_counter() - t)
            if traced:
                groups = [f"{trace_id}.{ph}" for ph in ("build", "plan", "action")]
                pass_counts["build_jobs"] += counters.read(groups[:1])["jobs"]
                pass_counts["all"] = spans.add_counters(pass_counts["all"], counters.read(groups))
                pass_counts["released"] += released
        passes.append((traced, time.perf_counter() - t_pass))
        if traced:
            per_pass.append(pass_counts)
        # stop at the pass boundary nearest to the run length
        elapsed = time.perf_counter() - t_start
        if elapsed + passes[-1][1] / 2 >= ctx.seconds and (not ctx.trace or len(passes) >= 2):
            break

    out = {"attempted": attempted, "failed": failed,
           "samples": len(samples), "passes": len(passes),
           "unit_times": [s for _, s in passes]}
    if not ctx.trace:
        out["metrics"] = {
            "setup_s": setup_s,
            "pass_s": spans.p50([s for _, s in passes]),
            "query_p50_s": spans.p50(samples),
            # closed loop: a query is due when the one before it returns
            "stream_latency_p50_s": spans.p50(samples),
            "stream_latency_p95_s": spans.pct(samples, 95),
        }
        return out

    self_rows = tracer.self_times()
    n_traced = len(per_pass)

    def per_pass_self(name):
        return sum(s["self_s"] for s in self_rows if s["name"] == name) / n_traced

    traced_s = [s for t, s in passes if t]
    plain_s = [s for t, s in passes if not t]
    layers = {
        "plans.build_s": per_pass_self("build"),
        "plans.build_jobs": spans.p50([c["build_jobs"] for c in per_pass]),
        "catalyst.plan_s": per_pass_self("plan"),
        "release.release_s": per_pass_self("release"),
        "release.frames_released": spans.p50([c["released"] for c in per_pass]),
        "trace.overhead_pct": 100.0 * (spans.p50(traced_s) / spans.p50(plain_s) - 1.0),
    }
    layers.update(spans.spark_layer_metrics([c["all"] for c in per_pass]))
    out["layers"] = layers
    out["tracer"] = tracer
    out["self_table"] = [
        (name, per_pass_self(name)) for name in ("query", "build", "plan", "action", "release")
    ]
    out["unit_s"] = sum(traced_s) / n_traced
    return out
