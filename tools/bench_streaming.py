"""Streaming bench — wall-clock for every registered ``streaming_*``
query (VERDICT r4 #5: the 14+ streaming queries were outside the
149-query batch bench, so no streaming latency number existed or was
gated round-over-round).

Each registered streaming query drains its source with an
``availableNow`` trigger inside the builder (file-stream source →
watermark/stateful op → memory or foreachBatch sink), so the timed
quantity is the full micro-batch pipeline wall-clock: source listing,
state store updates, watermark advancement, sink commit, plus the
final batch materialization of the sink contents (noop write — no
driver transfer).

Output: the same ``{"sf", "queries": {...}}`` detail shape as
``bench.py``, written to the non-committed ``BENCH_STREAMING_run.json``
(or ``$SPARK_GRAFT_BENCH_STREAMING_DETAIL``; the committed
``BENCH_STREAMING.json`` is the judged BASELINE — re-baselining is an
explicit act, the round-11 bench.py convention):

    python tools/bench_streaming.py                       # run at SF_DIR

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all cores),
     SPARK_GRAFT_BENCH_STREAMING_DETAIL (detail path override),
     SPARK_GRAFT_DRIVER_MEM (default 16g, as in bench.py).

Unlike bench.py there is no warm-up run discard: a streaming query's
dominant cost IS the fixed micro-batch machinery (query planning,
state store open, file listing), which a warm-up would hide; min-of-2
still absorbs JVM-compile jitter.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_anomaly_spark.plans.registry import all_queries
from flink_anomaly_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    # the committed baseline's heap, not the session's host-sized default
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("bench-streaming")
    queries = {
        n: fn for n, fn in all_queries().items() if n.startswith("streaming_")
    }
    timings: dict[str, float] = {}
    state: dict[str, list] = {}
    for name, fn in queries.items():
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        # state-store footprint of the run (VERDICT r6 #6): max rows /
        # bytes held per stateful operator — the numbers that size
        # executor memory (HDFS provider) or disk (RocksDB) at
        # production watermark lag
        from flink_anomaly_spark.streaming import pipelines as _p

        if _p.LAST_STATE_METRICS:
            state[name] = _p.LAST_STATE_METRICS

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "total wall-clock sec over all streaming queries",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "state": state,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_STREAMING_DETAIL",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH_STREAMING_run.json",
        ),
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(out, f, indent=1)
    except OSError:
        detail_path = "(unwritable)"
    print(json.dumps(out))
    print(
        json.dumps(
            {
                "metric": out["metric"],
                "value": out["value"],
                "unit": "sec",
                "sf": out["sf"],
                "n_queries": len(timings),
                "detail_file": detail_path,
            }
        )
    )


if __name__ == "__main__":
    main()
