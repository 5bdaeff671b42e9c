#!/usr/bin/env python
"""Service-mode floor measurement: what a long-running service
amortizes of the per-query scheduling floor.

Three passes over the bench-tagged queries at $SPARK_GRAFT_SF_DIR, one
warm session (the service), full materialization via the noop sink
(same honest sink as bench.py):

  cold_sequential   first execution per query — pays per-query codegen
                    + class loading on a warm JVM (what the FIRST call
                    of each query costs a service after deploy)
  warm_sequential   steady-state, one at a time — bench.py's regime;
                    the per-query wall is compute + the per-stage
                    scheduling floor, serialized
  warm_concurrent   steady-state with THREADS client threads submitting
                    queries to the same session concurrently — the
                    actual service regime. Spark's scheduler overlaps
                    one query's stage-gap floor with another query's
                    compute, so total wall approaches the compute bound;
                    (sequential - concurrent) IS the amortizable floor.

Also measures per-process cost for PROC_SAMPLES queries: a fresh
python -> JVM -> SparkSession -> one query run (the anti-pattern: a
CLI-per-query deployment), quantifying what the fused session saves.

Prints one JSON line. Usage: python tools/service_mode.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from http_datafusion_spark.functions.pinning import pin_scope  # noqa: E402
from http_datafusion_spark.plans.registry import all_queries  # noqa: E402
from http_datafusion_spark.session import get_spark  # noqa: E402

THREADS = int(os.environ.get("SERVICE_THREADS", "8"))
PROC_SAMPLES = ("q6_revenue_delta", "q1_pricing_summary", "dedup_exact")

_PROC_SNIPPET = """
import sys, time
sys.path.insert(0, {root!r})
t0 = time.perf_counter()
from http_datafusion_spark.plans.registry import all_queries
from http_datafusion_spark.session import get_spark
spark = get_spark("svc-probe")
t1 = time.perf_counter()
all_queries()[{name!r}].spark(spark, {sf!r}).write.format("noop").mode("overwrite").save()
t2 = time.perf_counter()
print(__import__("json").dumps({{"startup": t1 - t0, "query": t2 - t1}}))
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    registry = all_queries()
    names = sorted(n for n, s in registry.items() if "bench" in s.tags)

    spark = get_spark("http_datafusion_spark-service")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> float:
        # pin_scope is thread-local, so concurrent submitters each
        # release exactly their own query's pins when it completes —
        # the service's steady-state storage stays flat instead of
        # growing until a periodic JVM GC.
        # The release (an async unpersist) is inside the timed region:
        # it IS part of what one service request costs.
        t0 = time.perf_counter()
        with pin_scope():
            registry[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Janino compilations so far in this JVM; each pass reports its own.
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compiled = {}

    # Pass 1: cold (first execution of each plan in this JVM).
    c0, t0 = compilations.getCount(), time.perf_counter()
    cold = {n: run(n) for n in names}
    cold_total = time.perf_counter() - t0
    compiled["cold_sequential"] = compilations.getCount() - c0

    # Two more passes (bench.py uses 3 warmups): get_spark's generated-class
    # cache holds every class of the bench queries, so what is still
    # compiled after pass 1 is only AQE re-planning; then steady state.
    for n in names:
        run(n)
        run(n)
    c0, t0 = compilations.getCount(), time.perf_counter()
    warm = {n: run(n) for n in names}
    warm_total = time.perf_counter() - t0
    compiled["warm_sequential"] = compilations.getCount() - c0

    # Pass 3: concurrent submission — the service regime.
    c0, t0 = compilations.getCount(), time.perf_counter()
    with ThreadPoolExecutor(max_workers=THREADS) as ex:
        list(ex.map(run, names))
    concurrent_total = time.perf_counter() - t0
    compiled["warm_concurrent"] = compilations.getCount() - c0

    # Per-process cost (CLI-per-query anti-pattern), a few samples.
    # The probe inherits SPARK_GRAFT_CPUS via get_spark()'s default, so
    # CLI-vs-service runs the same parallelism as the warm session above.
    proc = {}
    for n in PROC_SAMPLES:
        out = subprocess.run(
            [sys.executable, "-c", _PROC_SNIPPET.format(root=root, name=n, sf=sf_dir)],
            capture_output=True, text=True, timeout=600,
        )
        if out.returncode != 0 or not out.stdout.strip():
            raise RuntimeError(
                f"per-process probe {n!r} failed (rc={out.returncode}): "
                f"{out.stderr.strip()[-2000:]}"
            )
        line = out.stdout.strip().splitlines()[-1]
        proc[n] = json.loads(line)

    print(json.dumps({
        "metric": "service_mode_floor",
        "sf_dir": sf_dir,
        "n_queries": len(names),
        "threads": THREADS,
        "cold_sequential_total_sec": round(cold_total, 4),
        "warm_sequential_total_sec": round(warm_total, 4),
        "warm_concurrent_total_sec": round(concurrent_total, 4),
        "amortizable_floor_sec": round(warm_total - concurrent_total, 4),
        "concurrent_speedup": round(warm_total / concurrent_total, 2),
        "codegen_compilations": compiled,
        "per_process_samples": proc,
        "cold_vs_warm_per_query": {
            n: [round(cold[n], 4), round(warm[n], 4)] for n in names
        },
    }))


if __name__ == "__main__":
    main()
