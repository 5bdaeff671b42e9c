#!/usr/bin/env python
"""Benchmark harness — runs the headline (bench-tagged) queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints JSON to stdout, LAST line compact:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "value_min": ..., "sf": <sf>}

(The per-query variance band is a separate, preceding JSON line: a
reader with a bounded tail capture parses the last line, and a single
line that also carries the band outgrew that window once and parsed as
nothing. Every stdout line is valid JSON on its own.)

Each query is timed to FULL materialization: a noop-format write,
which evaluates every output expression on every row and discards the
bytes. (Timing ``.count()`` instead lets Catalyst prune expressions
the count doesn't need — measured 3-7x under-reporting on agg/window/
map-tailed queries at sf0.1 on 32 cores.)
Median of RUNS warm runs after one cold run that pays JVM/codegen
warmup. Set BENCH_QUERIES=name1,name2 to restrict, BENCH_RUNS=n to
change repetitions.

The JSON carries a per-query variance band ("band": {name: [min,
median, max]}) so a loaded machine is distinguishable from a real
regression: on an idle box max/min stays within ~1.3x for the
sub-second floor-bound queries; a contended run (other work on the
box) inflates max >> median while min stays near the idle wall.
Compare BANDS between runs, not bare medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from http_datafusion_spark.functions.pinning import pin_scope  # noqa: E402
from http_datafusion_spark.plans.registry import all_queries  # noqa: E402
from http_datafusion_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("BENCH_RUNS", "5"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    spark = get_spark("http_datafusion_spark-bench")

    registry = all_queries()
    only = os.environ.get("BENCH_QUERIES")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
    else:
        names = sorted(n for n, spec in registry.items() if "bench" in spec.tags)

    def materialize(df) -> None:
        # noop sink: full evaluation of every column on every row,
        # zero serialization to the driver and zero disk I/O.
        df.write.format("noop").mode("overwrite").save()

    # The noop write path needs ~3 executions before its codegen +
    # class-loading settles (measured: 5.0s, 1.5s, 1.6s, then stable
    # ~0.3s for q1 at sf0.01) — warm each query that many times before
    # sampling.
    warmups = int(os.environ.get("BENCH_WARMUP", "3"))

    def time_set(qnames: list[str], n_warm: int, n_runs: int):
        """bench protocol for one query set: per query, n_warm warmup
        executions, then the median of n_runs timed executions. The
        timed region covers plan build + pin materialization + the noop
        write (t0 precedes spec.spark); each execution is wrapped in a
        pin_scope so the PREVIOUS execution's pinned blocks are released
        OUTSIDE the timed region, so storage stays flat across the run;
        every sample still builds and pins from scratch.
        """
        t: dict[str, float] = {}
        b: dict[str, list[float]] = {}
        for name in qnames:
            spec = registry[name]
            for _ in range(n_warm):
                with pin_scope():
                    materialize(spec.spark(spark, sf_dir))
            samples = []
            for _ in range(n_runs):
                with pin_scope():
                    t0 = time.perf_counter()
                    materialize(spec.spark(spark, sf_dir))
                    samples.append(time.perf_counter() - t0)
            t[name] = round(statistics.median(samples), 4)
            b[name] = [round(min(samples), 4), t[name], round(max(samples), 4)]
            print(
                f"# {name}: {t[name]:.3f}s [{b[name][0]:.3f}..{b[name][2]:.3f}]",
                file=sys.stderr,
            )
        return t, b

    timings, bands = time_set(names, warmups, runs)

    total = round(sum(timings.values()), 4)
    total_min = round(sum(b[0] for b in bands.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Queries tagged "bench_extra" (the optimized, build-heavy set) are
    # timed on a full run with the same sink/warmup/median protocol and
    # emitted as their OWN JSON line, so the headline set and the
    # compact LAST line stay comparable between runs.
    if not only:
        extra = sorted(
            n
            for n, spec in registry.items()
            if "bench_extra" in spec.tags and n not in set(names)
        )
        if extra:
            ew = int(os.environ.get("BENCH_EXTRA_WARMUP", "1"))
            er = int(os.environ.get("BENCH_EXTRA_RUNS", "3"))
            et, _eb = time_set(extra, ew, er)
            print(
                json.dumps(
                    {
                        "metric": "optimized_queries_sec",
                        "value": round(sum(et.values()), 4),
                        "unit": "sec",
                        "queries": et,
                        "runs": er,
                        "warmups": ew,
                        "sf": sf_val,
                    }
                )
            )
    # Two stdout lines, BOTH valid JSON. The driver tail-captures stdout
    # with a bounded window and parses the LAST line, so the last line
    # must stay compact: headline + per-query medians only. The variance
    # band (3 floats per query, which overflowed that window when it
    # shared the last line) goes on its own preceding line.
    print(json.dumps({"detail": "per_query_band_min_median_max", "band": bands, "sf": sf_val}))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "value_min": total_min,
                "runs": runs,
                "sf": sf_val,
            }
        )
    )


if __name__ == "__main__":
    main()
