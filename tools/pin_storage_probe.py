#!/usr/bin/env python
"""Executor-storage growth over a long-lived session (pin lifecycle):
execute pin-bearing queries N times in ONE warm session
and record cached-RDD storage after every execution.

Two regimes, selected by --scoped / --unscoped:
  unscoped   no pin_scope — nothing releases a pin's blocks except
             driver GC + ContextCleaner (periodicGC default: 30 min),
             so storage grows with every execution until a GC happens.
  scoped     each execution wrapped in functions/pinning.pin_scope() —
             the release path; storage must stay flat.

Prints one JSON line: storage curve (bytes after each execution,
subsampled), peak/final bytes, cached-RDD count curve, and per-exec
wall stats (first vs last quartile — latency creep detection).

Usage: python tools/pin_storage_probe.py [--execs 200] [--sf-dir DIR]
           [--scoped | --unscoped] [--queries a,b,c]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from http_datafusion_spark.functions.pinning import pin_scope  # noqa: E402
from http_datafusion_spark.plans.registry import all_queries  # noqa: E402
from http_datafusion_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--execs", type=int, default=200)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--scoped", action="store_true")
    mode.add_argument("--unscoped", action="store_true")
    ap.add_argument(
        "--queries",
        default=None,
        help="comma list; default: the bench_extra (pin-bearing) set",
    )
    args = ap.parse_args()

    spark = get_spark("http_datafusion_spark-pinprobe")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    if args.queries:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]
    else:
        names = sorted(n for n, s in registry.items() if "bench_extra" in s.tags)

    jsc = spark.sparkContext._jsc.sc()

    def storage() -> tuple[int, int]:
        infos = [i for i in jsc.getRDDStorageInfo() if i.numCachedPartitions() > 0]
        return sum(i.memSize() + i.diskSize() for i in infos), len(infos)

    scope = pin_scope if args.scoped else contextlib.nullcontext

    bytes_curve: list[int] = []
    rdds_curve: list[int] = []
    walls: list[float] = []
    for i in range(args.execs):
        name = names[i % len(names)]
        t0 = time.perf_counter()
        with scope():
            registry[name].spark(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        walls.append(time.perf_counter() - t0)
        b, r = storage()
        bytes_curve.append(b)
        rdds_curve.append(r)
        if (i + 1) % 20 == 0:
            print(
                f"# exec {i + 1}/{args.execs}: {b / 1e6:.1f} MB in {r} RDDs",
                file=sys.stderr,
            )

    q = max(1, args.execs // 4)
    step = max(1, args.execs // 50)
    print(
        json.dumps(
            {
                "metric": "pin_storage_growth",
                "mode": "scoped" if args.scoped else "unscoped",
                "execs": args.execs,
                "n_queries": len(names),
                "sf_dir": args.sf_dir,
                "peak_bytes": max(bytes_curve),
                "final_bytes": bytes_curve[-1],
                "peak_rdds": max(rdds_curve),
                "final_rdds": rdds_curve[-1],
                "bytes_curve_sampled": bytes_curve[::step],
                "wall_first_quartile_median": round(statistics.median(walls[:q]), 4),
                "wall_last_quartile_median": round(statistics.median(walls[-q:]), 4),
            }
        )
    )


if __name__ == "__main__":
    main()
