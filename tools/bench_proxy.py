#!/usr/bin/env python
"""DuckDB proxy bench — runs the registry's ORACLE SQL for the
bench-tagged queries on a parquet directory and prints one JSON line,
mirroring bench.py's protocol (median of BENCH_RUNS warm runs after one
cold run). It is the bench's comparison bar: the reference publishes
no numbers (BASELINE.md), so DuckDB on identical SQL + identical
parquet is the stand-in.

Usage: python tools/bench_proxy.py [sf_dir] (default $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from http_datafusion_spark.plans.registry import all_queries  # noqa: E402
from http_datafusion_spark.plans.tables import TABLES  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(os.environ.get('SPARK_GRAFT_CPUS', '32'))}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")

    registry = all_queries()
    only = os.environ.get("BENCH_QUERIES")
    names = (
        [n.strip() for n in only.split(",") if n.strip()]
        if only
        else sorted(n for n, s in registry.items() if "bench" in s.tags and s.oracle)
    )
    timings: dict[str, float] = {}
    for name in names:
        # Prefer the DuckDB-idiomatic formulation when one exists (e.g.
        # native ASOF JOIN): the proxy is the comparison bar, and the bar
        # should be DuckDB at its best, not DuckDB on a formulation its
        # planner can't optimize (result-equivalence is test-asserted).
        sql = registry[name].bench_oracle or registry[name].oracle
        if not sql:
            continue
        con.execute(sql).fetchall()  # cold
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 4)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "duckdb_proxy_total_sec",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
