#!/usr/bin/env python
"""Fact-scan-count audit: how many times does each registry plan scan
the SAME fact parquet?

Reading one plan by hand once turned a two-scan CUSUM into a one-scan
one; this tool makes that reading mechanical. It builds every
registry query at sf0.001 (plan SHAPE is scale-independent), walks the
formatted physical plan, and counts scan nodes per parquet file. A
repeated fact scan is NOT automatically a defect — truth-vs-estimate
audits, self-joins, and before/after comparisons legitimately read a
table twice — so this is a DIAGNOSTIC work-list for plan reviews, not
a CI gate (unlike the window/broadcast guards, which flag shapes that
are wrong per se).

Usage: python tools/scan_audit.py [--min N] [--sf-dir DIR]
Prints one line per (query, table) with count >= N (default 2),
heaviest first, then a summary histogram.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from http_datafusion_spark.plans.registry import all_queries  # noqa: E402
from http_datafusion_spark.session import get_spark  # noqa: E402

_FACTS = (
    "documents.parquet",
    "lineitem.parquet",
    "orders.parquet",
    "events.parquet",
    "embeddings.parquet",
    "part.parquet",
    "customer.parquet",
    "supplier.parquet",
)


def scan_counts(df) -> tuple[Counter, int, int]:
    """Per-parquet-file count of scan nodes in the formatted plan, plus
    the count of checkpoint/RDD leaves (``Scan ExistingRDD``), plus the
    count of non-fact/other leaves (LocalTableScan, OneRowRelation,
    Range, non-fact parquet such as temp/stream sink reads).

    The second number closes a blind spot: a localCheckpoint (or
    memory sink) severs the parquet lineage, so a remediated plan would
    otherwise report 0 sources and drop out of the very audit that
    motivated its repair. A plan with parquet==0 AND rdd==0 is a real
    anomaly; parquet==0 with rdd>0 means "reads only checkpointed
    frames" and stays visible.
    """
    jvm = df.sparkSession._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    c: Counter = Counter()
    rdd = 0
    other = 0
    for line in plan.splitlines():
        # formatted explain prints each node twice (tree + detail
        # section); count only the numbered detail header once.
        s = line.strip()
        if re.match(r"^\(\d+\) Scan ExistingRDD", s):
            rdd += 1
            continue
        if re.match(r"^\(\d+\) (LocalTableScan|Scan OneRowRelation|Range)", s):
            other += 1
            continue
        if "Location:" not in line:
            continue
        hit = False
        for f in _FACTS:
            if f in line:
                c[f] += len(re.findall(re.escape(f), line))
                hit = True
        if not hit:
            other += 1  # non-fact parquet (temp/stream sink reads)
    return c, rdd, other


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--min", type=int, default=2)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default="", help="comma-separated query names")
    args = ap.parse_args()

    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    names = (
        [n.strip() for n in args.only.split(",") if n.strip()]
        if args.only
        else sorted(all_queries())
    )
    specs = all_queries()
    rows: list[tuple[str, str, int]] = []
    hist: Counter = Counter()
    rdd_hist: Counter = Counter()
    anomalies: list[str] = []
    for name in names:
        try:
            c, rdd, other = scan_counts(specs[name].spark(spark, args.sf_dir))
        except Exception as e:  # a build failure is itself a finding
            print(f"BUILD-ERROR {name}: {type(e).__name__}: {e}", flush=True)
            continue
        worst = max(c.values(), default=0)
        hist[worst] += 1
        if rdd:
            rdd_hist[rdd] += 1
        if worst == 0 and rdd == 0 and other == 0:
            anomalies.append(name)
        for f, n in c.items():
            if n >= args.min:
                rows.append((name, f, n))
    for name, f, n in sorted(rows, key=lambda r: -r[2]):
        print(f"{n}x {f:22s} {name}")
    print(
        "max-parquet-scans-per-table histogram: "
        + ", ".join(f"{k}x:{hist[k]}" for k in sorted(hist))
    )
    print(
        "checkpoint/RDD-leaf histogram (plans with >=1): "
        + (", ".join(f"{k} leaves:{rdd_hist[k]}" for k in sorted(rdd_hist)) or "none")
    )
    if anomalies:
        print(
            "ZERO-SOURCE anomalies (no parquet, no RDD/local/temp leaf): "
            f"{anomalies}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
