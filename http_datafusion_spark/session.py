"""SparkSession factory tuned for this engine.

Local mode (`local[N]`) is the test/bench harness; the configs below
are chosen so the same code runs unmodified on a multi-executor
cluster at 100 TB scale:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  re-selection) — the single most important knob for unknown data
  distributions at scale;
- shuffle partitions sized to cores locally; at cluster scale AQE's
  coalescing makes the initial number far less sensitive;
- Arrow transfer enabled so the Pandas-UDF operators (dedup,
  similarity, multimodal) move batches, not rows;
- UTC session timezone so results are reproducible and comparable
  with the DuckDB oracle;
- a generated-class cache of 2048 entries
  (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100). At
  sf0.01 the 53 `bench` + `bench_extra` queries compile 1 027 classes
  and the 9-query `queries_concurrent4` mix 139. A long-lived session
  runs its queries in turn, so with 100 entries the LRU cache evicts
  each class before its query comes round again: every round of that
  mix recompiled ~125 classes (~1.1 s of Janino time), and 0 with 2048.
  It is a static conf, so only a session built here has it; a session
  the engine did not build keeps Spark's 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "http_datafusion_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The bench queries' 1 027 generated classes, with headroom (docstring).
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # Static broadcast threshold CONSERVATIVE (4m): the planner's
        # pre-scan size estimate scales file size by the pruned-column
        # ratio and happily "broadcasts" fact tables — at 16m the sf0.1
        # lineitem scan (600k rows) was BuildLeft, at 8m the sf1 orders
        # scan (1.5M rows, ~6MB 2-column estimate) still was: a
        # single-threaded multi-second hash build per run (q7 2.4s ->
        # 1.2s after this change). Dimension tables stay far below 4m
        # at any SF tested. AQE re-decides from ACCURATE post-shuffle
        # sizes; its threshold is 32m, not 64m, for the same reason —
        # a "fits in memory" 24MB fact-side broadcast loses to a
        # parallel shuffle join locally (measured q8/q9/q3 all faster),
        # while genuinely small filtered sides (q8's 2MB orders side)
        # still convert.
        .config("spark.sql.autoBroadcastJoinThreshold", "4m")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "32m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # The events table stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as raw int64 ns and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Let the httpjson Python DataSource participate in filter pushdown.
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
