"""Structured Streaming operators over ``events`` — the streaming
extension (SURVEY §2.9: the reference is bounded-only; this is the
Spark-native upgrade path described in SURVEY §7/M4).

Each query drives a real streaming pipeline: ``readStream`` on the
events parquet, event-time processing with watermarks/windows, memory
sink, ``processAllAvailable`` — so the result is deterministic and
(for the aggregations) equal to its batch twin, which is exactly what
the DuckDB oracle runs.

Complete output mode is used for the oracle-checked aggregations so
the final state is independent of watermark progress (append-mode
emission timing is exercised in tests/test_streaming.py instead).

Scale note: in production these run against Kafka with the same code
minus the source swap; state is partitioned by the groupBy keys
(bucket/user), so state size is bounded by key cardinality, and
watermarks bound it in event time.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_datafusion_spark.functions.pinning import pin
from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import _ensure_session_confs


def _stream_dir(sf_dir: str) -> str:
    """The file stream source requires a *directory*; stage one holding a
    symlink to the (read-only) events parquet."""
    name = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"hds_stream_{name}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the events table as a file-source stream.

    Schema comes from a batch read (a stream can't infer), including
    the TIMESTAMP(NANOS) -> µs normalization from the loader.
    """
    _ensure_session_confs(spark)  # nanosAsLong etc. on a foreign (driver) session
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_stream_dir(sf_dir))
    )
    if dict(stream.dtypes)["ts"] == "bigint":
        # `div` (integer division) — see plans/tables.py: /1000 via double
        # loses low bits of the ns value and shifts ~13% of stamps by 1µs.
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def run_to_memory(
    agg: DataFrame, output_mode: str, progress_out: list | None = None
) -> DataFrame:
    """Execute a streaming aggregation to completion via a memory sink.

    When ``progress_out`` is given, the per-micro-batch progress dicts
    (numInputRows etc.) are appended to it before the query stops — the
    observable evidence for rate-limit/backpressure behavior.
    """
    import shutil

    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="hds_ckpt_")
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        if progress_out is not None:
            progress_out.extend(q.recentProgress)
    finally:
        q.stop()
        q.awaitTermination(30)
        # the memory sink holds the results; the checkpoint has no
        # further use — repeated gate/test runs must not grow /tmp
        shutil.rmtree(ckpt, ignore_errors=True)
    return agg.sparkSession.table(name)


RATE_LIMIT_FILES = 8  # events staged as N files; maxFilesPerTrigger=1 -> N bounded micro-batches


def staged_multifile_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table as RATE_LIMIT_FILES parquet files so the
    file source's ``maxFilesPerTrigger`` cap is observable (a single
    file is always one trigger). Written once per sf_dir."""
    _ensure_session_confs(spark)  # nanosAsLong etc. on a foreign (driver) session
    name = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"hds_stream_rl_{name}")
    marker = os.path.join(d, "_STAGED")
    if not os.path.exists(marker):
        (
            spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            .repartition(RATE_LIMIT_FILES)
            .write.mode("overwrite")
            .parquet(d)
        )
        with open(marker, "w") as fh:
            fh.write("ok")
    return d


def rate_limited_stream(
    spark: SparkSession, sf_dir: str, progress_out: list | None = None
) -> DataFrame:
    """The backpressure demo pipeline: N-file source, ONE file per
    trigger (the file-source analogue of Kafka's maxOffsetsPerTrigger —
    see streaming/kafka.py), per-type profile aggregation in complete
    mode. Bounded per-trigger intake is what keeps executor memory and
    state-store update rate flat when a backlogged source is replayed
    at scale; without a cap the first trigger ingests the whole backlog."""
    d = staged_multifile_dir(spark, sf_dir)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )
    return run_to_memory(agg, "complete", progress_out)


@query(
    "stream_rate_limited",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 6)     AS min_value,
           round(max(value), 6)     AS max_value
    FROM events
    GROUP BY event_type
    """,
    doc="rate-limited ingest (maxFilesPerTrigger=1 over an 8-file source): N bounded micro-batches, final state == batch twin; backpressure evidence asserted in tests/test_streaming.py (streaming extension)",
    tags=("streaming",),
)
def stream_rate_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rate_limited_stream(spark, sf_dir)


@query(
    "stream_tumbling_agg",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket_5m,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling window agg (watermark + F.window, complete mode) == batch twin (streaming extension)",
    tags=("streaming",),
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    out = run_to_memory(agg, "complete")
    # F.window aligns to the epoch, so window.start/300 IS the bucket id.
    return out.select(
        F.floor(F.unix_timestamp("w.start") / 300).cast("bigint").alias("bucket_5m"),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, value, epoch(ts) AS es,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800
                  OR lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sessions AS (
      SELECT user_id, value, es,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY es
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM ordered
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4)     AS session_value
    FROM sessions
    GROUP BY user_id, sid
    """,
    doc="Structured Streaming session_window(30 min gap) == batch lag+cumsum sessionization (streaming extension)",
    tags=("streaming",),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
    )
    out = run_to_memory(agg, "complete")
    return out.select("user_id", "n_events", "session_value")


@query(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id,
           CAST(count(*) AS BIGINT)   AS n_pairs,
           round(sum(p.value), 4)     AS attributed_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    GROUP BY c.user_id
    """,
    doc="stream-stream inner join (clicks x purchases, 30-min event-time range, watermarks both sides) == batch join twin (streaming extension)",
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarks on BOTH sides + the time-range join condition are what
    bound the join state at scale: each side keeps only rows younger
    than watermark + range, so state is O(rate x window), not O(stream).
    The aggregation runs batch-side on the join's append-mode output
    (chaining a streaming agg after a stream-stream join needs no
    demonstration here and restricts output modes)."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    out = run_to_memory(joined, "append")
    return out.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("p_value"), 4).alias("attributed_value"),
    )


@query(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="Structured Streaming stateful dedup: dropDuplicates on (user_id, event_type) "
    "across micro-batches (file source replayed one file per trigger, so duplicate keys "
    "arrive in DIFFERENT batches and only cross-batch state can drop them) == batch "
    "DISTINCT twin. Only the dedup keys are emitted, so which physical row survives is "
    "irrelevant and the result is deterministic. At scale the state store holds one entry "
    "per distinct key — bounded by key cardinality, not stream length; a watermarked "
    "dropDuplicatesWithinWatermark bounds it further when keys expire (streaming extension)",
    tags=("streaming",),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    dedup = stream.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    return run_to_memory(dedup, "append")


@query(
    "stream_cdc_upsert",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    )
    SELECT CAST(user_id AS BIGINT)  AS user_id,
           CAST(event_id AS BIGINT) AS last_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           event_type               AS last_type,
           round(value, 4)          AS last_value
    FROM ranked
    WHERE rk = 1 AND event_type <> 'error'
    """,
    doc="streaming CDC upsert (applyInPandasWithState): latest-wins state per user "
    "across 8 replayed micro-batches (random file split, so a key's newest row can "
    "arrive in ANY batch and only cross-batch state finds it); the memory sink "
    "accumulates per-batch updates and the final frame keeps each key's newest "
    "update — == the batch compaction twin (cdc_upsert_compaction), delete markers "
    "dropped. State is one tuple per key: bounded by key cardinality (streaming "
    "extension, brief tier (b): applyInPandasWithState for semantics built-ins "
    "can't express)",
    tags=("streaming", "pipeline"),
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from http_datafusion_spark.streaming.stateful import cdc_upsert_stream

    d = staged_multifile_dir(spark, sf_dir)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    updates = run_to_memory(cdc_upsert_stream(stream), "update")
    # update-mode sink holds one row per (key, batch); the newest update
    # per key is the final state (ts_usec carries the total order)
    rk = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.col("ts_usec").desc(), F.col("last_event_id").desc())
    )
    return (
        updates.withColumn("rk", rk)
        .filter((F.col("rk") == 1) & (F.col("last_type") != "error"))
        .select(
            "user_id",
            "last_event_id",
            F.date_format(F.timestamp_micros(F.col("ts_usec")), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "last_ts"
            ),
            "last_type",
            F.round("last_value", 4).alias("last_value"),
        )
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4)     AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1
    """,
    doc="stream-static dimension enrichment: the event stream joins a broadcast "
    "static dim (customer segment) STATELESSLY — no join state, no watermark "
    "needed, the dim re-broadcasts per micro-batch — then aggregates per "
    "segment in complete mode; equal to the batch join twin the oracle runs",
    tags=("streaming",),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical enrich shape at scale: facts arrive as a stream,
    dimensions live as a slowly-refreshed table. A stream-static inner
    join keeps NO state store (unlike stream-stream), so executor
    memory stays flat regardless of stream length."""
    from http_datafusion_spark.plans.tables import load_tables

    stream = read_events_stream(spark, sf_dir)
    dim = (
        load_tables(spark, sf_dir, "customer")["customer"]
        .select(F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment"))
    )
    joined = stream.join(F.broadcast(dim), "user_id")
    agg = joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    return run_to_memory(agg, "complete").select("segment", "n_events", "total_value")


@query(
    "stream_hopping_agg",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 300) - k AS BIGINT) AS bucket_5m,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS total_value
    FROM events, (SELECT unnest([0, 1, 2]) AS k)
    GROUP BY 1, 2
    """,
    doc="Structured Streaming hopping (sliding) window agg: 15-minute windows hopping "
    "every 5 minutes, so each event lands in exactly 3 overlapping windows == batch "
    "twin that replicates each row into its 3 covering window starts. Window state is "
    "bounded by watermark x (width/hop) panes per key, independent of stream length "
    "(streaming extension; SURVEY §2.9)",
    tags=("streaming",),
)
def stream_hopping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    out = run_to_memory(agg, "complete")
    # window.start is hop-aligned to the epoch; start/300 is the 5-min
    # bucket id of the window's leading edge, matching the oracle's
    # floor(epoch/300) - k for k in {0,1,2}.
    return out.select(
        F.floor(F.unix_timestamp("w.start") / 300).cast("bigint").alias("bucket_5m"),
        "event_type",
        "n",
        "total_value",
    )


ERROR_RATE_ALERT = 0.3


@query(
    "stream_error_alert",
    oracle=f"""
    WITH per_window AS (
      SELECT CAST(floor(epoch(ts) / 600) AS BIGINT) AS bucket_10m,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_errors
      FROM events GROUP BY 1
    )
    SELECT bucket_10m, n_events, n_errors,
           round(n_errors * 1.0 / n_events, 4) AS error_rate,
           (n_errors * 1.0 / n_events > {ERROR_RATE_ALERT}) AS alert
    FROM per_window
    """,
    doc="Structured Streaming error-rate alerting: tumbling 10-minute windows "
    f"compute per-window error fraction; windows above {ERROR_RATE_ALERT:.0%} carry an "
    "alert flag == batch twin. The monitoring shape an ingest pipeline runs "
    "beside itself: state is one (count, error-count) pair per open window, "
    "bounded by the watermark horizon regardless of stream length "
    "(streaming extension; SURVEY §2.9)",
    tags=("streaming",),
)
def stream_error_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        )
    )
    out = run_to_memory(agg, "complete")
    rate = F.col("n_errors") * 1.0 / F.col("n_events")
    return out.select(
        F.floor(F.unix_timestamp("w.start") / 600).cast("bigint").alias("bucket_10m"),
        F.col("n_events").cast("bigint"),
        F.col("n_errors").cast("bigint"),
        F.round(rate, 4).alias("error_rate"),
        (rate > ERROR_RATE_ALERT).alias("alert"),
    )


TOPK_PER_WINDOW = 3


@query(
    "stream_topk_per_window",
    oracle=f"""
    WITH counts AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket_1h,
             user_id,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 4)     AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT bucket_1h, user_id, n, total_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY bucket_1h
                                   ORDER BY n DESC, user_id) AS rk
      FROM counts
    ) WHERE rk <= {TOPK_PER_WINDOW}
    """,
    doc=f"streaming top-{TOPK_PER_WINDOW} heavy users per hourly window: the "
    "windowed (window, user) counts aggregate in the stream in UPDATE output "
    "mode, so watermark eviction applies — panes whose window end falls behind "
    "the watermark are dropped from the state store and the state is genuinely "
    "watermark-bounded, not stream-length-bounded "
    "(tests/test_streaming.py::test_update_mode_window_state_is_evicted asserts "
    "closed windows leave the store). The sink accumulates per-key updates; the "
    "final value per key is its last (max-n) update, and the top-k selection "
    "ranks that compacted view — the serving-layer pattern, since cross-row "
    "ranking inside an unfinished window is unstable by definition == batch twin "
    "(streaming extension; SURVEY §2.9 + §2.5)",
    tags=("streaming",),
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    out = run_to_memory(agg, "update")
    counts = out.select(
        F.floor(F.unix_timestamp("w.start") / 3600).cast("bigint").alias("bucket_1h"),
        "user_id",
        F.col("n").cast("bigint"),
        "total_value",
    )
    # update-mode sink holds one row per (key, batch-it-changed-in); a
    # key's counts are cumulative, so its final state is its max-n row.
    last = F.row_number().over(
        W.partitionBy("bucket_1h", "user_id").orderBy(F.desc("n"))
    )
    counts = counts.withColumn("last", last).filter(F.col("last") == 1).drop("last")
    rk = F.row_number().over(
        W.partitionBy("bucket_1h").orderBy(F.desc("n"), "user_id")
    )
    return counts.withColumn("rk", rk).filter(F.col("rk") <= TOPK_PER_WINDOW).drop("rk")


DOC_STREAM_FILES = 4  # documents staged as N files -> N probe micro-batches


def staged_docs_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents table as DOC_STREAM_FILES parquet files so a
    document stream replays as multiple micro-batches. Written once per
    (sf_dir, source-mtime) — the dir name carries an mtime fingerprint
    of documents.parquet (same guard as plans/tables.scratch_path), so a
    regenerated source can never silently serve a stale staged copy."""
    from http_datafusion_spark.plans.tables import fingerprint_tables

    _ensure_session_confs(spark)
    name = sf_dir.strip("/").replace("/", "_")
    fp = fingerprint_tables(sf_dir, "documents")
    d = os.path.join(tempfile.gettempdir(), f"hds_stream_docs_{name}_{fp}")
    marker = os.path.join(d, "_STAGED")
    if not os.path.exists(marker):
        (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .repartition(DOC_STREAM_FILES)
            .write.mode("overwrite")
            .parquet(d)
        )
        with open(marker, "w") as fh:
            fh.write("ok")
    return d


def _stream_incremental_oracle() -> str:
    from http_datafusion_spark.operators.curation import _incremental_pairs_sql

    return _incremental_pairs_sql()


@query(
    "stream_incremental_minhash",
    oracle=_stream_incremental_oracle(),
    doc="STREAMING incremental near-dup ingestion — the production end-to-end shape: "
    "the existing corpus's (even doc_ids) MinHash band keys live in a partitioned "
    "signature store; new documents (odd doc_ids) arrive as a stream in "
    f"{DOC_STREAM_FILES} micro-batches, and each batch in foreachBatch (a) computes "
    "signatures for ITS documents only, (b) probes the store's base snapshot with a "
    "band-key equi-join (partition-pruned by band; per-batch cost O(batch + matches), "
    "never O(corpus)), and (c) APPENDS its own band rows to the store, so the store "
    "grows by exactly the batch's rows (asserted per-batch in "
    "tests/test_streaming.py::test_incremental_minhash_store_grows_by_batch_only). "
    "Matches accumulate in an append sink; the union over "
    "batches == the batch twin (dedup_incremental_minhash), which is what the oracle "
    "recomputes from raw text. Probes hit only the immutable base partition, so the "
    "result is independent of how documents split into batches "
    "(streaming extension; SURVEY §2.9 + north-star dedup)",
    tags=("streaming", "dedup", "pipeline"),
)
def stream_incremental_minhash(
    spark: SparkSession, sf_dir: str, audit_out: list | None = None
) -> DataFrame:
    import shutil

    from http_datafusion_spark.operators.dedup import (
        banded_signature,
        minhash_signature_of,
        probe_band_store,
    )
    from http_datafusion_spark.plans.tables import load_tables, scratch_path

    run_id = uuid.uuid4().hex[:8]
    store_path = scratch_path("sigstore_stream", sf_dir, "documents") + f"_{run_id}"
    matches_path = scratch_path("sigmatches_stream", sf_dir, "documents") + f"_{run_id}"
    ckpt_path = tempfile.mkdtemp(prefix="hds_ckpt_")

    # one-time base-store build for the "existing" corpus (even doc_ids)
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    base = banded_signature(minhash_signature_of(docs.filter(F.col("doc_id") % 2 == 0)))
    base.withColumn("origin", F.lit("base")).write.mode("overwrite").partitionBy(
        "band"
    ).parquet(store_path)

    schema = spark.read.parquet(staged_docs_dir(spark, sf_dir)).schema

    def probe_and_append(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        new_bands = banded_signature(
            minhash_signature_of(batch.filter(F.col("doc_id") % 2 == 1))
        ).transform(pin)  # cut the lineage: probe + append re-use it
        store_before = sess.read.parquet(store_path).count() if audit_out is not None else None
        store_base = sess.read.parquet(store_path).filter(F.col("origin") == "base")
        probe_band_store(new_bands, store_base).write.mode("append").parquet(matches_path)
        new_bands.withColumn("origin", F.lit("stream")).write.mode("append").partitionBy(
            "band"
        ).parquet(store_path)
        if audit_out is not None:
            # evidence for the O(new docs) growth claim: the store gains
            # exactly this batch's band rows, never a function of corpus size
            audit_out.append(
                {
                    "batch_id": batch_id,
                    "batch_band_rows": new_bands.count(),
                    "store_rows_before": store_before,
                    "store_rows_after": sess.read.parquet(store_path).count(),
                }
            )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged_docs_dir(spark, sf_dir))
    )
    q = (
        stream.writeStream.foreachBatch(probe_and_append)
        .option("checkpointLocation", ckpt_path)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    # materialize the result, then reclaim the run-scoped scratch dirs —
    # repeated gate/test runs must not grow /tmp unboundedly
    out = spark.read.parquet(matches_path).transform(pin)
    for d in (store_path, matches_path, ckpt_path):
        shutil.rmtree(d, ignore_errors=True)
    return out


TIMEORDER_FILES = 6  # time-range files -> in-order micro-batches


def staged_timeordered_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as TIMEORDER_FILES range-partitioned-by-ts parquet
    files whose mtimes INCREASE with the time range, so the file stream
    source (which orders files by modification time) replays the table
    in event-time order, one range per micro-batch — the staging for
    operators whose semantics depend on cross-batch time order
    (debounce, as-of state machines). Same fingerprint guard as
    staged_docs_dir."""
    from http_datafusion_spark.plans.tables import fingerprint_tables

    _ensure_session_confs(spark)
    name = sf_dir.strip("/").replace("/", "_")
    fp = fingerprint_tables(sf_dir, "events")
    d = os.path.join(tempfile.gettempdir(), f"hds_stream_to_{name}_{fp}")
    marker = os.path.join(d, "_STAGED")
    if not os.path.exists(marker):
        (
            spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            .repartitionByRange(TIMEORDER_FILES, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(d)
        )
        # part-0000i is the i-th ts range (repartitionByRange orders
        # partitions by range); stamp increasing mtimes so the source's
        # modTime ordering equals time order.
        parts = sorted(
            f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")
        )
        base = int(os.path.getmtime(os.path.join(d, parts[0])))
        for i, f in enumerate(parts):
            os.utime(os.path.join(d, f), (base + i, base + i))
        with open(marker, "w") as fh:
            fh.write("ok")
    return d


def _debounce_oracle() -> str:
    import http_datafusion_spark.operators.timeseries  # noqa: F401  (registers the twin)
    from http_datafusion_spark.plans.registry import REGISTRY

    return REGISTRY["events_debounce"].oracle


@query(
    "stream_debounce",
    oracle=_debounce_oracle(),
    doc="STREAMING debounce — custom stateful operator (applyInPandasWithState): "
    "per (user, event_type) the state is (last_event_sec, n_events, n_kept); "
    "each micro-batch advances it and emits the running totals in update mode, "
    "so the final per-key row == the batch twin (events_debounce). Replay uses "
    "the time-ordered staging (staged_timeordered_dir) because the keep rule "
    "depends on the previous event in TIME — inherent to debouncing; on a real "
    "bus the same guarantee comes from per-key Kafka partition ordering. State "
    "is one tuple per key at any stream length "
    "(streaming extension; SURVEY §2.9 / custom stateful tier (b))",
    tags=("streaming", "events"),
)
def stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from http_datafusion_spark.streaming.stateful import debounce_stream

    d = staged_timeordered_dir(spark, sf_dir)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    out = run_to_memory(debounce_stream(stream), "update")
    # update-mode sink keeps one row per (key, batch); totals are
    # cumulative, so the final state per key is its max-n row.
    last = F.row_number().over(
        W.partitionBy("user_id", "event_type").orderBy(F.desc("n_events"))
    )
    return (
        out.withColumn("rk", last)
        .filter(F.col("rk") == 1)
        .select("user_id", "event_type", "n_events", "n_kept")
    )


DOCS_MOD_FILES = 4  # deterministic batch membership: doc_id % 4 == file index


def staged_docs_mod_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents as DOCS_MOD_FILES single-file parquets where file
    i holds exactly doc_id % N == i, with mtimes increasing in i — so a
    maxFilesPerTrigger=1 replay has DETERMINISTIC batch membership
    (batch k == residue class k), unlike a repartition() staging whose
    file contents depend on scan parallelism. SQL-expressible membership
    is what lets a commit-log replay be oracle-checked per version."""
    import shutil

    from http_datafusion_spark.plans.tables import fingerprint_tables, load_tables

    _ensure_session_confs(spark)
    name = sf_dir.strip("/").replace("/", "_")
    fp = fingerprint_tables(sf_dir, "documents")
    d = os.path.join(tempfile.gettempdir(), f"hds_stream_docmod_{name}_{fp}")
    marker = os.path.join(d, "_STAGED")
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        docs = load_tables(spark, sf_dir, "documents")["documents"]
        base = None
        for i in range(DOCS_MOD_FILES):
            tmp = os.path.join(d, f"_tmp_{i}")
            docs.filter(F.col("doc_id") % DOCS_MOD_FILES == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(d, f"residue-{i}.parquet")
            shutil.move(os.path.join(tmp, src), dst)
            shutil.rmtree(tmp, ignore_errors=True)
            if base is None:
                base = int(os.path.getmtime(dst))
            os.utime(dst, (base + i, base + i))
        with open(marker, "w") as fh:
            fh.write("ok")
    return d


def _snapshot_append_oracle() -> str:
    per_version = " UNION ALL ".join(
        f"""SELECT CAST({v} AS BIGINT) AS version,
             CAST(count(*) AS BIGINT)     AS n_docs,
             CAST(sum(doc_id) AS BIGINT)  AS id_checksum,
             CAST(sum(n_chars) AS BIGINT) AS char_checksum
        FROM documents WHERE doc_id % {DOCS_MOD_FILES} < {v}"""
        for v in range(1, DOCS_MOD_FILES + 1)
    )
    return per_version


@query(
    "stream_snapshot_append",
    oracle=_snapshot_append_oracle(),
    doc="STREAMING transactional table sink — the streaming half of "
    "snapshot_versioned_read: each micro-batch foreachBatch-writes its rows as "
    "immutable files then commits manifest v(k+1) = v(k)'s files + its own "
    "(the commit protocol of a lake table format: data files first, one "
    "atomic metadata pointer last — a crashed batch leaves orphan files, "
    "never a corrupt table). The query then TIME-TRAVELS the whole commit "
    "log: every manifest version is read through its file list and "
    "checksummed; the oracle recomputes each version's membership (batch k == "
    "doc_id residue class k, made deterministic by the mod-staging) from the "
    "raw table. State per commit is a KB-scale file list, never data "
    "(streaming extension; SURVEY §2.9 + lake table format)",
    tags=("streaming", "pipeline"),
)
def stream_snapshot_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import shutil

    from http_datafusion_spark.plans.tables import scratch_path

    run_id = uuid.uuid4().hex[:8]
    root = scratch_path("snapstream", sf_dir, "documents") + f"_{run_id}"
    man_dir = os.path.join(root, "_manifests")
    os.makedirs(man_dir, exist_ok=True)
    ckpt = tempfile.mkdtemp(prefix="hds_ckpt_")

    d = staged_docs_mod_dir(spark, sf_dir)
    schema = spark.read.parquet(d).schema

    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        data_dir = os.path.join(root, f"batch_{batch_id}")
        batch.write.mode("overwrite").parquet(data_dir)
        new_files = sorted(
            os.path.join(data_dir, f)
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        )
        versions = sorted(
            int(f[1:-5]) for f in os.listdir(man_dir) if f.endswith(".json")
        )
        prev_files: list[str] = []
        if versions:
            with open(os.path.join(man_dir, f"v{versions[-1]}.json")) as fh:
                prev_files = json.load(fh)["files"]
        ver = (versions[-1] if versions else 0) + 1
        # data files are durable before the manifest pointer appears —
        # the atomic-commit ordering of every table format
        with open(os.path.join(man_dir, f"v{ver}.json"), "w") as fh:
            json.dump({"version": ver, "files": prev_files + new_files}, fh)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    q = stream.writeStream.foreachBatch(commit_batch).option(
        "checkpointLocation", ckpt
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    import functools

    outs = []
    for f in sorted(os.listdir(man_dir)):
        with open(os.path.join(man_dir, f)) as fh:
            m = json.load(fh)
        outs.append(
            spark.read.parquet(*m["files"]).agg(
                F.lit(m["version"]).cast("bigint").alias("version"),
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("doc_id").cast("bigint").alias("id_checksum"),
                F.sum("n_chars").cast("bigint").alias("char_checksum"),
            )
        )
    merged = functools.reduce(lambda a, b: a.unionByName(b), outs)
    result = merged.transform(pin)
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return result


UNION_TO_FILES = 6  # time-range files of the union replay


def staged_union_timeordered_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the (orders UNION events) temporal-join input as
    time-range-partitioned files with increasing mtimes — the
    event-time-ordered replay the streaming as-of join requires (same
    mechanics as staged_timeordered_dir, applied to the two-sided
    union: side 0 = orders carrying (orderkey, price), side 1 = events
    carrying event_id)."""
    from http_datafusion_spark.plans.tables import fingerprint_tables, load_tables

    _ensure_session_confs(spark)
    name = sf_dir.strip("/").replace("/", "_")
    fp = fingerprint_tables(sf_dir, "events", "orders", "customer")
    d = os.path.join(tempfile.gettempdir(), f"hds_stream_union_{name}_{fp}")
    marker = os.path.join(d, "_STAGED")
    if not os.path.exists(marker):
        t = load_tables(spark, sf_dir, "events", "orders", "customer")
        max_ck = t["customer"].agg(F.max("c_custkey").alias("m"))
        o = t["orders"].select(
            F.col("o_custkey").cast("bigint").alias("custkey"),
            F.unix_timestamp("o_orderdate").cast("bigint").alias("t_sec"),
            F.lit(0).cast("int").alias("side"),
            F.col("o_orderkey").cast("bigint").alias("id"),
            F.round("o_totalprice", 2).cast("double").alias("val"),
        )
        e = (
            t["events"]
            .crossJoin(F.broadcast(max_ck))
            .select(
                (F.col("user_id") % F.col("m") + 1).cast("bigint").alias("custkey"),
                F.unix_timestamp("ts").cast("bigint").alias("t_sec"),
                F.lit(1).cast("int").alias("side"),
                F.col("event_id").cast("bigint").alias("id"),
                F.lit(0.0).alias("val"),
            )
        )
        (
            o.unionByName(e)
            .repartitionByRange(UNION_TO_FILES, "t_sec")
            .sortWithinPartitions("t_sec")
            .write.mode("overwrite")
            .parquet(d)
        )
        parts = sorted(
            f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")
        )
        base = int(os.path.getmtime(os.path.join(d, parts[0])))
        for i, f in enumerate(parts):
            os.utime(os.path.join(d, f), (base + i, base + i))
        with open(marker, "w") as fh:
            fh.write("ok")
    return d


def _temporal_join_oracle() -> str:
    import http_datafusion_spark.operators.asof  # noqa: F401  (registers the twin)
    from http_datafusion_spark.plans.registry import REGISTRY

    return REGISTRY["asof_join_latest_order"].oracle


@query(
    "stream_temporal_join",
    oracle=_temporal_join_oracle(),
    doc="STREAMING temporal (as-of) join — Flink's temporal-table join as a "
    "custom stateful operator: orders and events ride ONE event-time-ordered "
    "union stream (side marker; staged_union_timeordered_dir), state per "
    "customer is the latest order by (t, orderkey) — deterministic under any "
    "within-batch arrival order because the fold is a max, with orders applied "
    "before same-timestamp events (the <= of backward as-of) — and every event "
    "emits enriched with that state in append mode. Result == the batch "
    "asof_join_latest_order, checked against the SAME oracle. State is one "
    "tuple per customer at any stream length; on a real bus the ordering "
    "guarantee is per-key Kafka partition order + a watermark hold "
    "(streaming extension; SURVEY §2.9 + as-of family)",
    tags=("streaming", "asof", "join"),
)
def stream_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.streaming.stateful import temporal_join_stream

    d = staged_union_timeordered_dir(spark, sf_dir)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    out = run_to_memory(temporal_join_stream(stream), "append")
    return out.select("event_id", "custkey", "asof_orderkey", "asof_price")


def _stream_quality_oracle() -> str:
    import http_datafusion_spark.operators.text as _text  # noqa: F401

    from http_datafusion_spark.operators.text import QMODEL_DIM, _qmodel_weights_sql

    return f"""
    WITH weights AS ({_qmodel_weights_sql()}),
    toks AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(concat('qb|', tok)), 1, 15)) AS BIGINT)
               % {QMODEL_DIM} AS j
      FROM toks
    ),
    scored AS (
      SELECT f.doc_id, f.source,
             CAST(sum(w.w) AS DOUBLE) / count(*) AS score
      FROM feats f JOIN weights w USING (j)
      GROUP BY f.doc_id, f.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                                  AS n_docs,
           CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS keep_rate
    FROM scored GROUP BY source
    """


@query(
    "stream_quality_gate",
    oracle=_stream_quality_oracle(),
    doc="STREAMING quality gate — quality_model_score deployed in the ingest "
    "stream: documents arrive in micro-batches, each batch's tokens hash to "
    "feature buckets and join the BROADCAST weight vector (a stream-static "
    "broadcast join — the model rides with the stream, no state store), "
    "per-doc mean-weight scores gate keep/drop INSIDE the micro-batch (docs "
    "arrive whole, so the decision is batch-local — foreachBatch, no state "
    "store), and the per-source keep rates over all batches == the batch "
    "twin. This is the shape a "
    "production corpus filter actually runs as: the gate decides per "
    "micro-batch at ingest, not in a nightly sweep "
    "(streaming extension; SURVEY §2.9 + quality-model arc complete)",
    tags=("streaming", "text", "pipeline"),
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from http_datafusion_spark.functions.hashing import md5_int
    from http_datafusion_spark.operators.text import QMODEL_DIM, whitespace_tokens
    from http_datafusion_spark.plans.tables import scratch_path

    run_id = uuid.uuid4().hex[:8]
    out_path = scratch_path("qgate_stream", sf_dir, "documents") + f"_{run_id}"
    ckpt = tempfile.mkdtemp(prefix="hds_ckpt_")
    d = staged_docs_dir(spark, sf_dir)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)

    def score_batch(batch: DataFrame, _bid: int) -> None:
        # per-doc scoring is batch-local (a doc arrives whole), so the
        # gate decides inside the micro-batch — no cross-batch state
        sess = batch.sparkSession
        weights = sess.range(QMODEL_DIM).select(
            F.col("id").alias("j"),
            (((md5_int(F.concat(F.lit("qw|"), F.col("id").cast("string"))) % 2001) - 1000)
             / 1000.0).cast("decimal(18,3)").alias("w"),
        )
        feats = batch.select(
            "doc_id", "source",
            F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("tok"),
        ).select(
            "doc_id", "source",
            (md5_int(F.concat(F.lit("qb|"), F.col("tok"))) % QMODEL_DIM).alias("j"),
        )
        (
            feats.join(F.broadcast(weights), "j")
            .groupBy("doc_id", "source")
            .agg((F.sum("w").cast("double") / F.count(F.lit(1))).alias("score"))
            .select("source", (F.col("score") > 0).alias("keep"))
            .write.mode("append")
            .parquet(out_path)
        )

    q = stream.writeStream.foreachBatch(score_batch).option(
        "checkpointLocation", ckpt
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    decisions = spark.read.parquet(out_path)
    out = (
        decisions.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
            F.round(
                F.sum(F.col("keep").cast("int")) * 1.0 / F.count(F.lit(1)), 6
            ).alias("keep_rate"),
        )
        .transform(pin)
    )
    shutil.rmtree(out_path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


# ------------------------------------------ watermark late-drop twin

# Deterministic out-of-order replay: arrival = event time + a
# +-WM_JITTER_SEC md5 jitter, bucketed into WM_ARRIVAL_FILES fixed
# ranges — so a maxFilesPerTrigger=1 replay has SQL-expressible batch
# membership AND genuine cross-batch event-time disorder (unlike the
# ts-range staging, which replays in perfect order and can never drop
# anything).
#
# Jitter geometry: Spark 4.1's stateful late filter uses
# watermarkForLateEvents, which is the EVICTION watermark of the
# PREVIOUS batch — i.e. a batch-b row is dropped iff its window end
# <= max-event-time(batches <= b-2) - slack (SPARK-40925 split the
# single watermark into late-events/eviction pairs to support chained
# stateful operators; the late side lags one batch). For a drop to
# ever fire, a row must therefore land >= 2 arrival buckets after its
# event time: 2*J must exceed bucket_span + slack + window. The events
# table spans ~30 days, so arrival span = 30d + 2J and bucket_span =
# span/6; J = 5 days gives 2J = 10d vs bucket ~6.7d — real drops in
# every replay (pinned by tests/test_streaming.py's
# numRowsDroppedByWatermark assertion). A +-6h jitter could never
# out-lag the one-batch watermark delay, so nothing would be dropped
# and an eager-drop oracle would be wrong.
WM_ARRIVAL_FILES = 6
WM_SLACK_SEC = 1799  # odd on purpose: never ties an hour-aligned window end
WM_WINDOW_SEC = 3600
WM_JITTER_SEC = 432_000  # +-5d arrival jitter: rows land >=2 batches late

# Filled by stream_watermark_late_drop on each run: the per-microbatch
# progress dicts, so tests can pin that numRowsDroppedByWatermark > 0
# actually fired (a drop oracle over a stream that never drops proves
# nothing).
WM_LAST_PROGRESS: list = []


def _arrival_us(ts_us, jitter_sec):  # noqa: ANN001 - Column math helper
    return ts_us + jitter_sec * 1_000_000


def staged_arrival_dir(
    spark: SparkSession, sf_dir: str, jitter_sec: int = WM_JITTER_SEC, echo: bool = False
) -> str:
    """Stage events as WM_ARRIVAL_FILES single-file parquets bucketed by
    the deterministic jittered arrival key, mtimes increasing — batch k
    is a closed-form function of (event_id, ts), so the watermark
    machinery's per-batch drops are oracle-computable. ``jitter_sec``
    parameterizes the disorder magnitude (the conformance matrix replays
    the same table under several geometries; dirs are cached per
    (sf_dir, fingerprint, jitter[, echo])).

    With ``echo=True``, file k additionally carries a RETRANSMISSION of
    every bucket-(k-1) row — an exact duplicate (same event_id, same
    event time) arriving one batch later, the at-least-once-delivery
    shape a streaming dedup stage exists to absorb. Last-bucket rows
    get no echo (there is no bucket k+1 to land in). Echoes are
    watermark-NEUTRAL by construction: batch k's max event time is
    max(orig_max(k), orig_max(k-1)), and the running max already
    includes orig_max(k-1) from batch k-1 — so the chained-dedup oracle
    (stream_dedup_windowed_chain) reuses the plain two-watermark model
    over originals only."""
    import shutil

    from http_datafusion_spark.functions.hashing import md5_int
    from http_datafusion_spark.plans.tables import fingerprint_tables, load_tables

    _ensure_session_confs(spark)
    name = sf_dir.strip("/").replace("/", "_")
    fp = fingerprint_tables(sf_dir, "events")
    suffix = "_echo" if echo else ""
    d = os.path.join(
        tempfile.gettempdir(), f"hds_stream_wm_{name}_{fp}_j{jitter_sec}{suffix}"
    )
    marker = os.path.join(d, "_STAGED")
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        ev = load_tables(spark, sf_dir, "events")["events"]
        j = md5_int(F.concat(F.lit("wmj|"), F.col("event_id").cast("string"))) % (2 * jitter_sec) - jitter_sec
        a = F.unix_micros(F.col("ts")) + j.cast("bigint") * 1_000_000
        ev = ev.withColumn("__a", a)
        ext = ev.agg(F.min("__a").alias("amin"), F.max("__a").alias("amax")).collect()[0]
        span = ext["amax"] - ext["amin"] + 1
        bcol = F.least(
            F.lit(WM_ARRIVAL_FILES - 1),
            F.floor((F.col("__a") - ext["amin"]) * WM_ARRIVAL_FILES / span),
        ).cast("bigint")
        ev = ev.withColumn("__b", bcol)
        base = None
        for i in range(WM_ARRIVAL_FILES):
            batch = ev.filter(F.col("__b") == i)
            if echo and i > 0:
                batch = batch.unionAll(ev.filter(F.col("__b") == i - 1))
            tmp = os.path.join(d, f"_tmp_{i}")
            batch.drop("__a", "__b").coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(d, f"arrival-{i}.parquet")
            shutil.move(os.path.join(tmp, src), dst)
            shutil.rmtree(tmp, ignore_errors=True)
            if base is None:
                base = int(os.path.getmtime(dst))
            os.utime(dst, (base + i, base + i))
        with open(marker, "w") as fh:
            fh.write("ok")
    return d


def _wm_model_sql(jitter_sec: int, slack_sec: int, ts_level: bool = False) -> str:
    """The two-watermark emit/drop model as one parameterized SELECT —
    shared by the single late-drop twin, the conformance matrix, and
    the chained-dedup twin, so a semantics correction lands in every
    config at once.

    ``ts_level=True`` switches the late filter from the window
    aggregation's granule (drop iff window END <= watermarkForLateEvents
    — an open window SALVAGES its late rows) to the dedup operator's
    granule (drop iff the row's own EVENT TIME <= the watermark). In a
    dedup -> windowed-agg chain the dedup filter runs first and is
    strictly stricter (ts <= window end always), so the chain drops rows
    the plain aggregation would have kept — the observable cost of
    putting a dedup stage in front of a windowed count."""
    from http_datafusion_spark.functions.hashing import md5_int_sql

    h = md5_int_sql("concat('wmj|', CAST(event_id AS VARCHAR))")
    jit = f"({h} % {2 * jitter_sec} - {jitter_sec})"
    n = WM_ARRIVAL_FILES
    wus = WM_WINDOW_SEC * 1_000_000
    keep = (
        "x.tus > wm.wm_prev"
        if ts_level
        else f"(x.tus // {wus}) * {wus} + {wus} > wm.wm_prev"
    )
    return f"""
    WITH j AS (
      SELECT event_id, epoch_us(ts) AS tus,
             epoch_us(ts) + CAST({jit} AS BIGINT) * 1000000 AS a
      FROM events
    ), ext AS (
      SELECT min(a) AS amin, max(a) AS amax FROM j
    ), b AS (
      SELECT event_id, tus,
             least({n - 1}, CAST(floor((a - amin) * {n}.0 / (amax - amin + 1)) AS BIGINT)) AS b
      FROM j, ext
    ), bm AS (
      SELECT b, max(tus) AS bmax FROM b GROUP BY b
    ), wm AS (
      -- watermarkForLateEvents for batch b = the EVICTION watermark of
      -- batch b-1 = max event time over batches <= b-2, minus slack
      -- (one batch behind eviction; SPARK-40925). Hence 2 PRECEDING.
      SELECT b,
             (max(bmax // 1000) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 2 PRECEDING)
              - {slack_sec} * 1000) * 1000 AS wm_prev
      FROM bm
    ), kept AS (
      SELECT x.event_id, x.tus, (x.tus // {wus}) * {wus} AS wstart
      FROM b x JOIN wm ON wm.b = x.b
      WHERE wm.wm_prev IS NULL OR {keep}
    ), fin AS (
      SELECT (max(bmax // 1000) - {slack_sec} * 1000) * 1000 AS final_wm FROM bm
    )
    SELECT CAST(wstart AS BIGINT) AS window_start_us,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_checksum
    FROM kept, fin
    WHERE wstart + {wus} <= fin.final_wm
    GROUP BY wstart
    """


@query(
    "stream_watermark_late_drop",
    oracle=_wm_model_sql(WM_JITTER_SEC, WM_SLACK_SEC) + " ORDER BY window_start_us",
    doc=f"STREAMING watermark drop semantics, twinned exactly: events replay "
    f"in {WM_ARRIVAL_FILES} deterministic jittered-arrival batches "
    f"(+-{WM_JITTER_SEC}s jitter: rows land >=2 batches out of order, so "
    f"drops genuinely fire), a withWatermark({WM_SLACK_SEC}s) tumbling "
    f"{WM_WINDOW_SEC}s count runs in append mode, and the oracle recomputes "
    f"Spark 4.1's exact TWO-watermark state machine from the raw table: the "
    f"late filter uses watermarkForLateEvents = the eviction watermark of "
    f"the previous batch (SPARK-40925), so a batch-b row is DROPPED iff its "
    f"window end <= max event time of batches <= b-2 minus the slack; a "
    f"window emits iff its end <= the final eviction watermark. The batch-"
    f"side sizing audit (events_watermark_lateness_audit) picks the slack; "
    f"this proves the engine's actual drop/emit behavior matches the model "
    f"it was sized with, and WM_LAST_PROGRESS exposes per-batch "
    f"numRowsDroppedByWatermark so tests pin that drops occurred. State = "
    f"open windows only (streaming extension; SURVEY §2.9)",
    tags=("streaming", "events", "window"),
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = staged_arrival_dir(spark, sf_dir)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    )
    agg = (
        stream.withWatermark("ts", f"{WM_SLACK_SEC} seconds")
        .groupBy(F.window("ts", f"{WM_WINDOW_SEC} seconds"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("id_checksum"),
        )
    )
    WM_LAST_PROGRESS.clear()
    out = run_to_memory(agg, "append", progress_out=WM_LAST_PROGRESS)
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "n_events",
        "id_checksum",
    ).orderBy("window_start_us")


# ------------------------------------- watermark conformance matrix

# (label, slack_sec, jitter_sec). Three geometries spanning the
# behavior space of the late-drop model:
#   - drop_j5d_s30m: the repaired late-drop geometry — rows land >=2
#     batches out of event-time order, drops fire in every replay.
#   - nodrop_j6h_s30m: ±6h jitter vs ~5-day
#     arrival buckets). Under the wrong eager-drop model this config
#     "drops" rows; under Spark's real two-watermark semantics nothing
#     can ever be late enough — the model must predict ZERO drops and
#     every closed window intact. Keeping it in the matrix pins the
#     distinction an eager-drop oracle gets wrong.
#   - drop_j5d_s4h: same disorder, 4h slack — slack widening must
#     monotonically reduce drops (checked in tests/test_streaming.py).
WM_CONFORMANCE_CONFIGS: tuple[tuple[str, int, int], ...] = (
    ("drop_j5d_s30m", WM_SLACK_SEC, WM_JITTER_SEC),
    ("nodrop_j6h_s30m", WM_SLACK_SEC, 21_600),
    ("drop_j5d_s4h", 14_399, WM_JITTER_SEC),
)

# label -> list of per-microbatch progress dicts from the last run;
# tests pin numRowsDroppedByWatermark per config (positive / zero /
# between) — the conformance evidence the oracle itself cannot see.
WM_MATRIX_PROGRESS: dict[str, list] = {}


def _wm_matrix_oracle() -> str:
    branches = "\n    UNION ALL\n".join(
        f"SELECT '{label}' AS config, * FROM ({_wm_model_sql(jit, slack)})"
        for label, slack, jit in WM_CONFORMANCE_CONFIGS
    )
    return branches + "\n    ORDER BY config, window_start_us"


@query(
    "stream_wm_conformance_matrix",
    oracle=_wm_matrix_oracle(),
    doc="STREAMING two-watermark conformance suite (r9 VERDICT task 6a): "
    "the SAME events table replays under three (slack, jitter) geometries "
    "— drops-fire, the exact r9 zero-drop geometry, and wide-slack — each "
    "as a real append-mode watermark windowed count, all checked against "
    "one parameterized SQL model of Spark 4.1's two-watermark state "
    "machine (late filter = watermarkForLateEvents = previous batch's "
    "eviction watermark, SPARK-40925; emit iff window end <= final "
    "eviction watermark). The zero-drop config is the geometry that made "
    "the r9 oracle red under the naive eager-drop model, kept as a "
    "regression pin; per-config numRowsDroppedByWatermark accounting "
    "(positive / zero / monotone in slack) is asserted in "
    "tests/test_streaming.py. State = open windows only per config "
    "(streaming extension; SURVEY §2.9)",
    tags=("streaming", "events", "window"),
)
def stream_wm_conformance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    WM_MATRIX_PROGRESS.clear()
    for label, slack, jit in WM_CONFORMANCE_CONFIGS:
        d = staged_arrival_dir(spark, sf_dir, jitter_sec=jit)
        schema = spark.read.parquet(d).schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
        )
        agg = (
            stream.withWatermark("ts", f"{slack} seconds")
            .groupBy(F.window("ts", f"{WM_WINDOW_SEC} seconds"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("event_id").cast("bigint").alias("id_checksum"),
            )
        )
        progress: list = []
        out = run_to_memory(agg, "append", progress_out=progress)
        WM_MATRIX_PROGRESS[label] = progress
        outs.append(
            out.select(
                F.lit(label).alias("config"),
                F.unix_micros(F.col("window.start")).alias("window_start_us"),
                "n_events",
                "id_checksum",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("config", "window_start_us")


# --------------------------------- chained stateful: dedup -> window agg

# Per-microbatch progress of the last chained run; tests pin that BOTH
# stateful operators are present and that the dedup stage absorbed the
# echo retransmissions (state rows > 0, agg input < stream input).
WM_CHAIN_PROGRESS: list = []


@query(
    "stream_dedup_windowed_chain",
    oracle=_wm_model_sql(WM_JITTER_SEC, WM_SLACK_SEC, ts_level=True)
    + " ORDER BY window_start_us",
    doc=f"STREAMING chained stateful operators — dropDuplicates(event_id, ts) "
    f"feeding a tumbling {WM_WINDOW_SEC}s count in ONE append-mode query: "
    f"the pipeline shape SPARK-40925's late-events/eviction watermark split "
    f"exists to make correct. The staging retransmits every event once, one "
    f"arrival batch later (at-least-once delivery); the dedup stage must "
    f"absorb each echo either via state (original still resident) or via "
    f"the late filter (original evicted implies the echo is below "
    f"watermarkForLateEvents — provably no third path, see "
    f"staged_arrival_dir), so echoes NEVER reach the aggregation and are "
    f"watermark-neutral. The oracle is therefore the same two-watermark "
    f"model over unique originals, with the late filter at the dedup's "
    f"granule: a row drops iff its own EVENT TIME <= "
    f"watermarkForLateEvents(batch) — stricter than the plain window-end "
    f"filter of stream_watermark_late_drop, so chaining observably costs "
    f"rows an unchained aggregation keeps. State = one tuple per "
    f"in-watermark (event_id, ts) + open windows "
    f"(streaming extension; SURVEY §2.9)",
    tags=("streaming", "events", "window"),
)
def stream_dedup_windowed_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = staged_arrival_dir(spark, sf_dir, echo=True)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    )
    deduped = stream.withWatermark("ts", f"{WM_SLACK_SEC} seconds").dropDuplicates(
        ["event_id", "ts"]
    )
    agg = deduped.groupBy(F.window("ts", f"{WM_WINDOW_SEC} seconds")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )
    WM_CHAIN_PROGRESS.clear()
    out = run_to_memory(agg, "append", progress_out=WM_CHAIN_PROGRESS)
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "n_events",
        "id_checksum",
    ).orderBy("window_start_us")


# --------------------------------- left-outer stream-stream join

@query(
    "stream_outer_interval_join",
    oracle="""
    WITH c AS (
      SELECT user_id, ts AS c_ts, epoch_us(ts) AS c_us
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts AS p_ts, value FROM events WHERE event_type = 'purchase'
    ), fin AS (
      SELECT (least(
                (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'click'),
                (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'purchase')
              ) // 1000 - 3600 * 1000) * 1000 AS wm
    ), m AS (
      SELECT c.user_id, c.c_us, p.value
      FROM c JOIN p
        ON p.user_id = c.user_id
       AND p.p_ts >= c.c_ts
       AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    ), u AS (
      SELECT c.user_id
      FROM c, fin
      WHERE NOT EXISTS (
              SELECT 1 FROM m WHERE m.user_id = c.user_id AND m.c_us = c.c_us)
        AND c.c_us + 1800 * 1000000 < fin.wm
    )
    SELECT user_id,
           CAST(sum(n_matched) AS BIGINT)  AS n_matched,
           CAST(sum(n_null) AS BIGINT)     AS n_null_emitted,
           round(sum(v), 4)                AS attributed_value
    FROM (
      SELECT user_id, 1 AS n_matched, 0 AS n_null, value AS v FROM m
      UNION ALL
      SELECT user_id, 0, 1, 0.0 FROM u
    )
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="stream-stream LEFT OUTER interval join (clicks x purchases, 30-min "
    "event-time range, 1h watermarks both sides): matched pairs emit as the "
    "inner join does, but an unmatched click's null-padded row is emitted "
    "ONLY once the joint watermark (min of the two sides' watermarks) "
    "passes the click's last matchable instant c_ts + 30min — clicks in "
    "the final 1h+30min of the stream stay open and emit NOTHING, the "
    "held-back-outer-rows semantics that distinguishes a streaming outer "
    "join from its batch twin. The oracle models exactly that: batch "
    "left-join plus the wm > c_ts+30min null-emission gate with "
    "wm = min(max click ts, max purchase ts) - 1h (ms-floored). State is "
    "O(rate x [range + slack]) per side — rows older than watermark+range "
    "are evicted, which is precisely the eviction that releases the null "
    "rows (streaming extension; SURVEY §2.9)",
    tags=("streaming", "join"),
)
def stream_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    out = run_to_memory(joined, "append")
    return (
        out.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("p_value").cast("bigint").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("p_value")).cast("bigint").alias("n_null_emitted"),
            F.round(F.coalesce(F.sum("p_value"), F.lit(0.0)), 4).alias("attributed_value"),
        )
        .orderBy("user_id")
    )


def _srm_tail_sql() -> str:
    """A&S normal tail for the streaming SRM oracle (deferred import:
    streaming must not import the stats module at module-load time in
    workers)."""
    from http_datafusion_spark.operators.stats import _phi_tail_sql

    return _phi_tail_sql("sqrt(chi2)")


@query(
    "stream_srm_check",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket_h,
             user_id, user_id % 2 AS arm
      FROM events
    ),
    seg AS (
      SELECT bucket_h,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS arm0_users,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS arm1_users
      FROM u GROUP BY bucket_h
    ),
    stat AS (
      SELECT bucket_h, arm0_users, arm1_users,
             round(CAST((arm0_users - arm1_users) * (arm0_users - arm1_users)
                        AS DOUBLE) / (arm0_users + arm1_users), 6) AS chi2
      FROM seg
    )
    SELECT bucket_h, arm0_users, arm1_users, chi2,
           round(2.0 * {{tail}}, 6) AS p_value,
           2.0 * {{tail}} < {{floor_p}} AS srm_flag
    FROM stat ORDER BY bucket_h
    """.replace("{tail}", _srm_tail_sql()).replace("{floor_p}", "0.001"),
    doc="streaming sample-ratio-mismatch guard: the events_srm_check "
    "assignment-integrity gate run CONTINUOUSLY per event-time hour — "
    "cross-batch stateful dropDuplicates on (hour, user) (a user's events "
    "for one hour arrive across many micro-batches; only state dedups "
    "them), then a complete-mode per-hour arm-count aggregate; chi-square "
    "and the A&S tail polynomial are computed on the sink output exactly "
    "as the batch twin does, so the oracle is the batch per-hour SRM "
    "table. An experiment platform runs precisely this as a live guard — "
    "a mid-experiment assignment bug flips srm_flag within an hour "
    "instead of at the readout. Dedup state = one entry per (hour, user); "
    "at 100 TB a watermark bounds it to open hours (streaming extension)",
    tags=("streaming", "stats"),
)
def stream_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.stats import SRM_P_FLOOR, _phi_tail

    stream = read_events_stream(spark, sf_dir)
    keyed = stream.select(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("bucket_h"),
        "user_id",
        (F.col("user_id") % 2).alias("arm"),
    ).dropDuplicates(["bucket_h", "user_id"])
    seg = keyed.groupBy("bucket_h").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("arm0_users"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("arm1_users"),
    )
    out = run_to_memory(seg, "complete")
    d = F.col("arm0_users") - F.col("arm1_users")
    stat = out.select(
        "bucket_h",
        "arm0_users",
        "arm1_users",
        F.round(
            (d * d).cast("double") / (F.col("arm0_users") + F.col("arm1_users")), 6
        ).alias("chi2"),
    )
    p = F.lit(2.0) * _phi_tail(F.sqrt(F.col("chi2")))
    return stat.select(
        "bucket_h",
        "arm0_users",
        "arm1_users",
        "chi2",
        F.round(p, 6).alias("p_value"),
        (p < SRM_P_FLOOR).alias("srm_flag"),
    ).orderBy("bucket_h")


def _msprt_oracle_sql() -> str:
    """Oracle for the streaming mSPRT monitor — the batch twin's SQL
    verbatim (deferred import, same rationale as _srm_tail_sql)."""
    from http_datafusion_spark.operators.stats import (
        _MSPRT_DAILY_SQL,
        _MSPRT_TAIL_SQL,
    )

    return f"WITH g AS (\n{_MSPRT_DAILY_SQL}\n),\n{_MSPRT_TAIL_SQL}"


@query(
    "stream_msprt_monitor",
    oracle=_msprt_oracle_sql(),
    doc="the events_msprt_sequential always-valid sequential test run "
    "as a LIVE experiment monitor: the day-grain per-arm purchase-value "
    "moment table (the mSPRT sufficient statistic) is maintained by a "
    "complete-mode streaming aggregate — each micro-batch folds new "
    "purchases into their day's moments — and the mSPRT math "
    "(cumulative moments -> log-Lambda -> running-max always-valid "
    "p-value) runs on the bounded sink output via the SAME "
    "msprt_from_daily helper as the batch twin, so the two cannot "
    "drift; the oracle is the batch twin's SQL verbatim. This is the "
    "deployment shape the always-valid guarantee exists FOR — the "
    "p-value updates as data streams in and stays valid under "
    "continuous peeking. State = one row per (day, arm-moment), "
    "watermark-boundable to open days at 100 TB (streaming extension; "
    "SURVEY §2.9)",
    tags=("streaming", "stats"),
)
def stream_msprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.stats import (
        msprt_daily_aggregate,
        msprt_from_daily,
    )

    stream = read_events_stream(spark, sf_dir)
    g = msprt_daily_aggregate(stream)
    out = run_to_memory(g, "complete")
    return msprt_from_daily(out)


def _gs_oracle_sql() -> str:
    """Oracle for the streaming group-sequential monitor — the batch
    twin's SQL verbatim (deferred import, same rationale as
    _srm_tail_sql)."""
    from http_datafusion_spark.operators.stats import _MSPRT_DAILY_SQL, _gs_tail_sql

    return f"WITH g AS (\n{_MSPRT_DAILY_SQL}\n),\n{_gs_tail_sql()}"


@query(
    "stream_group_sequential",
    oracle=_gs_oracle_sql(),
    doc="the events_group_sequential Lan-DeMets alpha-spending design "
    "run as a LIVE experiment monitor: the day-grain per-arm "
    "purchase-value moment table (the shared mSPRT sufficient "
    "statistic) is maintained by a complete-mode streaming aggregate, "
    "and the look schedule + spending math run on the bounded sink "
    "output via the SAME group_sequential_from_daily helper as the "
    "batch twin, so the two cannot drift; the oracle is the batch "
    "twin's SQL verbatim (the stream_msprt_monitor / "
    "stream_cusum_monitor pattern). This is how the classical K-look "
    "design deploys in practice — the dashboard shows each scheduled "
    "interim's z against its O'Brien-Fleming boundary and the alpha "
    "spent so far, updating as data arrives, while the schedule itself "
    "keeps the type-I budget the always-valid mSPRT twin trades "
    "power for. State = one row per (day, arm-moment), "
    "watermark-boundable to open days at 100 TB (streaming extension; "
    "SURVEY §2.9)",
    tags=("streaming", "stats"),
)
def stream_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.stats import (
        group_sequential_from_daily,
        msprt_daily_aggregate,
    )

    stream = read_events_stream(spark, sf_dir)
    g = msprt_daily_aggregate(stream)
    out = run_to_memory(g, "complete")
    return group_sequential_from_daily(out)


def _ab_effect_oracle_sql() -> str:
    """Oracle for the live A/B effect monitor — event-grain per-arm
    moments per event_type, z-statistic and A&S-tail p-value (deferred
    import, same rationale as _srm_tail_sql)."""
    from http_datafusion_spark.operators.stats import _Q6, _phi_tail_sql

    return f"""
    WITH m AS (
      SELECT event_type,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN {_Q6.format(x='value')} END) AS DOUBLE) AS s0,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN {_Q6.format(x='value')} END) AS DOUBLE) AS s1,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN {_Q6.format(x='value * value')} END) AS DOUBLE) AS t0,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN {_Q6.format(x='value * value')} END) AS DOUBLE) AS t1
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT event_type, n0, n1,
             round(s1 / n1 - s0 / n0, 6) AS delta,
             round(abs((s1 / n1 - s0 / n0)
                   / sqrt((t0 / n0 - (s0 / n0) * (s0 / n0)) / n0
                        + (t1 / n1 - (s1 / n1) * (s1 / n1)) / n1)), 6) AS z_abs
      FROM m
    )
    SELECT event_type, n0, n1, delta, z_abs,
           round(2.0 * {_phi_tail_sql('z_abs')}, 6) AS p_value
    FROM z ORDER BY event_type
    """


@query(
    "stream_ab_effect_monitor",
    oracle=_ab_effect_oracle_sql(),
    doc="live A/B effect monitor: a complete-mode streaming aggregate "
    "maintains per-(event_type, arm) value moments — state is a FIXED "
    "|event_type| x 2 cell grid at any corpus size, the best-bounded "
    "state shape in the streaming set — and each micro-batch's sink "
    "output yields the running two-sample z and A&S-tail p-value per "
    "event_type. The event-grain twin of the user-grain batch tests "
    "(events_ab_lift / events_ab_power_mde): event grain is what a "
    "bounded-state live monitor can afford (per-user state would grow "
    "with users), and the oracle is the SAME event-grain computation "
    "so the readout is honest about what it measures — the batch "
    "user-grain test remains the decision-maker, this is the "
    "glass-cockpit dial. Moments 6dp-decimal in the streaming agg, z "
    "6dp-rounded before the shared Horner tail polynomial",
    tags=("streaming", "stats"),
)
def stream_ab_effect_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.stats import _phi_tail, _q6

    stream = read_events_stream(spark, sf_dir)
    arm = (F.col("user_id") % 2).alias("arm")
    v = F.col("value")
    m = stream.select("event_type", arm, v.alias("value")).groupBy(
        "event_type"
    ).agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, _q6(F.col("value")))).cast("double").alias("s0"),
        F.sum(F.when(F.col("arm") == 1, _q6(F.col("value")))).cast("double").alias("s1"),
        F.sum(F.when(F.col("arm") == 0, _q6(F.col("value") * F.col("value"))))
        .cast("double")
        .alias("t0"),
        F.sum(F.when(F.col("arm") == 1, _q6(F.col("value") * F.col("value"))))
        .cast("double")
        .alias("t1"),
    )
    out = run_to_memory(m, "complete")
    mean0 = F.col("s0") / F.col("n0")
    mean1 = F.col("s1") / F.col("n1")
    se = F.sqrt(
        (F.col("t0") / F.col("n0") - mean0 * mean0) / F.col("n0")
        + (F.col("t1") / F.col("n1") - mean1 * mean1) / F.col("n1")
    )
    z = F.round(F.abs((mean1 - mean0) / se), 6)
    return out.select(
        "event_type",
        "n0",
        "n1",
        F.round(mean1 - mean0, 6).alias("delta"),
        z.alias("z_abs"),
        F.round(F.lit(2.0) * _phi_tail(z), 6).alias("p_value"),
    ).orderBy("event_type")


def _cusum_oracle_sql() -> str:
    """Oracle for the streaming CUSUM monitor — the batch twin's SQL
    verbatim (deferred import, same rationale as _srm_tail_sql)."""
    from http_datafusion_spark.operators.timeseries import _CUSUM_ORACLE_SQL

    return _CUSUM_ORACLE_SQL


@query(
    "stream_cusum_monitor",
    oracle=_cusum_oracle_sql(),
    doc="streaming CUSUM volume monitor: events_cusum_drift's Page (1954) "
    "sequential change-point detector run CONTINUOUSLY — a complete-mode "
    "per-(event_type, event-time day) count aggregate over the stream, "
    "then the shared cusum_from_daily scan on the sink output, so the "
    "oracle is the batch twin's SQL verbatim (the same pattern as "
    "stream_srm_check / stream_msprt_monitor: corpus-sized work lives in "
    "the streaming aggregate, the sequential statistic runs over the "
    "calendar-bounded day grid). An ingest pipeline runs exactly this as "
    "a live volume guard — a feed outage or duplication storm trips the "
    "5-sigma alarm the day it starts instead of at the next batch audit. "
    "State = |event_type| x |open days| counters (streaming extension)",
    tags=("streaming", "events", "timeseries"),
)
def stream_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.timeseries import cusum_from_daily

    stream = read_events_stream(spark, sf_dir)
    seg = stream.groupBy(
        "event_type",
        F.window("ts", "1 day").alias("w"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    out = run_to_memory(seg, "complete")
    daily = out.select(
        "event_type", F.to_date(F.col("w.start")).alias("day"), "x"
    )
    return cusum_from_daily(daily)
