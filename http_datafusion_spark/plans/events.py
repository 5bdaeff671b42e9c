"""Event-table corpus — time-series operators over ``events``
(FIXTURES.md): tumbling/sliding bucket aggregation, per-user ordering,
batch sessionization. The streaming twins live in streaming/queries.py.

Bucketing is expressed as ``floor(epoch/width)`` rather than
``F.window``/``time_bucket`` so the bucket key is a plain BIGINT both
engines compute identically (window-origin conventions differ between
engines; epoch math doesn't).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from http_datafusion_spark.functions.pinning import pin
from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import load_tables


@query(
    "events_tumbling_agg",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket_5m,
           event_type,
           CAST(count(*) AS BIGINT)        AS n,
           round(sum(value), 4)            AS total_value,
           round(avg(value), 6)            AS avg_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    doc="tumbling 5-minute window aggregation (epoch-bucketed) (FIXTURES events corpus)",
    tags=("events", "bench"),
)
def events_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    return (
        e.withColumn("bucket_5m", F.floor(F.unix_timestamp("ts") / 300).cast("bigint"))
        .groupBy("bucket_5m", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "events_sliding_agg",
    oracle="""
    WITH buckets AS (
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS b, value
      FROM events
    ), offsets AS (
      SELECT b + o AS win_start_bucket, value
      FROM buckets, unnest([0, 1]) AS t(o)
    )
    SELECT win_start_bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS total_value
    FROM offsets
    GROUP BY 1
    """,
    doc="sliding window (10 min window, 5 min slide) via bucket-offset expansion (FIXTURES events corpus)",
    tags=("events",),
)
def events_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A 10-minute window sliding every 5 minutes = each event lands in 2
    # 5-minute-aligned windows; explode the two memberships then re-agg
    # (exactly how Spark's F.window(slide) physically expands, but with a
    # portable integer bucket key).
    e = load_tables(spark, sf_dir, "events")["events"]
    return (
        e.withColumn("b", F.floor(F.unix_timestamp("ts") / 300).cast("bigint"))
        .withColumn("o", F.explode(F.array(F.lit(0), F.lit(1))))
        .withColumn("win_start_bucket", F.col("b") + F.col("o"))
        .groupBy("win_start_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@query(
    "events_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
           round(value - lag(value)  OVER w, 6)  AS delta_prev,
           round(lead(value) OVER w - value, 6)  AS delta_next,
           CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap_sec
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="per-user lag/lead deltas and inter-event gaps (FIXTURES events corpus)",
    tags=("events", "window"),
)
def events_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_timestamp("ts")
    return e.select(
        "event_id",
        "user_id",
        ep.alias("ts_sec"),
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 6).alias("delta_next"),
        (ep - F.unix_timestamp(F.lag("ts").over(w))).cast("bigint").alias("gap_sec"),
    )


_SESSION_GAP_SEC = 1800  # 30 minutes


@query(
    "events_sessionize",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, value, floor(epoch(ts)) AS es,
             CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > {_SESSION_GAP_SEC}
                  OR lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sessions AS (
      SELECT user_id, event_id, value, es,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id,
           CAST(session_id AS BIGINT)       AS session_id,
           CAST(count(*) AS BIGINT)         AS n_events,
           CAST(max(es) - min(es) AS BIGINT) AS duration_sec,
           round(sum(value), 4)             AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc=f"batch sessionization: {_SESSION_GAP_SEC // 60}-min-gap sessions via lag+cumsum (FIXTURES events corpus; streaming twin uses session_window)",
    tags=("events", "window", "bench"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.unix_timestamp("ts")
    prev = F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(prev.isNull() | ((es - prev) > _SESSION_GAP_SEC), 1).otherwise(0)
    wcum = W.partitionBy("user_id").orderBy("es", "event_id").rowsBetween(W.unboundedPreceding, 0)
    return (
        e.select("user_id", "event_id", "value", es.alias("es"), is_new.alias("is_new"))
        .withColumn("session_id", F.sum("is_new").over(wcum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("es") - F.min("es")).cast("bigint").alias("duration_sec"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select("user_id", F.col("session_id").cast("bigint").alias("session_id"), "n_events", "duration_sec", "session_value")
    )


@query(
    "events_session_window_native",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, value, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {_SESSION_GAP_SEC} * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, value, us,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY us
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM ordered
    )
    SELECT user_id,
           strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(make_timestamp(max(us) + {_SESSION_GAP_SEC} * 1000000),
                    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4)     AS session_value
    FROM sessions
    GROUP BY user_id, sid
    """,
    doc=f"native batch session_window (the same gap-merge the streaming twin uses, "
    f"{_SESSION_GAP_SEC // 60}-min gap): one groupBy(user, session_window) — Spark "
    f"merges events closer than the gap and emits [min ts, max ts + gap) bounds; "
    f"oracle rebuilds the islands with integer-microsecond arithmetic (new session "
    f"iff the gap is >= the threshold, session_window's boundary rule)",
    tags=("events", "window"),
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    sw = F.session_window("ts", f"{_SESSION_GAP_SEC} seconds")
    return (
        e.groupBy("user_id", sw.alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", fmt).alias("session_start"),
            F.date_format("sw.end", fmt).alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@query(
    "events_rate_profile",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / greatest(max(floor(epoch(ts))) - min(floor(epoch(ts))), 1), 6) AS events_per_sec,
           round(quantile_cont(value, 0.95), 6) AS p95_value,
           round(quantile_cont(value, 0.99), 6) AS p99_value
    FROM events
    GROUP BY event_type
    """,
    doc="per-type event-rate + tail-latency profile (exact p95/p99) (FIXTURES events corpus)",
    tags=("events",),
)
def events_rate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    ep = F.unix_timestamp("ts")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.count(F.lit(1)) / F.greatest(F.max(ep) - F.min(ep), F.lit(1)).cast("double"), 6
        ).alias("events_per_sec"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_value"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99_value"),
    )


@query(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT v.user_id,
           strftime(v.t_view, '%Y-%m-%d %H:%M:%S.%f')     AS t_view,
           strftime(c.t_click, '%Y-%m-%d %H:%M:%S.%f')    AS t_click,
           strftime(p.t_purchase, '%Y-%m-%d %H:%M:%S.%f') AS t_purchase,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT)                 AS funnel_depth
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
    doc="ordered funnel view -> click -> purchase: per-user first qualifying timestamp at each "
    "step (each step strictly after the previous). Three per-user partial aggregations sharing "
    "one shuffle key, so the funnel is a co-partitioned join chain at 100 TB — no window over "
    "the full event stream (FIXTURES events corpus)",
    tags=("events",),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    # Each per-user step frame feeds the next step AND the final wide
    # join; unpinned, the re-derivations compounded to 6 events scans
    # (scan audit). Checkpointing the user-bounded step frames pins
    # exactly three type-filtered, pushed-down events scans — one per
    # funnel layer (events_funnel_wilson_ci twin).
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .transform(pin)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .transform(pin)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
        .transform(pin)
    )
    depth = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .otherwise(1)
        .cast("bigint")
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.date_format("t_view", fmt).alias("t_view"),
            F.date_format("t_click", fmt).alias("t_click"),
            F.date_format("t_purchase", fmt).alias("t_purchase"),
            depth.alias("funnel_depth"),
        )
    )


@query(
    "events_retention",
    oracle="""
    WITH cohort AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS c_day FROM events GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS a_day FROM events
    )
    SELECT strftime(c.c_day, '%Y-%m-%d')            AS cohort_day,
           CAST(a.a_day - c.c_day AS BIGINT)        AS day_offset,
           CAST(count(*) AS BIGINT)                 AS n_users
    FROM cohort c JOIN active a ON c.user_id = a.user_id
    GROUP BY 1, 2
    """,
    doc="cohort retention: users grouped by first-seen day, counted at each later active-day "
    "offset — the activity matrix behind retention curves. Cohort assignment and the distinct "
    "activity set are both per-user partial aggregations on the same key; the final rollup is "
    "one small shuffle on (cohort_day, offset) (FIXTURES events corpus)",
    tags=("events",),
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    day = F.to_date("ts")
    cohort = e.groupBy("user_id").agg(F.min(day).alias("c_day"))
    active = e.select("user_id", day.alias("a_day")).distinct()
    return (
        cohort.join(active, "user_id")
        .groupBy(
            F.date_format("c_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("a_day", "c_day").cast("bigint").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "cdc_upsert_compaction",
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
    doc="CDC upsert compaction (latest-wins merge): the event log is read as a "
    "change stream keyed by user_id; one ranked window keeps the newest row per "
    "key ((ts, event_id) total order), and a key whose newest row is a delete "
    "marker ('error') disappears from the snapshot. This is the log->table "
    "compaction every incremental pipeline runs; one shuffle on the key, and "
    "WindowGroupLimit prunes to one row per key before the final filter",
    tags=("events", "pipeline"),
)
def cdc_upsert_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    rk = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    )
    return (
        e.withColumn("rk", rk)
        .filter((F.col("rk") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.round("value", 4).alias("last_value"),
        )
    )



@query(
    "cdc_scd2_intervals",
    oracle="""
    SELECT CAST(user_id AS BIGINT)  AS user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           CAST(lead(ts) OVER w IS NULL AS BOOLEAN) AS is_current,
           event_type,
           round(value, 4)          AS value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="SCD2 dimension build: each change-log row opens a version with "
    "[valid_from, valid_to) validity; valid_to is the next change's timestamp "
    "(NULL = current). The history-preserving complement of "
    "cdc_upsert_compaction's latest-wins snapshot — one shuffle on the key, "
    "one sorted window pass, (ts, event_id) total order for deterministic "
    "versioning",
    tags=("events", "pipeline"),
)
def cdc_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(nxt, fmt).alias("valid_to"),
        nxt.isNull().alias("is_current"),
        "event_type",
        F.round("value", 4).alias("value"),
    )

# Histogram: equi-width bins with the width_bucket convention
# (below-range -> 0, above-range -> n+1) written as explicit floor
# arithmetic — the same IEEE expression on both engines (the DuckDB
# build here has no width_bucket scalar).
HIST_LO, HIST_HI, HIST_BINS = 0.0, 400.0, 16
BIN_W = (HIST_HI - HIST_LO) / HIST_BINS  # 25.0, a double both engines parse identically


@query(
    "events_value_histogram",
    oracle=f"""
    SELECT CAST(CASE WHEN value < {HIST_LO} THEN 0
                     WHEN value >= {HIST_HI} THEN {HIST_BINS} + 1
                     ELSE CAST(floor((value - {HIST_LO}) / {BIN_W}) AS BIGINT) + 1 END AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS bin_sum,
           round(min(value), 4)     AS bin_min,
           round(max(value), 4)     AS bin_max
    FROM events
    GROUP BY 1
    """,
    doc=f"equi-width histogram over events.value: floor-bucketed into {HIST_BINS} bins "
    f"on [{HIST_LO}, {HIST_HI}] plus under/overflow bins — one partial-agg shuffle "
    f"keyed by bin (bounded cardinality), the profiling primitive for choosing "
    f"quantization/clipping ranges in a feature pipeline",
    tags=("events", "agg"),
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    return (
        e.withColumn(
            "bin",
            F.when(F.col("value") < HIST_LO, 0)
            .when(F.col("value") >= HIST_HI, HIST_BINS + 1)
            .otherwise(F.floor((F.col("value") - HIST_LO) / BIN_W).cast("bigint") + 1)
            .cast("bigint"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("bin_sum"),
            F.round(F.min("value"), 4).alias("bin_min"),
            F.round(F.max("value"), 4).alias("bin_max"),
        )
    )
