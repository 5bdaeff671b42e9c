"""As-of (point-in-time) join — an operator the reference's engine
lacks entirely (SURVEY §2.3: DataFusion 43 has no ASOF JOIN) and Spark
has no native form of either.

Implemented with the union-merge trick rather than a pairwise
range-join: both sides are unioned with a side marker, sorted within
each key partition by (time, side), and the right-side payload is
carried forward with ``last(..., ignorenulls=True)`` over a running
window. One shuffle on the join key, no row-pair explosion — at 100 TB
this is the difference between O(N log N) and the O(N·M) blowup of a
naive ``t_left >= t_right`` theta join.

Demo query: each event joined to the most recent order (by order date)
of its mapped customer. Ties on order time break by max orderkey —
fully deterministic and mirrored in the oracle's QUALIFY form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import load_tables


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: list[str],
    direction: str = "backward",
    strict: bool = False,
    tolerance: int | None = None,
) -> DataFrame:
    """For every left row, attach the matching right row sharing key
    ``on``:

    - ``direction="backward"`` (default): the latest right row with
      ``right_time <= left_time`` (``<`` when ``strict``);
    - ``direction="forward"``: the earliest right row with
      ``right_time >= left_time`` (``>`` when ``strict``) —
      implemented by running the same union-merge on negated time;
    - ``tolerance``: maximum allowed |left_time - right_time| (same
      units as the time columns); matches further away resolve to NULL.

    Left columns are preserved; payload columns arrive as
    ``asof_<name>`` (null when no qualifying right row exists). One
    shuffle on the key at any scale — never a row-pair explosion.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    # ALL payload columns travel in ONE struct carried by a single
    # last(ignorenulls=True): per-column carries would mix values from
    # different right rows whenever a payload field is NULL in one right
    # row but not another (latest orderkey paired with an older price).
    # The struct also carries the matched right time for tolerance.
    rdt = dict(right.dtypes)
    payload_t = (
        "struct<"
        + ",".join(f"asof_{c}:{rdt[c]}" for c in payload_cols)
        + f",_rt:{rdt[right_time]}>"
    )
    # Forward as-of == backward as-of on negated time.
    sign = F.lit(1) if direction == "backward" else F.lit(-1)
    # Non-strict: right rows sort BEFORE left at equal time (<= matches);
    # strict: left rows first, so an equal-time right row is invisible.
    l_prio, r_prio = (1, 0) if not strict else (0, 1)
    lt = left.select(
        F.col(on).alias("_k"),
        (F.col(left_time) * sign).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(l_prio).alias("_prio"),
        F.lit(None).cast("bigint").alias("_tie"),
        F.lit(None).cast(payload_t).alias("_payload"),
        F.struct(*left.columns).alias("_row"),
    )
    rt = right.select(
        F.col(on).alias("_k"),
        (F.col(right_time) * sign).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(r_prio).alias("_prio"),
        F.col(payload_cols[0]).cast("bigint").alias("_tie"),
        F.struct(
            *[F.col(c).alias(f"asof_{c}") for c in payload_cols],
            F.col(right_time).alias("_rt"),
        ).alias("_payload"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in left.schema.fields) + ">"
        ).alias("_row"),
    )
    # Ties among right rows resolve to the greatest _tie (payload key).
    w = (
        W.partitionBy("_k")
        .orderBy("_t", "_prio", F.col("_tie").asc_nulls_last())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # AQE's byte-based coalescing squeezes this merge window into a
    # handful of tasks at bench scale (6 x 0.9 s in the task histogram),
    # and that stands: an explicit-width repartition on _k measured a net
    # loss on 32 cores — sf0.1 latest_order 0.73 -> 0.86 s, nearest
    # 1.09 -> 1.45 s; sf5 latest_order 2.20 -> 2.52 s, nearest
    # 3.76 -> 4.38 s (only attribution_window_sweep improved, -37% at
    # sf5). The extra task width costs more scheduling than the window
    # compute it spreads.
    carried = lt.unionByName(rt).select(
        "_side",
        "_t",
        "_row",
        F.last("_payload", ignorenulls=True).over(w).alias("_payload"),
    )
    if tolerance is not None:
        gap = F.abs(F.col("_t") * sign - F.col("_payload._rt"))
        carried = carried.withColumn(
            "_payload",
            F.when(gap <= tolerance, F.col("_payload")).otherwise(F.lit(None).cast(payload_t)),
        )
    return carried.filter(F.col("_side") == 1).select(
        "_row.*", *[f"_payload.asof_{c}" for c in payload_cols]
    )


@query(
    "asof_join_latest_order",
    oracle="""
    WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
    ev AS (
      SELECT event_id, user_id % m + 1 AS custkey, CAST(floor(epoch(ts)) AS BIGINT) AS t_sec
      FROM events, mx
    )
    SELECT event_id, custkey,
           o_orderkey AS asof_orderkey,
           round(o_totalprice, 2) AS asof_price
    FROM ev
    LEFT JOIN orders ON o_custkey = custkey AND CAST(floor(epoch(o_orderdate)) AS BIGINT) <= t_sec
    QUALIFY row_number() OVER (
      PARTITION BY event_id
      ORDER BY floor(epoch(o_orderdate)) DESC NULLS LAST, o_orderkey DESC NULLS LAST
    ) = 1
    """,
    doc="as-of join: each event -> latest preceding order of its customer, union-merge implementation (beyond-reference operator)",
    tags=("asof", "join", "bench"),
    # DuckDB-native ASOF JOIN for the proxy bench: the ANSI
    # inequality-join + QUALIFY formulation above explodes to
    # events x orders-per-key intermediate rows (at sf5 that spilled
    # >79 GB of temp blocks and died on disk); native ASOF is the
    # engine's best plan for the same semantics. Result-equivalence
    # asserted in tests/test_approx_and_misc.py.
    bench_oracle="""
    WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
    ev AS (
      SELECT event_id, user_id % m + 1 AS custkey, CAST(floor(epoch(ts)) AS BIGINT) AS t_sec
      FROM events, mx
    ),
    ord AS (
      SELECT o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_sec,
             o_orderkey, round(o_totalprice, 2) AS o_price
      FROM orders
    )
    SELECT event_id, custkey, o_orderkey AS asof_orderkey, o_price AS asof_price
    FROM ev ASOF LEFT JOIN ord ON ev.custkey = ord.o_custkey AND ord.o_sec <= ev.t_sec
    """,
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events", "orders", "customer")
    max_ck = t["customer"].agg(F.max("c_custkey").alias("m"))
    ev = (
        t["events"]
        .crossJoin(F.broadcast(max_ck))
        .select(
            "event_id",
            (F.col("user_id") % F.col("m") + 1).alias("custkey"),
            F.unix_timestamp("ts").alias("t_sec"),
        )
    )
    orders = t["orders"].select(
        F.col("o_custkey").alias("custkey"),
        F.unix_timestamp("o_orderdate").alias("o_sec"),
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_price"),
    )
    joined = asof_join(
        ev, orders, on="custkey", left_time="t_sec", right_time="o_sec",
        payload_cols=["o_orderkey", "o_price"],
    )
    return joined.select(
        "event_id",
        "custkey",
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.col("asof_o_price").alias("asof_price"),
    )


ATTRIB_TOL_SEC = 1800  # purchases more than 30 min after the click don't count


@query(
    "asof_join_click_purchase",
    oracle=f"""
    WITH c AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS pid, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS pt, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT event_id, pid AS asof_pid, round(value, 6) AS asof_value
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id AND pt > t AND pt - t <= {ATTRIB_TOL_SEC}
    QUALIFY row_number() OVER (
      PARTITION BY event_id
      ORDER BY pt ASC NULLS LAST, pid DESC NULLS LAST
    ) = 1
    """,
    doc=f"forward/strict/tolerance as-of join in one query: each click -> the EARLIEST strictly-later purchase of the same user within {ATTRIB_TOL_SEC}s (ties to max purchase id) — the attribution shape, exercising every asof_join option the API advertises (beyond-reference operator)",
    tags=("asof", "join"),
)
def asof_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("t")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.unix_timestamp("ts").alias("pt"),
        "value",
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="t",
        right_time="pt",
        payload_cols=("pid", "value"),
        direction="forward",
        strict=True,
        tolerance=ATTRIB_TOL_SEC,
    )
    return joined.select(
        "event_id",
        F.col("asof_pid"),
        F.round("asof_value", 6).alias("asof_value"),
    )


@query(
    "asof_join_nearest",
    oracle="""
    WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
    ev AS (
      SELECT event_id, user_id % m + 1 AS custkey,
             CAST(floor(epoch(ts)) AS BIGINT) AS t_sec
      FROM events, mx
    )
    SELECT event_id, custkey,
           o_orderkey                                 AS nearest_orderkey,
           CAST(abs(CAST(floor(epoch(o_orderdate)) AS BIGINT) - t_sec) AS BIGINT)
                                                      AS delta_sec
    FROM ev LEFT JOIN orders ON o_custkey = custkey
    QUALIFY row_number() OVER (
      PARTITION BY event_id
      ORDER BY abs(CAST(floor(epoch(o_orderdate)) AS BIGINT) - t_sec) ASC NULLS LAST,
               CASE WHEN CAST(floor(epoch(o_orderdate)) AS BIGINT) <= t_sec
                    THEN 0 ELSE 1 END,
               o_orderkey DESC NULLS LAST
    ) = 1
    """,
    doc="NEAREST as-of join — the remaining direction mode of the as-of family "
    "(pandas merge_asof direction='nearest'): each event attaches its "
    "customer's closest order in TIME, either side, ties to the backward "
    "match then max orderkey. Composed from the two one-sided union-merge "
    "passes (backward + forward, each one shuffle on the key, no pair "
    "explosion) joined 1:1 on the event key with a map-side distance pick — "
    "at 100 TB still O(N log N) per side where the oracle's inequality-join "
    "formulation explodes to events x orders-per-key "
    "(beyond-reference operator; SURVEY §2.3 as-of family complete)",
    tags=("asof", "join"),
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events", "orders", "customer")
    max_ck = t["customer"].agg(F.max("c_custkey").alias("m"))
    ev = (
        t["events"]
        .crossJoin(F.broadcast(max_ck))
        .select(
            "event_id",
            (F.col("user_id") % F.col("m") + 1).alias("custkey"),
            F.unix_timestamp("ts").alias("t_sec"),
        )
    )
    orders = t["orders"].select(
        F.col("o_custkey").alias("custkey"),
        F.unix_timestamp("o_orderdate").alias("o_sec"),
        "o_orderkey",
    )
    bwd = asof_join(
        ev, orders, on="custkey", left_time="t_sec", right_time="o_sec",
        payload_cols=["o_orderkey", "o_sec"], direction="backward",
    ).select(
        "event_id",
        "custkey",
        F.col("asof_o_orderkey").alias("b_key"),
        (F.col("t_sec") - F.col("asof_o_sec")).alias("b_d"),
    )
    fwd = asof_join(
        ev, orders, on="custkey", left_time="t_sec", right_time="o_sec",
        payload_cols=["o_orderkey", "o_sec"], direction="forward",
    ).select(
        F.col("event_id").alias("f_event_id"),
        F.col("asof_o_orderkey").alias("f_key"),
        (F.col("asof_o_sec") - F.col("t_sec")).alias("f_d"),
    )
    j = bwd.join(fwd, F.col("event_id") == F.col("f_event_id"))
    take_b = F.col("f_d").isNull() | (F.col("b_d").isNotNull() & (F.col("b_d") <= F.col("f_d")))
    return j.select(
        "event_id",
        "custkey",
        F.when(take_b, F.col("b_key")).otherwise(F.col("f_key")).alias("nearest_orderkey"),
        F.when(take_b, F.col("b_d")).otherwise(F.col("f_d")).cast("bigint").alias("delta_sec"),
    )
