"""Aggregation corpus — SURVEY.md §2.4.

count/sum/avg/min/max, DISTINCT aggregates, statistical aggregates,
exact percentiles/median, ordered string_agg, bool/bit aggregates,
HAVING, ROLLUP/CUBE/GROUPING SETS with grouping() flags, and
pivot-style conditional aggregation.

Oracle-compat rules applied throughout: integer-valued aggregates are
CAST to BIGINT on both sides (DuckDB's sum(INTEGER) yields HUGEINT,
Spark's yields BIGINT); float aggregates are rounded; approximate
aggregates (approx_count_distinct / percentile_approx / HLL) are
exercised in tests, not oracle-compared, since the sketches differ by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_datafusion_spark.functions.fixedpoint import i100, unscale
from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import load_tables


@query(
    "q_agg_basic",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)              AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           round(sum(o_totalprice), 2)           AS total,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_price,
           round(min(o_totalprice), 2)           AS min_price,
           round(max(o_totalprice), 2)           AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="core aggregates incl. count(DISTINCT) (SURVEY §2.4)",
    tags=("agg", "bench"),
)
def q_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.round(unscale(F.sum(i100("o_totalprice")), 2).cast("double") / F.count(F.lit(1)), 4).alias("avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6)               AS sd_qty,
           round(stddev_pop(l_quantity), 6)                AS sdp_qty,
           round(var_samp(l_quantity), 6)                  AS var_qty,
           round(var_pop(l_quantity), 6)                   AS varp_qty,
           round(corr(l_quantity, l_extendedprice), 6)     AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
           round(covar_pop(l_quantity, l_extendedprice), 4)  AS covar_p
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="statistical aggregates: stddev/variance/corr/covar (SURVEY §2.4)",
    tags=("agg",),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.stddev_pop("l_quantity"), 6).alias("sdp_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.var_pop("l_quantity"), 6).alias("varp_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_s"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covar_p"),
    )


@query(
    "q_agg_percentiles",
    oracle="""
    SELECT l_linestatus,
           round(median(l_extendedprice), 4)                 AS median_price,
           round(quantile_cont(l_extendedprice, 0.25), 4)    AS p25,
           round(quantile_cont(l_extendedprice, 0.90), 4)    AS p90
    FROM lineitem
    GROUP BY l_linestatus
    """,
    doc="exact median and continuous percentiles (SURVEY §2.4; approx variants tested separately)",
    tags=("agg",),
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_linestatus").agg(
        F.round(F.median("l_extendedprice"), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("l_extendedprice", F.lit(0.90)), 4).alias("p90"),
    )


@query(
    "q_agg_string_collect",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           CAST(count(*) AS BIGINT) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    """,
    doc="ordered string_agg / collect_list+sort (SURVEY §2.4 array_agg/string_agg row)",
    tags=("agg",),
)
def q_agg_string_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_tables(spark, sf_dir, "nation")["nation"]
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations_csv"),
        F.count(F.lit(1)).alias("n_nations"),
    )


@query(
    "q_agg_bool_bit",
    oracle="""
    SELECT c_nationkey,
           bool_and(c_acctbal > 0)                 AS all_positive,
           bool_or(c_acctbal > 9000)               AS any_rich,
           CAST(bit_and(c_custkey) AS BIGINT)      AS band,
           CAST(bit_or(c_custkey) AS BIGINT)       AS bor,
           CAST(bit_xor(c_custkey) AS BIGINT)      AS bxor,
           CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n_building
    FROM customer
    GROUP BY c_nationkey
    """,
    doc="bool_and/bool_or, bit_and/or/xor, conditional count (SURVEY §2.4)",
    tags=("agg",),
)
def q_agg_bool_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir, "customer")["customer"]
    return c.groupBy("c_nationkey").agg(
        F.bool_and(F.col("c_acctbal") > 0).alias("all_positive"),
        F.bool_or(F.col("c_acctbal") > 9000).alias("any_rich"),
        F.bit_and("c_custkey").alias("band"),
        F.bit_or("c_custkey").alias("bor"),
        F.bit_xor("c_custkey").alias("bxor"),
        F.sum(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)).alias("n_building"),
    )


@query(
    "q_agg_having",
    oracle="""
    SELECT l_suppkey, round(sum(l_extendedprice), 2) AS supp_revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    GROUP BY l_suppkey
    HAVING sum(l_extendedprice) > 100000 AND count(*) > 10
    """,
    doc="HAVING post-aggregation filter (SURVEY §2.4)",
    tags=("agg",),
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.sum("l_extendedprice").alias("_rev"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .filter((F.col("_rev") > 100000) & (F.col("n_items") > 10))
        .select("l_suppkey", F.round("_rev", 2).alias("supp_revenue"), "n_items")
    )


@query(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(count(*) AS BIGINT)  AS n,
           CAST(grouping(l_returnflag) AS BIGINT)  AS g_flag,
           CAST(grouping(l_linestatus) AS BIGINT)  AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP with grouping() flags (SURVEY §2.4)",
    tags=("agg",),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
    )


@query(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) AS total,
           CAST(count(*) AS BIGINT)    AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two dimensions (SURVEY §2.4)",
    tags=("agg",),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           round(sum(c_acctbal), 2) AS total_bal,
           CAST(count(*) AS BIGINT) AS n
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
    doc="GROUPING SETS (SURVEY §2.4)",
    tags=("agg",),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey,
               round(sum(c_acctbal), 2) AS total_bal,
               count(*) AS n
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@query(
    "q_pivot_conditional",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_open,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_filled,
           CAST(count(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)          AS n_discounted
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="pivot via conditional aggregation (SURVEY §2.4; portable pivot form)",
    tags=("agg",),
)
def q_pivot_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0)), 2).alias("qty_open"),
        F.round(F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0)), 2).alias("qty_filled"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )


@query(
    "q_sum_distinct",
    oracle="""
    SELECT l_returnflag,
           round(sum(DISTINCT l_quantity), 2) AS sum_distinct_qty,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="sum(DISTINCT) + count(DISTINCT) together (SURVEY §2.4)",
    tags=("agg",),
)
def q_sum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@query(
    "q_agg_approx",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
           abs(approx_count_distinct(l_partkey) * 1.0 / count(DISTINCT l_partkey) - 1) <= 0.1
               AS acd_within_10pct,
           abs(approx_quantile(l_extendedprice, 0.5) / median(l_extendedprice) - 1) <= 0.02
               AS aq_within_2pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="approx aggregates (HLL count-distinct, sketch median) checked as ratio bands vs their exact twins — the engines' sketches differ, the bands don't (SURVEY §2.4 approx rows; ref reaches them via datafusion-functions-aggregate, Cargo.lock:1065)",
    tags=("agg", "approx"),
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch outputs are engine-specific, so the oracle can't hash-match
    the raw values; instead BOTH engines emit whether their own sketch
    lands within a tolerance band of their own exact aggregate — the
    booleans (and the exact anchors) hash-match."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("acd"),
        F.median("l_extendedprice").alias("med"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("aq"),
    )
    # No rounded median anchor in the output: the two engines
    # interpolate even-count medians with different arithmetic and can
    # land a half-cent apart, flipping round(x, 2).
    return agg.select(
        "l_returnflag",
        "n_exact",
        (F.abs(F.col("acd") / F.col("n_exact") - 1) <= 0.1).alias("acd_within_10pct"),
        (F.abs(F.col("aq") / F.col("med") - 1) <= 0.02).alias("aq_within_2pct"),
    )


@query(
    "q_pivot_api",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2) AS F,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 2) AS O
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="native df.groupBy().pivot(values).sum() — the Spark API form of pivot, vs CASE-expansion oracle (SURVEY §2.4 extension; q_pivot_conditional shows the portable form)",
    tags=("agg", "pivot"),
)
def q_pivot_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit pivot value list: at scale never let pivot() run its
    distinct-values discovery job over the fact table."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .sum("l_extendedprice")
    )
    return piv.select(
        "l_returnflag",
        F.round("F", 2).alias("F"),
        F.round("O", 2).alias("O"),
    )


# Salted two-stage aggregation — the standard skew mitigation at scale:
# a hot key is split across N_SALT sub-keys so no single reducer owns
# it, then the partials (sum/count/min/max — all mergeable) combine in
# a second, tiny aggregation. The oracle is the PLAIN single-stage
# GROUP BY: the whole point is that salting is semantics-preserving.
N_SALT = 8


@query(
    "q_salted_skew_agg",
    oracle="""
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS sum_qty,
           round(min(l_quantity), 2) AS min_qty,
           round(max(l_quantity), 2) AS max_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY l_suppkey
    """,
    doc=f"salted two-stage aggregation (skew mitigation): stage 1 groups by "
    f"(l_suppkey, salt) with salt = l_orderkey % {N_SALT} so a hot supplier key "
    f"spreads over {N_SALT} reducers; stage 2 merges the mergeable partials "
    f"(sum/count/min/max) per key. Hash-checked against the plain single-stage "
    f"GROUP BY — salting is proven semantics-preserving, and the second shuffle "
    f"moves only |keys|x{N_SALT} partial rows, not data rows (100 TB skew playbook)",
    tags=("agg",),
)
def q_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    partial = (
        li.withColumn("salt", F.col("l_orderkey") % N_SALT)
        .groupBy("l_suppkey", "salt")
        .agg(
            F.count(F.lit(1)).alias("p_n"),
            F.sum("l_quantity").alias("p_sum_qty"),
            F.min("l_quantity").alias("p_min_qty"),
            F.max("l_quantity").alias("p_max_qty"),
            F.sum("l_extendedprice").alias("p_sum_price"),
        )
    )
    return partial.groupBy("l_suppkey").agg(
        F.sum("p_n").cast("bigint").alias("n"),
        F.round(F.sum("p_sum_qty"), 2).alias("sum_qty"),
        F.round(F.min("p_min_qty"), 2).alias("min_qty"),
        F.round(F.max("p_max_qty"), 2).alias("max_qty"),
        F.round(F.sum("p_sum_price"), 2).alias("sum_price"),
    )


@query(
    "q_salted_skew_join",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
    doc=f"salted skew JOIN (the join-side companion of q_salted_skew_agg): the big side "
    f"spreads each hot join key over {N_SALT} reducers via a deterministic salt, the "
    f"small side is replicated {N_SALT}x, and the join runs on (key, salt) — no single "
    f"reducer sees a hot key's full row set. Hash-checked against the plain join, so "
    f"the rewrite is proven semantics-preserving; exact-decimal revenue keeps the sum "
    f"order-independent (100 TB skew playbook, manual counterpart of AQE skew-join)",
    tags=("agg", "join"),
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shuffle_hash hint keeps it a shuffled join — salting is a no-op
    under broadcast, which is exactly when you would not need it.

    The salt is hash-derived (pmod of hash(orderkey, linenumber)), not
    ``l_linenumber % N``: linenumber only takes values 1..7, so a
    modulo salt would leave bucket 0 empty — one replica of the small
    side dead weight and hot keys spread over N-1 reducers, not N.
    """
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    li = t["lineitem"].withColumn(
        "salt", F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(N_SALT)).cast("int")
    )
    o = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)])).alias("salt")
    )
    joined = li.hint("shuffle_hash").join(
        o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt)
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(rev), 2).cast("double").alias("revenue"),
    )


@query(
    "hll_sketch_union",
    oracle="""
    WITH per_source AS (
      SELECT source,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_exact,
             abs(approx_count_distinct(doc_id) * 1.0 / count(DISTINCT doc_id) - 1) <= 0.1
               AS sketch_within_10pct
      FROM documents GROUP BY source
    ), global AS (
      SELECT '__all__' AS source,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_exact,
             abs(approx_count_distinct(doc_id) * 1.0 / count(DISTINCT doc_id) - 1) <= 0.1
               AS sketch_within_10pct
      FROM documents
    )
    SELECT * FROM per_source UNION ALL SELECT * FROM global
    """,
    doc="mergeable-sketch rollup: per-source HLL sketches (hll_sketch_agg) UNIONED "
    "into a global estimate (hll_union_agg) WITHOUT rescanning rows — the "
    "re-aggregatable pre-aggregation pattern that makes 100 TB distinct-count "
    "rollups one sketch-merge instead of a second corpus pass. Sketches are "
    "engine-specific, so (q_agg_approx convention) both engines emit their own "
    "sketch-vs-own-exact tolerance booleans plus exact anchors, which hash-match",
    tags=("agg", "approx"),
)
def hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    per_source = d.groupBy("source").agg(
        F.hll_sketch_agg("doc_id").alias("sk"),
        F.countDistinct("doc_id").alias("n_exact"),
    )
    per_row = per_source.select(
        "source",
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("sk").cast("double") / F.col("n_exact") - 1) <= 0.1
        ).alias("sketch_within_10pct"),
    )
    # the global estimate merges the per-source sketches — no second scan
    g_exact = d.agg(F.countDistinct("doc_id").alias("n_exact"))
    g = (
        per_source.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .crossJoin(F.broadcast(g_exact))
        .select(
            F.lit("__all__").alias("source"),
            "n_exact",
            (F.abs(F.col("est").cast("double") / F.col("n_exact") - 1) <= 0.1).alias(
                "sketch_within_10pct"
            ),
        )
    )
    return per_row.unionAll(g)


@query(
    "q_agg_filter_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
           round(sum(o_totalprice) FILTER (WHERE o_totalprice > 100000), 2)
             AS big_order_revenue,
           round(avg(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 4)
             AS avg_open_price,
           CAST(count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000)
                AS BIGINT) AS n_whale_customers
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="ANSI FILTER (WHERE ...) aggregate clause (SURVEY §2.4 — DataFusion "
    "supports it on every aggregate, reference-reachable via `sql:`): "
    "per-aggregate predicates incl. a filtered COUNT(DISTINCT), run through "
    "spark.sql so the SQL surface itself is what's exercised; Catalyst "
    "rewrites each FILTER into a conditional input (map-side partial aggs "
    "preserved — no extra scan or join per filtered aggregate)",
    tags=("agg",),
)
def q_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, "orders")["orders"].createOrReplaceTempView(
        "orders_v_fc"
    )
    return spark.sql("""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
                 AS n_finished,
               round(sum(o_totalprice) FILTER (WHERE o_totalprice > 100000), 2)
                 AS big_order_revenue,
               round(avg(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 4)
                 AS avg_open_price,
               CAST(count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000)
                    AS BIGINT) AS n_whale_customers
        FROM orders_v_fc
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """)
