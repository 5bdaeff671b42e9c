"""Coverage completion — remaining SURVEY.md §2 rows: LIKE/IN
predicates, USING/NATURAL joins, arg-extrema aggregates, UNION
distinct, struct/map scalar families, the registered-UDF surface, and
two more TPC-H-shaped bench heads (Q7/Q10 analogues).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_datafusion_spark.functions.fixedpoint import dsum, money_x_rate6, two_level_agg, unscale
from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import derived_dir, load_tables


@query(
    "q_like_in_predicates",
    oracle="""
    SELECT p_partkey, p_type, p_brand
    FROM part
    WHERE (p_type LIKE '%BRUSHED%' OR p_type ILIKE 'standard%')
      AND p_brand NOT LIKE 'Brand#4%'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND p_retailprice IS NOT NULL
    """,
    doc="LIKE / ILIKE / NOT LIKE / IN-list / IS NOT NULL predicates (SURVEY §2.2)",
    tags=("filter",),
)
def q_like_in_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_tables(spark, sf_dir, "part")["part"]
    return (
        p.filter(
            (F.col("p_type").like("%BRUSHED%") | F.col("p_type").ilike("standard%"))
            & ~F.col("p_brand").like("Brand#4%")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
            & F.col("p_retailprice").isNotNull()
        )
        .select("p_partkey", "p_type", "p_brand")
    )


@query(
    "q_join_using",
    oracle="""
    SELECT nationkey, CAST(count(*) AS BIGINT) AS n_pairs
    FROM (SELECT c_nationkey AS nationkey, c_custkey FROM customer)
    JOIN (SELECT s_nationkey AS nationkey, s_suppkey FROM supplier) USING (nationkey)
    GROUP BY nationkey
    """,
    doc="JOIN ... USING named-column join (SURVEY §2.3)",
    tags=("join",),
)
def q_join_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, "customer", "supplier")
    return spark.sql(
        """
        SELECT nationkey, count(*) AS n_pairs
        FROM (SELECT c_nationkey AS nationkey, c_custkey FROM customer)
        JOIN (SELECT s_nationkey AS nationkey, s_suppkey FROM supplier) USING (nationkey)
        GROUP BY nationkey
        """
    )


@query(
    "q_natural_join",
    oracle="""
    SELECT n_name, r_name
    FROM (SELECT n_name, n_regionkey AS rk FROM nation)
    NATURAL JOIN (SELECT r_regionkey AS rk, r_name FROM region)
    """,
    doc="NATURAL JOIN on shared column names (SURVEY §2.3)",
    tags=("join",),
)
def q_natural_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, "nation", "region")
    return spark.sql(
        """
        SELECT n_name, r_name
        FROM (SELECT n_name, n_regionkey AS rk FROM nation)
        NATURAL JOIN (SELECT r_regionkey AS rk, r_name FROM region)
        """
    )


@query(
    "q_agg_arg_extrema",
    oracle="""
    SELECT c_nationkey,
           max_by(c_name, c_custkey)  AS newest_customer,
           min_by(c_name, c_custkey)  AS oldest_customer,
           round(max(c_acctbal), 2)   AS max_bal,
           any_value(c_mktsegment ORDER BY c_custkey) AS a_segment
    FROM customer
    GROUP BY c_nationkey
    """,
    doc="max_by/min_by arg-extrema + deterministic any_value (SURVEY §2.4 first/last_value row)",
    tags=("agg",),
)
def q_agg_arg_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir, "customer")["customer"]
    # Spark's any_value has no ORDER BY — min_by on the unique key gives
    # the same deterministic "first by custkey" semantics.
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", "c_custkey").alias("newest_customer"),
        F.min_by("c_name", "c_custkey").alias("oldest_customer"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.min_by("c_mktsegment", "c_custkey").alias("a_segment"),
    )


@query(
    "q_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
    doc="UNION with set (distinct) semantics (SURVEY §2.7)",
    tags=("setop",),
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "supplier")
    return (
        t["customer"].select(F.col("c_nationkey").alias("nationkey"))
        .union(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


@query(
    "q_struct_funcs",
    oracle="""
    SELECT o_orderkey,
           {'status': o_orderstatus, 'prio': o_orderpriority}.status          AS s_status,
           {'status': o_orderstatus, 'prio': o_orderpriority}.prio            AS s_prio,
           to_json({'k': o_orderkey, 'p': round(o_totalprice, 2)})            AS s_json,
           {'outer': {'inner': o_orderstatus}}.outer.inner                    AS nested_field
    FROM orders
    WHERE o_orderkey % 101 = 0
    """,
    doc="struct/named_struct build + field access + nested access + to_json (SURVEY §2.8 struct family)",
    tags=("scalar",),
)
def q_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    s = F.struct(F.col("o_orderstatus").alias("status"), F.col("o_orderpriority").alias("prio"))
    nested = F.struct(F.struct(F.col("o_orderstatus").alias("inner")).alias("outer"))
    return o.filter(F.col("o_orderkey") % 101 == 0).select(
        "o_orderkey",
        s.getField("status").alias("s_status"),
        s.getField("prio").alias("s_prio"),
        F.to_json(
            F.struct(F.col("o_orderkey").alias("k"), F.round("o_totalprice", 2).alias("p"))
        ).alias("s_json"),
        nested.getField("outer").getField("inner").alias("nested_field"),
    )


@query(
    "q_map_funcs",
    oracle="""
    SELECT n_nationkey,
           map(['name', 'region'], [n_name, CAST(n_regionkey AS VARCHAR)])['name'][1]  AS m_name,
           array_to_string(list_sort(map_keys(map(['name', 'region'], [n_name, CAST(n_regionkey AS VARCHAR)]))), ',') AS keys_csv,
           CAST(cardinality(map(['name', 'region'], [n_name, CAST(n_regionkey AS VARCHAR)])) AS BIGINT) AS m_size
    FROM nation
    """,
    doc="map build + element access + map_keys + cardinality (SURVEY §2.8 map family)",
    tags=("scalar",),
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_tables(spark, sf_dir, "nation")["nation"]
    m = F.map_from_arrays(
        F.array(F.lit("name"), F.lit("region")),
        F.array(F.col("n_name"), F.col("n_regionkey").cast("string")),
    )
    return n.select(
        "n_nationkey",
        F.element_at(m, "name").alias("m_name"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_csv"),
        F.size(m).cast("bigint").alias("m_size"),
    )


@query(
    "q_registered_udf",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS charged
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="UDF surface (SURVEY §2.10, extension): Arrow pandas_udf registered into SQL; oracle is the plain expression",
    tags=("udf",),
)
def q_registered_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, "lineitem")

    @F.pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    spark.udf.register("udf_charge", charge)
    return spark.sql(
        """
        SELECT l_returnflag,
               round(sum(udf_charge(l_extendedprice, l_discount, l_tax)), 2) AS charged
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


@query(
    "q7_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, yr,
           CAST(round(sum(CAST(volume AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS yr,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, yr
    """,
    doc="TPC-H Q7 shape: cross-nation trade volume by year (SURVEY §2.3/2.4)",
    tags=("join", "agg", "bench"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation")
    n1 = t["nation"].select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = F.col("supp_nation") != F.col("cust_nation")
    joined = (
        t["supplier"]
        .join(t["lineitem"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("yr"),
            money_x_rate6("l_extendedprice", "l_discount").alias("vol6"),
        )
    )
    return two_level_agg(
        joined,
        ["supp_nation", "cust_nation", "yr"],
        partial={"r6": F.sum(F.col("vol6"))},
        final={"revenue": unscale(dsum("r6"), round_to=2).cast("double")},
    )


@query(
    "q10_returned_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           round(max(c_acctbal), 2) AS acctbal
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: top returned-item revenue customers (SURVEY §2.3/2.4/2.6)",
    tags=("join", "agg", "topk", "bench"),
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partial-agg pushdown Catalyst won't do on its own: reduce lineitem
    # to (orderkey, revenue) BEFORE the fact-fact join, halving the join
    # input, then re-aggregate per customer (2.3 s -> 1.5 s at 10x sf).
    # EXACT regrouping at int64 scale-1e6 fixed point: every group is
    # schema-bounded (<= 7 lines/order, ~10 orders/customer), so the
    # scaled sums stay far below 2^63 at any SF and associative
    # re-summation cannot drift vs the single-pass oracle.
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    per_order = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(
            F.sum(money_x_rate6("l_extendedprice", "l_discount")).alias("rev6")
        )
    )
    per_cust = (
        per_order.join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev6").alias("rev6"))
    )
    return (
        per_cust.join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            unscale(dsum("rev6"), round_to=2).cast("double").alias("revenue"),
            F.round(F.max("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q_lateral_join",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM (SELECT c_custkey FROM customer WHERE c_custkey < 100) c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
    doc="LATERAL correlated subquery join: top-2 orders per customer via a "
    "per-row ORDER BY ... LIMIT subquery (SURVEY §2.3 join surface; DataFusion "
    "reaches this as a correlated subquery in FROM). Spark decorrelates the "
    "LIMIT-per-group into a ranked window join — no nested-loop re-execution "
    "per outer row, so the shape scales as one join + one window",
    tags=("join",),
)
def q_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM (SELECT c_custkey FROM customer WHERE c_custkey < 100) c
        JOIN LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


@query(
    "q_group_order_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ALL
    ORDER BY ALL
    """,
    doc="GROUP BY ALL / ORDER BY ALL sugar (modern SQL surface shared by Spark 3.4+, "
    "DuckDB, and DataFusion): grouping keys inferred from the non-aggregate select "
    "list, ordering over the full select list — resolves to the same partial+final "
    "hash aggregate as the explicit form (SURVEY §2.4/2.6)",
    tags=("agg",),
)
def q_group_order_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "q_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, nullif(o_orderstatus, o_orderstatus) AS null_key, o_orderpriority
      FROM orders WHERE o_orderkey < 50
    ), b AS (
      SELECT o_orderkey, nullif(o_orderstatus, o_orderstatus) AS null_key, o_orderpriority
      FROM orders WHERE o_orderkey < 50
    )
    SELECT a.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM a JOIN b
      ON a.null_key IS NOT DISTINCT FROM b.null_key
     AND a.o_orderpriority = b.o_orderpriority
    GROUP BY a.o_orderpriority
    """,
    doc="null-safe equality join (IS NOT DISTINCT FROM / <=>): NULL keys MATCH each "
    "other instead of vanishing — the derived null_key column is entirely NULL, so a "
    "plain equi-join would return 0 rows while the null-safe join pairs every row "
    "within its priority class (SURVEY §2.3 predicate surface). Spark plans <=> as a "
    "hash-join key, not a nested loop",
    tags=("join",),
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH a AS (
          SELECT o_orderkey, nullif(o_orderstatus, o_orderstatus) AS null_key, o_orderpriority
          FROM orders WHERE o_orderkey < 50
        ), b AS (
          SELECT o_orderkey, nullif(o_orderstatus, o_orderstatus) AS null_key, o_orderpriority
          FROM orders WHERE o_orderkey < 50
        )
        SELECT a.o_orderpriority,
               count(*) AS n_pairs
        FROM a JOIN b
          ON a.null_key <=> b.null_key
         AND a.o_orderpriority = b.o_orderpriority
        GROUP BY a.o_orderpriority
        """
    )


@query(
    "q_udaf_grouped",
    oracle="""
    SELECT l_returnflag,
           round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                     * CAST(round(l_discount * 100, 0) AS BIGINT))
                 / sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0,
                 6) AS wavg_discount
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="UDAF surface (SURVEY §2.10, extension): grouped-agg pandas_udf (Arrow series -> "
    "scalar per group) computing a price-weighted mean discount; integer cents/basis-point "
    "arithmetic keeps the sum exact so the value matches the oracle bit-for-bit",
    tags=("udf", "agg"),
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference exposes no UDAF hook (SURVEY §2.10: register_udf is
    never called); Spark's grouped-agg pandas UDF is the extension
    surface. Sums run in int64 (exact), so the final double division is
    order-independent and both engines round the same value."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]

    @F.pandas_udf("double")
    def wavg_disc(cents: pd.Series, bp: pd.Series) -> float:
        num = int((cents.to_numpy() * bp.to_numpy()).sum())
        den = int(cents.to_numpy().sum())
        return float(num) / float(den) / 100.0

    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    bp = F.round(F.col("l_discount") * 100, 0).cast("bigint")
    return (
        li.select("l_returnflag", cents.alias("cents"), bp.alias("bp"))
        .groupBy("l_returnflag")
        .agg(F.round(wavg_disc("cents", "bp"), 6).alias("wavg_discount"))
    )


@query(
    "q_python_udtf",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             CAST(o_orderkey % 4 + 1 AS BIGINT) AS k
      FROM orders WHERE o_orderkey % 97 = 0
    ), u AS (
      SELECT o_orderkey, cents, k, unnest(range(1, k + 1)) AS i FROM o
    )
    SELECT o_orderkey,
           CAST(i AS INT) AS installment_idx,
           CAST(CASE WHEN i < k THEN cents // k
                     ELSE cents - (k - 1) * (cents // k) END AS BIGINT) AS amount_cents
    FROM u
    """,
    doc="UDTF surface (SURVEY §2.10, extension): Python user-defined TABLE function with a "
    "TABLE(...) argument — splits each order's total into k installments (last absorbs the "
    "remainder); integer-cents arithmetic, row fan-out on executors",
    tags=("udf",),
)
def q_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One eval() per input row yields k output rows — the table-function
    fan-out shape (reference has no UDTF hook; SURVEY §2.10 extension).
    The TABLE() argument streams partitions through the UDTF on
    executors; nothing materializes on the driver."""
    from pyspark.sql.functions import udtf

    load_tables(spark, sf_dir, "orders")

    @udtf(returnType="o_orderkey bigint, installment_idx int, amount_cents bigint")
    class Installments:
        def eval(self, row):
            cents, k = row["cents"], row["k"]
            base = cents // k
            for i in range(1, k + 1):
                yield row["o_orderkey"], i, base if i < k else cents - (k - 1) * base

    spark.udtf.register("udtf_installments", Installments)
    return spark.sql(
        """
        SELECT * FROM udtf_installments(TABLE(
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
                 o_orderkey % 4 + 1 AS k
          FROM orders WHERE o_orderkey % 97 = 0
        ))
        """
    )


@query(
    "q_cogrouped_pandas",
    oracle="""
    WITH p AS (
      SELECT user_id, count(*) AS n_purchases, min(ts) AS mn, max(ts) AS mx
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), c AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id,
           CAST(p.n_purchases AS BIGINT) AS n_purchases,
           CAST(count(c.ts) AS BIGINT)   AS clicks_within
    FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts BETWEEN p.mn AND p.mx
    GROUP BY p.user_id, p.n_purchases
    """,
    doc="cogrouped pandas API (SURVEY §2.10 extension — the 4th pandas surface after "
    "mapInPandas/applyInPandas/applyInPandasWithState): two keyed frames land in one "
    "Arrow batch pair per key; counts clicks inside each user's purchase window",
    tags=("udf",),
)
def q_cogrouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sides shuffle once on the key, then each (clicks, purchases)
    group pair is handed to pandas together — the general two-table
    per-key merge shape (custom as-of variants, interval overlap,
    bitemporal reconciliation) when a join can't express the logic.
    State per key is bounded by that key's rows, not the table."""
    e = load_tables(spark, sf_dir, "events")["events"]
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    purch = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")

    def merge(clicks_pdf: pd.DataFrame, purch_pdf: pd.DataFrame) -> pd.DataFrame:
        if purch_pdf.empty:  # user never purchased: no output row (oracle's p side)
            return pd.DataFrame({"user_id": [], "n_purchases": [], "clicks_within": []})
        mn, mx = purch_pdf["ts"].min(), purch_pdf["ts"].max()
        within = (
            0
            if clicks_pdf.empty
            else int(((clicks_pdf["ts"] >= mn) & (clicks_pdf["ts"] <= mx)).sum())
        )
        return pd.DataFrame(
            {
                "user_id": [int(purch_pdf["user_id"].iloc[0])],
                "n_purchases": [len(purch_pdf)],
                "clicks_within": [within],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purch.groupBy("user_id"))
        .applyInPandas(merge, schema="user_id bigint, n_purchases bigint, clicks_within bigint")
    )


N_BUCKETS = 16


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize orders + lineitem BUCKETED BY orderkey (co-located
    layout). Bucketing is THE shuffle-elimination technique for
    repeated fact-fact joins at 100 TB: both sides land in the same
    hash buckets at write time, so every later join/aggregation on the
    bucket key reads co-located files and plans NO Exchange. Tables are
    external, written once per session and source fingerprint into a
    plans/tables.derived_dir directory (never the repo CWD warehouse);
    the table names carry that directory's unique name, so catalog
    entry and files share one memo."""

    def names(path: str) -> tuple[str, str]:
        tag = os.path.basename(path)
        return f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"

    def build(path: str) -> None:
        t = load_tables(spark, sf_dir, "orders", "lineitem")
        to, tl = names(path)
        (
            t["orders"]
            .select("o_orderkey", "o_orderpriority")
            .write.bucketBy(N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", os.path.join(path, "orders"))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(to)
        )
        (
            t["lineitem"]
            .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
            .write.bucketBy(N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", os.path.join(path, "lineitem"))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tl)
        )

    return names(derived_dir(spark, "bucketed", sf_dir, ("orders", "lineitem"), build))


@query(
    "q_bucketed_join",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
    doc=f"bucketed co-located fact-fact join: orders and lineitem written "
    f"BUCKETED BY orderkey ({N_BUCKETS} buckets, sorted) and joined via the "
    f"bucket layout — the physical plan has NO Exchange on either join side "
    f"(asserted by tests/test_plans.py::test_bucketed_join_has_no_exchange). "
    f"At 100 TB this is the repeated-join amortization strategy: pay the "
    f"partitioned write once, every subsequent join/agg on the key is "
    f"shuffle-free. Values hash-checked against the plain join on the raw "
    f"tables (SURVEY §2.3 scale extra)",
    tags=("join", "scale"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    to, tl = ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(to).filter(F.col("o_orderpriority") == "1-URGENT")
    li = spark.table(tl)
    joined = li.hint("merge").join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    return two_level_agg(
        joined,
        ["l_returnflag"],
        partial={
            "r6": F.sum(money_x_rate6("l_extendedprice", "l_discount")),
            "__n": F.count(F.lit(1)),
        },
        final={
            "revenue": unscale(dsum("r6"), round_to=2).cast("double"),
            "n": F.sum("__n"),
        },
    )
