"""Statistical-inference operators over the relational tables: the
hypothesis-testing / calibration layer a data pipeline runs BEFORE it
trusts an experiment readout or a model score.

- ``events_srm_check`` — sample-ratio-mismatch guard (the first thing
  any A/B platform checks; a biased assignment invalidates every
  downstream lift number).
- ``stats_bh_fdr`` — Benjamini-Hochberg FDR control across per-segment
  tests (25 nations tested at once WILL produce false positives at
  per-test alpha; BH is the standard correction).
- ``ml_calibration_bins`` — reliability diagram + per-bin Brier terms
  for a probabilistic score (a mis-calibrated quality score corrupts
  threshold-based curation).
- ``ml_conformal_coverage`` — split-conformal prediction intervals
  (Vovk; Angelopoulos & Bates 2021 tutorial form): distribution-free
  coverage check for a point predictor.
- ``ml_auc_roc`` / ``ml_pr_auc`` — threshold-free ranking-quality
  audits (ROC-AUC with tie handling; step-interpolated average
  precision + best-F1 operating point) computed on the distinct-score
  grain, never per-row ranks.
- ``feature_mutual_info`` — plug-in mutual information / NMI between
  categorical feature pairs (the feature-redundancy screen run before
  target encoding).
- ``events_msprt_sequential`` — always-valid sequential A/B p-values
  (mixture SPRT, Johari/Pekelis/Walsh 2017 'Peeking at A/B Tests'):
  the daily monitoring readout that stays valid under continuous
  peeking, unlike the fixed-horizon z-test.

Shared numeric discipline: the normal CDF tail is the Abramowitz &
Stegun 26.2.17 polynomial (Zelen & Severo) written in IDENTICAL Horner
form on both engines, fed 6dp-quantized z so the only cross-engine
divergence risk is a last-ULP ``exp`` difference — washed by the 6dp
output rounding (the events_markov_entropy_rate transcendental
discipline). All moment sums are 6dp-decimal quantized (order
independent); no row-at-a-time Python anywhere.

The reference (abduldjafar/http-datafusion) exposes no statistics
surface at all (src/execution.rs: plain SQL passthrough); this module
is pipeline extension ground like operators/timeseries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from http_datafusion_spark.functions.pinning import pin
from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import load_tables

# Abramowitz & Stegun 26.2.17 constants (public domain handbook).
_AS_P = 0.2316419
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_INV_SQRT_2PI = 0.3989422804014327

# Horner form of b1*t + b2*t^2 + ... + b5*t^5 — the SAME association
# order in SQL and in Spark so the doubles match bit-for-bit up to exp.
_HORNER_SQL = (
    f"((((({_AS_B[4]}) * {{t}} + ({_AS_B[3]})) * {{t}} + ({_AS_B[2]})) * {{t}} "
    f"+ ({_AS_B[1]})) * {{t}} + ({_AS_B[0]})) * {{t}}"
)


def _phi_tail_sql(z: str) -> str:
    """SQL for the upper-tail normal probability 1 - Phi(z), z >= 0."""
    t = f"(1.0 / (1.0 + {_AS_P} * ({z})))"
    return (
        f"({_INV_SQRT_2PI} * exp(-({z}) * ({z}) / 2.0) * "
        + _HORNER_SQL.format(t=t)
        + ")"
    )


def _phi_tail(z: Column) -> Column:
    """Spark twin of :func:`_phi_tail_sql` — identical operation order."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * z)
    horner = (
        (
            (
                (F.lit(_AS_B[4]) * t + F.lit(_AS_B[3])) * t + F.lit(_AS_B[2])
            )
            * t
            + F.lit(_AS_B[1])
        )
        * t
        + F.lit(_AS_B[0])
    ) * t
    return F.lit(_INV_SQRT_2PI) * F.exp(-z * z / F.lit(2.0)) * horner


def _q6(c: Column) -> Column:
    return F.round(c, 6).cast("decimal(18,6)")


_Q6 = "CAST(round({x}, 6) AS DECIMAL(18,6))"

SRM_P_FLOOR = 0.001  # industry-standard SRM alert threshold


@query(
    "events_srm_check",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT event_type, user_id, user_id % 2 AS arm FROM events
    ),
    seg AS (
      SELECT event_type,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS arm0_users,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS arm1_users
      FROM u GROUP BY event_type
    ),
    stat AS (
      SELECT event_type, arm0_users, arm1_users,
             round(CAST((arm0_users - arm1_users) * (arm0_users - arm1_users)
                        AS DOUBLE) / (arm0_users + arm1_users), 6) AS chi2
      FROM seg
    )
    SELECT event_type, arm0_users, arm1_users, chi2,
           round(2.0 * {_phi_tail_sql('sqrt(chi2)')}, 6) AS p_value,
           2.0 * {_phi_tail_sql('sqrt(chi2)')} < {SRM_P_FLOOR} AS srm_flag
    FROM stat ORDER BY event_type
    """,
    doc="sample-ratio-mismatch guard (Fabijan et al. 2019 'Diagnosing "
    "Sample Ratio Mismatch'): per event_type, distinct users split by the "
    "deterministic hash arm (user_id % 2) vs the designed 50/50; chi-square "
    "goodness-of-fit with 1 df, p via 2*(1-Phi(sqrt(chi2))) using the A&S "
    "26.2.17 tail polynomial in identical Horner form on both engines "
    "(chi2 is 6dp-rounded BEFORE the transcendental). srm_flag at the "
    "standard p<0.001 alert bar — a flagged segment means the assignment "
    "itself is biased and every lift readout on it is invalid. One "
    "distinct-user aggregate then |event_type|-bounded math; at 100 TB the "
    "dedup is the only shuffle",
    tags=("events", "stats"),
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    u = e.select(
        "event_type", "user_id", (F.col("user_id") % 2).alias("arm")
    ).distinct()
    seg = u.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("arm0_users"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("arm1_users"),
    )
    d = F.col("arm0_users") - F.col("arm1_users")
    stat = seg.select(
        "event_type",
        "arm0_users",
        "arm1_users",
        F.round(
            (d * d).cast("double") / (F.col("arm0_users") + F.col("arm1_users")), 6
        ).alias("chi2"),
    )
    p = F.lit(2.0) * _phi_tail(F.sqrt(F.col("chi2")))
    return stat.select(
        "event_type",
        "arm0_users",
        "arm1_users",
        "chi2",
        F.round(p, 6).alias("p_value"),
        (p < SRM_P_FLOOR).alias("srm_flag"),
    ).orderBy("event_type")


BH_Q = 0.10  # FDR level


@query(
    "stats_bh_fdr",
    oracle=f"""
    WITH base AS (
      SELECT n.n_name,
             c.c_custkey % 2 AS arm,
             CAST(o.o_totalprice AS DOUBLE) AS x
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    m AS (
      SELECT n_name,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN arm = 0 THEN {_Q6.format(x='x')} END) AS DOUBLE) AS s0,
             CAST(sum(CASE WHEN arm = 1 THEN {_Q6.format(x='x')} END) AS DOUBLE) AS s1,
             CAST(sum(CASE WHEN arm = 0 THEN {_Q6.format(x='x * x')} END) AS DOUBLE) AS t0,
             CAST(sum(CASE WHEN arm = 1 THEN {_Q6.format(x='x * x')} END) AS DOUBLE) AS t1
      FROM base GROUP BY n_name
      HAVING sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) >= 2
         AND sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) >= 2
    ),
    z AS (
      SELECT n_name, n0, n1,
             round(abs((s1 / n1 - s0 / n0)
                   / sqrt((t0 / n0 - (s0 / n0) * (s0 / n0)) / n0
                        + (t1 / n1 - (s1 / n1) * (s1 / n1)) / n1)), 6) AS z_abs
      FROM m
    ),
    p AS (
      SELECT n_name, n0, n1, z_abs,
             round(2.0 * {_phi_tail_sql('z_abs')}, 6) AS p_value
      FROM z
    ),
    ranked AS (
      SELECT n_name, n0, n1, z_abs, p_value,
             row_number() OVER (ORDER BY p_value, n_name) AS rk,
             count(*) OVER () AS m_tests
      FROM p
    ),
    kmax AS (
      SELECT coalesce(max(CASE WHEN p_value <= rk * {BH_Q} / m_tests
                                THEN rk END), 0) AS k
      FROM ranked
    )
    SELECT r.n_name, r.n0, r.n1, r.z_abs, r.p_value,
           CAST(r.rk AS BIGINT) AS p_rank,
           round(r.rk * {BH_Q} / r.m_tests, 6) AS bh_threshold,
           r.rk <= k.k AS rejected
    FROM ranked r CROSS JOIN kmax k
    ORDER BY r.rk
    """,
    doc="Benjamini-Hochberg FDR control across 25 simultaneous per-nation "
    "two-sample z-tests (arm = c_custkey % 2 on o_totalprice): testing 25 "
    "segments at per-test alpha=0.05 expects ~1.25 false discoveries — BH "
    "(1995) caps the EXPECTED false-discovery fraction at q=0.10 by the "
    "step-up rule p_(k) <= k/m*q. Moments are 6dp-decimal partial sums "
    "(one orders-scan shuffle on nation after two dimension joins AQE "
    "broadcasts); z is 6dp-rounded before the shared A&S tail polynomial; "
    "the step-up scan is a window over m<=25 rows — bounded by the nation "
    "table, not the fact table. The multiple-testing guard that belongs "
    "next to events_ab_lift/events_impact_did before anyone ships a "
    "'significant in nation X' claim",
    tags=("stats", "relational"),
)
def stats_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    base = (
        t["orders"]
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["nation"], F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            "n_name",
            (F.col("c_custkey") % 2).alias("arm"),
            F.col("o_totalprice").cast("double").alias("x"),
        )
    )
    a0 = F.col("arm") == 0
    a1 = F.col("arm") == 1
    m = (
        base.groupBy("n_name")
        .agg(
            F.sum(F.when(a0, 1).otherwise(0)).cast("bigint").alias("n0"),
            F.sum(F.when(a1, 1).otherwise(0)).cast("bigint").alias("n1"),
            F.sum(F.when(a0, _q6(F.col("x")))).cast("double").alias("s0"),
            F.sum(F.when(a1, _q6(F.col("x")))).cast("double").alias("s1"),
            F.sum(F.when(a0, _q6(F.col("x") * F.col("x")))).cast("double").alias("t0"),
            F.sum(F.when(a1, _q6(F.col("x") * F.col("x")))).cast("double").alias("t1"),
        )
        .filter((F.col("n0") >= 2) & (F.col("n1") >= 2))
    )
    mean0, mean1 = F.col("s0") / F.col("n0"), F.col("s1") / F.col("n1")
    var0 = F.col("t0") / F.col("n0") - mean0 * mean0
    var1 = F.col("t1") / F.col("n1") - mean1 * mean1
    z = m.select(
        "n_name",
        "n0",
        "n1",
        F.round(
            F.abs((mean1 - mean0) / F.sqrt(var0 / F.col("n0") + var1 / F.col("n1"))),
            6,
        ).alias("z_abs"),
    )
    p = z.withColumn("p_value", F.round(F.lit(2.0) * _phi_tail(F.col("z_abs")), 6))
    # m_tests <= 25 (nation-bounded): the unpartitioned window is safe by
    # construction — the fact scan is aggregated to nation keys above it.
    ranked = p.withColumn(
        "rk", F.row_number().over(W.orderBy("p_value", "n_name"))
    ).withColumn("m_tests", F.count(F.lit(1)).over(W.partitionBy()))
    kmax = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_value") <= F.col("rk") * BH_Q / F.col("m_tests"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            "n_name",
            "n0",
            "n1",
            "z_abs",
            "p_value",
            F.col("rk").cast("bigint").alias("p_rank"),
            F.round(F.col("rk") * BH_Q / F.col("m_tests"), 6).alias("bh_threshold"),
            (F.col("rk") <= F.col("k")).alias("rejected"),
        )
        .orderBy("p_rank")
    )


CAL_BINS = 10


@query(
    "ml_calibration_bins",
    oracle=f"""
    WITH stats AS (
      SELECT CAST(sum({_Q6.format(x='CAST(n_chars AS DOUBLE)')}) AS DOUBLE)
               / count(*) AS mu,
             CAST(sum({_Q6.format(x='CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)')}) AS DOUBLE)
               / count(*) AS m2,
             CAST(count(*) AS BIGINT) AS n
      FROM documents
    ),
    scored AS (
      SELECT d.doc_id,
             round(1.0 / (1.0 + exp(-((CAST(d.n_chars AS DOUBLE) - s.mu)
                   / sqrt(s.m2 - s.mu * s.mu)))), 6) AS p_hat,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents d CROSS JOIN stats s
    ),
    binned AS (
      SELECT least(CAST(floor(p_hat * {CAL_BINS}) AS BIGINT), {CAL_BINS - 1}) AS bin,
             p_hat, y
      FROM scored
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum({_Q6.format(x='p_hat')}) AS DOUBLE) / count(*), 6) AS mean_p,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos,
           round(CAST(sum({_Q6.format(x='p_hat')}) AS DOUBLE) / count(*)
                 - CAST(sum(y) AS DOUBLE) / count(*), 6) AS calib_gap,
           round(CAST(sum({_Q6.format(x='(p_hat - y) * (p_hat - y)')}) AS DOUBLE)
                 / count(*), 6) AS brier
    FROM binned GROUP BY bin ORDER BY bin
    """,
    doc=f"reliability diagram + per-bin Brier score for a probabilistic "
    f"score (Murphy 1973 decomposition's data half; Guo et al. 2017 ECE "
    f"bins): the deterministic logistic score p_hat = sigma(z(n_chars)) "
    f"bucketed into {CAL_BINS} equal-width bins against the binary outcome "
    f"lang='en'; per bin the mean predicted probability, observed positive "
    f"rate, calibration gap, and Brier contribution — the reliability "
    f"readout a curation pipeline checks BEFORE thresholding any model "
    f"quality score (quality_model_score's missing calibration audit). "
    f"Corpus moments are one 6dp-decimal pass broadcast back as scalars; "
    f"binning is map-side; the final aggregate has {CAL_BINS} keys. p_hat "
    f"is 6dp-rounded at creation so bin edges and all downstream sums are "
    f"engine-identical (the transcendental exp is washed by the rounding)",
    tags=("stats", "pipeline"),
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    x = F.col("n_chars").cast("double")
    stats = d.agg(
        (F.sum(_q6(x)).cast("double") / F.count(F.lit(1))).alias("mu"),
        (F.sum(_q6(x * x)).cast("double") / F.count(F.lit(1))).alias("m2"),
    )
    scored = d.crossJoin(F.broadcast(stats)).select(
        F.round(
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        (x - F.col("mu"))
                        / F.sqrt(F.col("m2") - F.col("mu") * F.col("mu"))
                    )
                )
            ),
            6,
        ).alias("p_hat"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(
            F.floor(F.col("p_hat") * CAL_BINS).cast("bigint"), F.lit(CAL_BINS - 1)
        ).alias("bin"),
        "p_hat",
        "y",
    )
    n = F.count(F.lit(1))
    return (
        binned.groupBy("bin")
        .agg(
            n.cast("bigint").alias("n_docs"),
            F.round(F.sum(_q6(F.col("p_hat"))).cast("double") / n, 6).alias("mean_p"),
            F.round(F.sum("y").cast("double") / n, 6).alias("frac_pos"),
            F.round(
                F.sum(_q6(F.col("p_hat"))).cast("double") / n
                - F.sum("y").cast("double") / n,
                6,
            ).alias("calib_gap"),
            F.round(
                F.sum(
                    _q6((F.col("p_hat") - F.col("y")) * (F.col("p_hat") - F.col("y")))
                ).cast("double")
                / n,
                6,
            ).alias("brier"),
        )
        .orderBy("bin")
    )


CONFORMAL_ALPHAS = (0.1, 0.2)


@query(
    "ml_conformal_coverage",
    oracle=f"""
    WITH pred AS (
      SELECT l_partkey,
             CAST(sum({_Q6.format(x='CAST(l_extendedprice AS DOUBLE)')}) AS DOUBLE)
               / count(*) AS yhat
      FROM lineitem WHERE l_orderkey % 4 IN (0, 1)
      GROUP BY l_partkey
    ),
    cal AS (
      SELECT abs(CAST(l.l_extendedprice AS DOUBLE) - p.yhat) AS r,
             l.l_orderkey * 10 + l.l_linenumber AS tb
      FROM lineitem l JOIN pred p ON p.l_partkey = l.l_partkey
      WHERE l.l_orderkey % 4 = 2
    ),
    tst AS (
      SELECT abs(CAST(l.l_extendedprice AS DOUBLE) - p.yhat) AS r
      FROM lineitem l JOIN pred p ON p.l_partkey = l.l_partkey
      WHERE l.l_orderkey % 4 = 3
    ),
    ncal AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
    ranked AS (
      SELECT r, row_number() OVER (ORDER BY r, tb) AS rk FROM cal
    ),
    qs AS (
      SELECT CAST(a.alpha AS DOUBLE) AS alpha, n.n_cal,
             (SELECT r FROM ranked
              WHERE rk = CAST(ceil((n.n_cal + 1) * (1.0 - a.alpha)) AS BIGINT)) AS q_hat
      FROM (SELECT unnest({list(CONFORMAL_ALPHAS)}) AS alpha) a CROSS JOIN ncal n
    )
    SELECT q.alpha,
           q.n_cal,
           round(q.q_hat, 6) AS q_hat,
           round(1.0 - q.alpha, 6) AS target_coverage,
           round(CAST(sum(CASE WHEN t.r <= q.q_hat THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS test_coverage
    FROM qs q CROSS JOIN tst t
    GROUP BY q.alpha, q.n_cal, q.q_hat
    ORDER BY q.alpha
    """,
    doc=f"split-conformal prediction coverage (Vovk et al.; Angelopoulos & "
    f"Bates 2021 eq. 1): point predictor = per-part train-split mean price "
    f"(l_orderkey%4 in (0,1)); calibration split (%4=2) yields the "
    f"conformal quantile q_hat = the ceil((n+1)(1-alpha))-th smallest "
    f"absolute residual — an EXACT order statistic via the "
    f"functions/ordstats bucketed two-phase rank search (no "
    f"single-partition sort; the naive row_number-over-everything plan is "
    f"exactly what that module exists to forbid); test split (%4=3) "
    f"measures realized coverage of yhat +/- q_hat for alpha in "
    f"{CONFORMAL_ALPHAS}. Distribution-free finite-sample guarantee "
    f"coverage >= 1-alpha — the honest uncertainty audit for any "
    f"regression-style scorer in the pipeline. Train means are 6dp-decimal "
    f"sums; residuals are pure double arithmetic so both engines compare "
    f"identical values against identical q_hat",
    tags=("stats", "pipeline"),
)
def ml_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from http_datafusion_spark.functions.ordstats import exact_rank_values

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    x = F.col("l_extendedprice").cast("double")
    pred = (
        li.filter((F.col("l_orderkey") % 4).isin(0, 1))
        .groupBy("l_partkey")
        .agg((F.sum(_q6(x)).cast("double") / F.count(F.lit(1))).alias("yhat"))
    )
    resid = li.join(pred, "l_partkey").select(
        "l_orderkey",
        F.abs(x - F.col("yhat")).alias("r"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tb"),
    )
    cal = resid.filter(F.col("l_orderkey") % 4 == 2).select("r", "tb")
    tst = resid.filter(F.col("l_orderkey") % 4 == 3).select("r")
    n_cal = cal.count()
    ranks = {
        a: int(math.ceil((n_cal + 1) * (1.0 - a))) for a in CONFORMAL_ALPHAS
    }
    qhats = exact_rank_values(cal, "r", "tb", sorted(set(ranks.values())))
    rows = [
        (float(a), n_cal, qhats[ranks[a]], round(1.0 - a, 6))
        for a in CONFORMAL_ALPHAS
    ]
    grid = spark.createDataFrame(
        rows, "alpha double, n_cal bigint, q_raw double, target_coverage double"
    )
    return (
        grid.crossJoin(tst)
        .groupBy("alpha", "n_cal", "q_raw", "target_coverage")
        .agg(
            F.round(
                F.sum(F.when(F.col("r") <= F.col("q_raw"), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("test_coverage")
        )
        .select(
            "alpha",
            "n_cal",
            F.round(F.col("q_raw"), 6).alias("q_hat"),
            "target_coverage",
            "test_coverage",
        )
        .orderBy("alpha")
    )


ATT_ERR_MIN = 14  # treatment: chronic error exposure (>= this many errors)
ATT_STRATUM_W = 10  # activity stratum width (events per user)


@query(
    "events_att_stratified",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CASE WHEN sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       >= {ATT_ERR_MIN} THEN 1 ELSE 0 END AS treated,
             CAST(sum(CASE WHEN event_type <> 'error'
                           THEN {_Q6.format(x='value')} END) AS DOUBLE)
               / nullif(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END), 0)
               AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(floor(n_events * 1.0 / {ATT_STRATUM_W}) AS BIGINT) AS stratum,
             treated, y
      FROM u WHERE y IS NOT NULL
    ),
    cells AS (
      SELECT stratum,
             CAST(sum(treated) AS BIGINT) AS n1,
             CAST(sum(1 - treated) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN treated = 1 THEN {_Q6.format(x='y')} END) AS DOUBLE) AS s1,
             CAST(sum(CASE WHEN treated = 0 THEN {_Q6.format(x='y')} END) AS DOUBLE) AS s0
      FROM s GROUP BY stratum
      HAVING sum(treated) >= 1 AND sum(1 - treated) >= 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata_used,
           CAST(sum(n1) AS BIGINT) AS n_treated,
           CAST(sum(n0) AS BIGINT) AS n_control,
           round(CAST(sum({_Q6.format(x='(s1 / n1 - s0 / n0) * n1')}) AS DOUBLE)
                 / sum(n1), 6) AS att
    FROM cells
    """,
    doc=f"stratified-adjustment ATT (Cochran 1968 subclassification; the "
    f"propensity-stratification estimator of Rosenbaum & Rubin 1984 with an "
    f"observable stratifier): effect of chronic error exposure (>="
    f"{ATT_ERR_MIN} error events) on a user's mean non-error event value, "
    f"adjusted for activity via {ATT_STRATUM_W}-event-wide strata — "
    f"activity confounds naively (more events => mechanically more errors "
    f"AND different engagement), so the naive difference is biased; ATT = "
    f"sum_s w_s (ybar1_s - ybar0_s) with w_s = treated share, over strata "
    f"holding BOTH arms. The observational-causal complement of "
    f"events_uplift_cuped (randomized) and events_impact_did (temporal): "
    f"one user-keyed aggregate, then stratum-bounded math; 6dp-decimal "
    f"sums keep every mean order-independent",
    tags=("events", "stats"),
)
def events_att_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    err = F.col("event_type") == "error"
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.when(
            F.sum(F.when(err, 1).otherwise(0)) >= ATT_ERR_MIN, 1
        )
        .otherwise(0)
        .alias("treated"),
        (
            F.sum(F.when(~err, _q6(F.col("value")))).cast("double")
            / F.nullif(F.sum(F.when(~err, 1).otherwise(0)), F.lit(0))
        ).alias("y"),
    )
    s = u.filter(F.col("y").isNotNull()).select(
        F.floor(F.col("n_events") * 1.0 / ATT_STRATUM_W).cast("bigint").alias("stratum"),
        "treated",
        "y",
    )
    cells = (
        s.groupBy("stratum")
        .agg(
            F.sum("treated").cast("bigint").alias("n1"),
            F.sum(F.lit(1) - F.col("treated")).cast("bigint").alias("n0"),
            F.sum(F.when(F.col("treated") == 1, _q6(F.col("y"))))
            .cast("double")
            .alias("s1"),
            F.sum(F.when(F.col("treated") == 0, _q6(F.col("y"))))
            .cast("double")
            .alias("s0"),
        )
        .filter((F.col("n1") >= 1) & (F.col("n0") >= 1))
    )
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata_used"),
        F.sum("n1").cast("bigint").alias("n_treated"),
        F.sum("n0").cast("bigint").alias("n_control"),
        F.round(
            F.sum(
                _q6(
                    (F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0"))
                    * F.col("n1")
                )
            ).cast("double")
            / F.sum("n1"),
            6,
        ).alias("att"),
    )


# ------------------------------------------- ROC-AUC on the score grain


@query(
    "ml_auc_roc",
    oracle="""
    WITH s AS (
      SELECT n_chars AS score,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT pos, neg,
             coalesce(sum(neg) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg_prev
      FROM s
    )
    SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(neg) AS BIGINT) AS n_neg,
           CAST(count(*) AS BIGINT) AS n_scores,
           round(CAST(sum(pos * (2 * cumneg_prev + neg)) AS DOUBLE)
                 / (2.0 * sum(pos) * sum(neg)), 6) AS auc,
           round(CAST(sum(pos * (2 * cumneg_prev + neg)) AS DOUBLE)
                 / (1.0 * sum(pos) * sum(neg)) - 1.0, 6) AS gini
    FROM c
    """,
    doc="ROC-AUC of the length score n_chars for the binary outcome "
    "lang='en', with exact tie handling (AUC = P(S_pos > S_neg) + "
    "0.5 P(S_pos = S_neg), the Mann-Whitney identity — Hanley & McNeil "
    "1982): the fact table collapses to the DISTINCT-SCORE grain "
    "(|n_chars domain|, ~313 values here, bounded by max document "
    "length not corpus size), then one running sum over that grain "
    "yields the pair count 2*cumneg_prev + neg per score — ALL INTEGER "
    "until the final division, so both engines are exact by "
    "construction, no rounding discipline needed. Gini = 2*AUC - 1. "
    "The per-row global-rank formulation (row_number over every "
    "document) is exactly what this shape avoids at 100 TB: one "
    "map-side-combinable groupBy on an integer key, then a "
    "domain-bounded window. Companion to ml_calibration_bins — "
    "calibration says the score's VALUES are honest, AUC says its "
    "ORDERING separates",
    tags=("stats", "pipeline"),
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    en = F.col("lang") == "en"
    s = d.groupBy(F.col("n_chars").alias("score")).agg(
        F.sum(F.when(en, 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(~en, 1).otherwise(0)).cast("bigint").alias("neg"),
    )
    # running sum over the distinct-score grain (bounded by the n_chars
    # value domain, NOT the corpus) — a sum window, not a ranking one
    w = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    c = s.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("cumneg_prev"),
    )
    num2 = F.sum(F.col("pos") * (2 * F.col("cumneg_prev") + F.col("neg")))
    return c.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.count(F.lit(1)).cast("bigint").alias("n_scores"),
        F.round(
            num2.cast("double") / (F.lit(2.0) * F.sum("pos") * F.sum("neg")), 6
        ).alias("auc"),
        F.round(
            num2.cast("double") / (F.lit(1.0) * F.sum("pos") * F.sum("neg"))
            - F.lit(1.0),
            6,
        ).alias("gini"),
    )


# ------------------------------------------- PR-AUC + best-F1 threshold


@query(
    "ml_pr_auc",
    oracle=f"""
    WITH s AS (
      SELECT n_chars AS score,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM documents GROUP BY n_chars
    ),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                   CAST(sum(neg) AS BIGINT) AS n_neg FROM s),
    c AS (
      SELECT score, pos,
             sum(pos) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(neg) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM s
    ),
    terms AS (
      SELECT score, tp, fp,
             CAST(round(pos * (tp * 1.0 / (tp + fp)), 6) AS DECIMAL(18,6)) AS ap_term,
             round(2.0 * tp / (2.0 * tp + fp + (t.n_pos - tp)), 6) AS f1
      FROM c CROSS JOIN tot t
    ),
    best AS (
      SELECT f1 AS max_f1, CAST(score AS BIGINT) AS best_f1_threshold
      FROM terms ORDER BY f1 DESC, score ASC LIMIT 1
    )
    SELECT t.n_pos, t.n_neg,
           round(CAST(sum(m.ap_term) AS DOUBLE) / t.n_pos, 6) AS pr_auc,
           b.max_f1, b.best_f1_threshold
    FROM terms m CROSS JOIN tot t CROSS JOIN best b
    GROUP BY t.n_pos, t.n_neg, b.max_f1, b.best_f1_threshold
    """,
    doc="step-interpolated average precision (the sklearn "
    "average_precision_score definition: AP = sum_k (R_k - R_(k-1)) "
    "P_k over descending score thresholds, which collapses to "
    "sum_v pos_v * precision_v / n_pos on the distinct-score grain) "
    "plus the best-F1 operating point and its threshold — the "
    "class-imbalance-honest companion to ml_auc_roc (positives are "
    "~44% here but rare-event curation filters live at 1%, where "
    "ROC-AUC flatters). Same scale shape as ml_auc_roc: one integer "
    "groupBy to the |score domain| grain, two running sums over that "
    "bounded grain, a 313-row top-1 (TakeOrderedAndProject). AP terms "
    "are 6dp-decimal quantized before summing (order-independent); "
    "tp/fp are pure integers so precision inputs are engine-identical",
    tags=("stats", "pipeline", "bench_extra"),
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    en = F.col("lang") == "en"
    s = d.groupBy(F.col("n_chars").alias("score")).agg(
        F.sum(F.when(en, 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(~en, 1).otherwise(0)).cast("bigint").alias("neg"),
    ).transform(pin)  # score-grain: totals agg + cum window + 2 terms consumers re-derived the doc scan unpinned (4 scans)
    tot = s.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
    )
    w = W.orderBy(F.col("score").desc()).rowsBetween(W.unboundedPreceding, 0)
    c = s.select(
        "score",
        "pos",
        F.sum("pos").over(w).alias("tp"),
        F.sum("neg").over(w).alias("fp"),
    )
    terms = c.crossJoin(F.broadcast(tot)).select(
        "score",
        "n_pos",
        "n_neg",
        _q6(F.col("pos") * (F.col("tp") * 1.0 / (F.col("tp") + F.col("fp")))).alias(
            "ap_term"
        ),
        F.round(
            F.lit(2.0)
            * F.col("tp")
            / (
                F.lit(2.0) * F.col("tp")
                + F.col("fp")
                + (F.col("n_pos") - F.col("tp"))
            ),
            6,
        ).alias("f1"),
    )
    best = terms.orderBy(F.col("f1").desc(), F.col("score").asc()).limit(1).select(
        F.col("f1").alias("max_f1"),
        F.col("score").cast("bigint").alias("best_f1_threshold"),
    )
    return (
        terms.crossJoin(F.broadcast(best))
        .groupBy("n_pos", "n_neg", "max_f1", "best_f1_threshold")
        .agg(
            F.round(F.sum("ap_term").cast("double") / F.col("n_pos"), 6).alias(
                "pr_auc"
            )
        )
        .select("n_pos", "n_neg", "pr_auc", "max_f1", "best_f1_threshold")
    )


# ------------------------------------------- categorical mutual information


def _entropy_terms_sql(count_expr: str, n_expr: str) -> str:
    """6dp-decimal entropy term -(c/n) ln(c/n), the markov-entropy
    transcendental discipline."""
    p = f"({count_expr} * 1.0 / {n_expr})"
    return f"CAST(round(-{p} * ln({p}), 6) AS DECIMAL(18,6))"


@query(
    "feature_mutual_info",
    oracle=f"""
    WITH pairs AS (
      SELECT 'documents:lang_x_source' AS feature_pair, lang AS x, source AS y
      FROM documents
      UNION ALL
      SELECT 'orders:status_x_priority', o_orderstatus, o_orderpriority
      FROM orders
    ),
    cells AS (
      SELECT feature_pair, x, y, CAST(count(*) AS BIGINT) AS c
      FROM pairs GROUP BY feature_pair, x, y
    ),
    tot AS (
      SELECT feature_pair, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY feature_pair
    ),
    hx AS (
      SELECT m.feature_pair,
             CAST(sum({_entropy_terms_sql('m.cx', 't.n')}) AS DOUBLE) AS h_x
      FROM (SELECT feature_pair, x, sum(c) AS cx FROM cells GROUP BY feature_pair, x) m
      JOIN tot t USING (feature_pair) GROUP BY m.feature_pair
    ),
    hy AS (
      SELECT m.feature_pair,
             CAST(sum({_entropy_terms_sql('m.cy', 't.n')}) AS DOUBLE) AS h_y
      FROM (SELECT feature_pair, y, sum(c) AS cy FROM cells GROUP BY feature_pair, y) m
      JOIN tot t USING (feature_pair) GROUP BY m.feature_pair
    ),
    hxy AS (
      SELECT c.feature_pair,
             CAST(sum({_entropy_terms_sql('c.c', 't.n')}) AS DOUBLE) AS h_xy
      FROM cells c JOIN tot t USING (feature_pair) GROUP BY c.feature_pair
    )
    SELECT t.feature_pair, t.n AS n_rows,
           round(hx.h_x, 6) AS h_x, round(hy.h_y, 6) AS h_y,
           round(hxy.h_xy, 6) AS h_xy,
           round(hx.h_x + hy.h_y - hxy.h_xy, 6) AS mi_nats,
           round((hx.h_x + hy.h_y - hxy.h_xy) / sqrt(hx.h_x * hy.h_y), 6) AS nmi
    FROM tot t JOIN hx USING (feature_pair) JOIN hy USING (feature_pair)
    JOIN hxy USING (feature_pair)
    ORDER BY t.feature_pair
    """,
    doc="plug-in mutual information I(X;Y) = H(X) + H(Y) - H(X,Y) in "
    "nats, plus the sqrt-normalized NMI (Strehl & Ghosh 2002), for two "
    "categorical feature pairs: (lang, source) on documents and "
    "(o_orderstatus, o_orderpriority) on orders — the feature-"
    "redundancy screen a pipeline runs before target encoding or "
    "stratified sampling (NMI near 1 means one feature is the other's "
    "alias; near 0 means stratifying on both is worthwhile). Each pair "
    "collapses to its joint-domain cell table (<= |X||Y| rows, 100 and "
    "15 here — closed categorical enums, invariant at 100 TB) in one "
    "map-side-combinable aggregate; entropy terms use the markov-"
    "entropy 6dp-decimal-before-sum ln discipline so both engines sum "
    "identical quantized terms",
    tags=("stats", "pipeline"),
)
def feature_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents", "orders")
    pairs = t["documents"].select(
        F.lit("documents:lang_x_source").alias("feature_pair"),
        F.col("lang").alias("x"),
        F.col("source").alias("y"),
    ).unionAll(
        t["orders"].select(
            F.lit("orders:status_x_priority").alias("feature_pair"),
            F.col("o_orderstatus").alias("x"),
            F.col("o_orderpriority").alias("y"),
        )
    )
    cells = pairs.groupBy("feature_pair", "x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).transform(pin)  # <=115 rows; 4 downstream consumers
    tot = cells.groupBy("feature_pair").agg(F.sum("c").cast("bigint").alias("n"))

    def _ent(df: DataFrame, cnt: str, out: str) -> DataFrame:
        p = F.col(cnt) * 1.0 / F.col("n")
        return (
            df.join(F.broadcast(tot), "feature_pair")
            .select("feature_pair", _q6(-p * F.log(p)).alias("term"))
            .groupBy("feature_pair")
            .agg(F.sum("term").cast("double").alias(out))
        )

    hx = _ent(
        cells.groupBy("feature_pair", "x").agg(F.sum("c").alias("cx")), "cx", "h_x"
    )
    hy = _ent(
        cells.groupBy("feature_pair", "y").agg(F.sum("c").alias("cy")), "cy", "h_y"
    )
    hxy = _ent(cells, "c", "h_xy")
    mi = F.col("h_x") + F.col("h_y") - F.col("h_xy")
    return (
        tot.join(hx, "feature_pair")
        .join(hy, "feature_pair")
        .join(hxy, "feature_pair")
        .select(
            "feature_pair",
            F.col("n").alias("n_rows"),
            F.round("h_x", 6).alias("h_x"),
            F.round("h_y", 6).alias("h_y"),
            F.round("h_xy", 6).alias("h_xy"),
            F.round(mi, 6).alias("mi_nats"),
            F.round(mi / F.sqrt(F.col("h_x") * F.col("h_y")), 6).alias("nmi"),
        )
        .orderBy("feature_pair")
    )


# ------------------------------------------- always-valid sequential test

MSPRT_TAU2 = 1.0  # mixture variance of the prior on the effect size
MSPRT_ALPHA = 0.05

# day-grain per-arm moment table of purchase value — the sufficient
# statistic both the batch test and its streaming twin aggregate to
_MSPRT_DAILY_SQL = f"""
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN {_Q6.format(x='value')} END) AS DOUBLE) AS s0,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN {_Q6.format(x='value')} END) AS DOUBLE) AS s1,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN {_Q6.format(x='value * value')} END) AS DOUBLE) AS t0,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN {_Q6.format(x='value * value')} END) AS DOUBLE) AS t1
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
"""

# mSPRT math over that day grain — shared verbatim by both oracles
_MSPRT_TAIL_SQL = f"""
    c AS (
      SELECT day,
             sum(n0) OVER w AS cn0, sum(n1) OVER w AS cn1,
             sum(s0) OVER w AS cs0, sum(s1) OVER w AS cs1,
             sum(t0) OVER w AS ct0, sum(t1) OVER w AS ct1
      FROM g
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    stat AS (
      SELECT day, CAST(cn0 AS BIGINT) AS n0, CAST(cn1 AS BIGINT) AS n1,
             round(cs1 / cn1 - cs0 / cn0, 6) AS delta,
             round((ct0 / cn0 - (cs0 / cn0) * (cs0 / cn0)) / cn0
                 + (ct1 / cn1 - (cs1 / cn1) * (cs1 / cn1)) / cn1, 6) AS vd
      FROM c WHERE cn0 >= 2 AND cn1 >= 2
    ),
    ll AS (
      SELECT day, n0, n1, delta,
             round(0.5 * ln(vd / (vd + {MSPRT_TAU2}))
                 + delta * delta * {MSPRT_TAU2}
                   / (2.0 * vd * (vd + {MSPRT_TAU2})), 6) AS log_lambda
      FROM stat WHERE vd > 0
    )
    SELECT day, n0, n1, delta, log_lambda,
           round(least(1.0, exp(-max(log_lambda) OVER
             (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))), 6)
             AS p_always_valid,
           least(1.0, exp(-max(log_lambda) OVER
             (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
             < {MSPRT_ALPHA} AS rejected
    FROM ll ORDER BY day
"""


def msprt_from_daily(g: DataFrame) -> DataFrame:
    """mSPRT always-valid p-values from a day-grain per-arm moment
    table (columns day,n0,n1,s0,s1,t0,t1) — the Spark twin of
    ``_MSPRT_TAIL_SQL``, shared by the batch test and the streaming
    monitor so their math cannot drift. Every window here runs on the
    |days|-bounded grain."""
    from pyspark.sql import Window as W

    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    c = g.select(
        "day",
        *[F.sum(x).over(w).alias("c" + x) for x in ("n0", "n1", "s0", "s1", "t0", "t1")],
    )
    m0, m1 = F.col("cs0") / F.col("cn0"), F.col("cs1") / F.col("cn1")
    stat = c.filter((F.col("cn0") >= 2) & (F.col("cn1") >= 2)).select(
        "day",
        F.col("cn0").cast("bigint").alias("n0"),
        F.col("cn1").cast("bigint").alias("n1"),
        F.round(m1 - m0, 6).alias("delta"),
        F.round(
            (F.col("ct0") / F.col("cn0") - m0 * m0) / F.col("cn0")
            + (F.col("ct1") / F.col("cn1") - m1 * m1) / F.col("cn1"),
            6,
        ).alias("vd"),
    )
    tau2 = F.lit(MSPRT_TAU2)
    ll = stat.filter(F.col("vd") > 0).select(
        "day",
        "n0",
        "n1",
        "delta",
        F.round(
            F.lit(0.5) * F.log(F.col("vd") / (F.col("vd") + tau2))
            + F.col("delta")
            * F.col("delta")
            * tau2
            / (F.lit(2.0) * F.col("vd") * (F.col("vd") + tau2)),
            6,
        ).alias("log_lambda"),
    )
    p = F.least(F.lit(1.0), F.exp(-F.max("log_lambda").over(w)))
    return ll.select(
        "day",
        "n0",
        "n1",
        "delta",
        "log_lambda",
        F.round(p, 6).alias("p_always_valid"),
        (p < MSPRT_ALPHA).alias("rejected"),
    ).orderBy("day")


def msprt_daily_aggregate(df: DataFrame) -> DataFrame:
    """Day-grain per-arm purchase-value moments (the ``g`` CTE) from
    an events frame — works on a batch OR streaming input."""
    a0 = F.col("user_id") % 2 == 0
    a1 = F.col("user_id") % 2 == 1
    v = F.col("value")
    return (
        df.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(F.when(a0, 1).otherwise(0)).cast("bigint").alias("n0"),
            F.sum(F.when(a1, 1).otherwise(0)).cast("bigint").alias("n1"),
            F.sum(F.when(a0, _q6(v))).cast("double").alias("s0"),
            F.sum(F.when(a1, _q6(v))).cast("double").alias("s1"),
            F.sum(F.when(a0, _q6(v * v))).cast("double").alias("t0"),
            F.sum(F.when(a1, _q6(v * v))).cast("double").alias("t1"),
        )
    )


@query(
    "events_msprt_sequential",
    oracle=f"""
    WITH g AS (
{_MSPRT_DAILY_SQL}
    ),
{_MSPRT_TAIL_SQL}
    """,
    doc=f"always-valid sequential A/B test via the mixture SPRT "
    f"(Johari, Pekelis & Walsh 2017 'Peeking at A/B Tests', eq. 10-11 "
    f"with a N(0, tau^2={MSPRT_TAU2}) mixing prior): daily cumulative "
    f"per-arm moments of purchase value (arm = user_id %% 2) yield "
    f"Lambda_n = sqrt(V_n/(V_n+tau^2)) exp(delta_n^2 tau^2 / (2 V_n "
    f"(V_n+tau^2))) and the always-valid p-value p_n = min(1, min_k "
    f"1/Lambda_k) — monitoring this DAILY keeps the type-I guarantee "
    f"that the fixed-horizon z-test (events_ab_lift) forfeits the "
    f"moment anyone peeks early. One day-grain aggregate over the fact "
    f"scan (map-side combinable), then every window runs on the "
    f"|days|-bounded grain; delta and V are 6dp-rounded BEFORE the "
    f"ln/exp so the only transcendental divergence is a last-ULP washed "
    f"by the 6dp output round. The running max of log-Lambda "
    f"implements min_k 1/Lambda_k in log space (exp(-max) caps "
    f"overflow-free)",
    tags=("events", "stats"),
)
def events_msprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    return msprt_from_daily(msprt_daily_aggregate(e))


# --------------------------------- group-sequential alpha-spending design

GS_LOOKS = 5  # scheduled interim analyses (K)
GS_ALPHA = 0.05
GS_ZA2 = 1.959964  # z_{alpha/2} at 6dp (the DeLong CI constant)

# Group-sequential math over the SAME day-grain per-arm moment table as
# the mSPRT (the `g` CTE, _MSPRT_DAILY_SQL) — shared verbatim by the
# batch test and its streaming twin so their math cannot drift.
# Chained CTEs reference prior ALIASES (not expressions) so the Spark
# twin's select-chain computes bit-identical doubles.
_GS_TAIL_SQL = f"""
    c AS (
      SELECT day,
             sum(n0) OVER w AS cn0, sum(n1) OVER w AS cn1,
             sum(s0) OVER w AS cs0, sum(s1) OVER w AS cs1,
             sum(t0) OVER w AS ct0, sum(t1) OVER w AS ct1
      FROM g
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    stat AS (
      SELECT day, CAST(cn0 AS BIGINT) AS n0, CAST(cn1 AS BIGINT) AS n1,
             round(cs1 / cn1 - cs0 / cn0, 6) AS delta,
             round((ct0 / cn0 - (cs0 / cn0) * (cs0 / cn0)) / cn0
                 + (ct1 / cn1 - (cs1 / cn1) * (cs1 / cn1)) / cn1, 6) AS vd
      FROM c WHERE cn0 >= 2 AND cn1 >= 2
    ),
    ok AS (
      SELECT day, n0, n1, delta, vd,
             row_number() OVER (ORDER BY day) AS rn
      FROM stat WHERE vd > 0
    ),
    sized AS (
      SELECT day, n0, n1, delta, vd, rn,
             CAST(max(rn) OVER () AS BIGINT) AS nd,
             CAST(max(n0 + n1) OVER () AS BIGINT) AS tot
      FROM ok
    ),
    sel AS (
      SELECT day, n0, n1, delta, vd, rn, tot
      FROM sized
      WHERE floor(rn * {GS_LOOKS} * 1.0 / nd)
            > floor((rn - 1) * {GS_LOOKS} * 1.0 / nd)
    ),
    sp1 AS (
      SELECT CAST(row_number() OVER (ORDER BY rn) AS BIGINT) AS look,
             day, n0, n1,
             round(CAST(n0 + n1 AS DOUBLE) / tot, 6) AS info_frac,
             round(delta / sqrt(vd), 6) AS z_stat
      FROM sel
    ),
    sp2 AS (
      SELECT look, day, n0, n1, info_frac, z_stat,
             round({GS_ZA2} / sqrt(info_frac), 6) AS obf_boundary
      FROM sp1
    ),
    sp3 AS (
      SELECT look, day, n0, n1, info_frac, z_stat, obf_boundary,
             round(2.0 * {{phi_tail_obf}}, 6) AS alpha_spent
      FROM sp2
    )
    SELECT look, day, n0, n1, info_frac, z_stat, obf_boundary, alpha_spent,
           round(alpha_spent
                 - coalesce(lag(alpha_spent) OVER (ORDER BY look), 0.0), 6)
             AS alpha_incr,
           abs(z_stat) > obf_boundary AS crossed
    FROM sp3 ORDER BY look
"""


def _gs_tail_sql() -> str:
    return _GS_TAIL_SQL.format(phi_tail_obf=_phi_tail_sql("obf_boundary"))


def group_sequential_from_daily(g: DataFrame) -> DataFrame:
    """K-look group-sequential readout from a day-grain per-arm moment
    table (columns day,n0,n1,s0,s1,t0,t1) — the Spark twin of
    ``_GS_TAIL_SQL``, shared by the batch test and the streaming
    monitor. Every window here runs on the |days|-bounded grain (the
    looks table is <= GS_LOOKS rows)."""
    from pyspark.sql import Window as W

    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    c = g.select(
        "day",
        *[F.sum(x).over(w).alias("c" + x) for x in ("n0", "n1", "s0", "s1", "t0", "t1")],
    )
    m0, m1 = F.col("cs0") / F.col("cn0"), F.col("cs1") / F.col("cn1")
    stat = c.filter((F.col("cn0") >= 2) & (F.col("cn1") >= 2)).select(
        "day",
        F.col("cn0").cast("bigint").alias("n0"),
        F.col("cn1").cast("bigint").alias("n1"),
        F.round(m1 - m0, 6).alias("delta"),
        F.round(
            (F.col("ct0") / F.col("cn0") - m0 * m0) / F.col("cn0")
            + (F.col("ct1") / F.col("cn1") - m1 * m1) / F.col("cn1"),
            6,
        ).alias("vd"),
    ).filter(F.col("vd") > 0)
    ok = stat.select("*", F.row_number().over(W.orderBy("day")).alias("rn"))
    # Look schedule WITHOUT a second pass over the fact scan: nd/tot as
    # global windows on the day-grain table, and "rn is a look day" via
    # the exact counting identity  |{j in 1..K : ceil(j*nd/K) = rn}| =
    # floor(rn*K/nd) - floor((rn-1)*K/nd)  (integers in the half-open
    # interval ((rn-1)K/nd, rnK/nd]) — so no join against a generated
    # j-list, hence ONE events scan where the CUSUM twin's params
    # branch takes two. Quotients are exact small rationals (< 1e-13
    # double error, never straddling an integer), identical cross-engine.
    wall = W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    sized = ok.select(
        "*",
        F.max("rn").over(wall).cast("bigint").alias("nd"),
        F.max(F.col("n0") + F.col("n1")).over(wall).cast("bigint").alias("tot"),
    )
    sel = sized.filter(
        F.floor(F.col("rn") * GS_LOOKS * F.lit(1.0) / F.col("nd"))
        > F.floor((F.col("rn") - 1) * GS_LOOKS * F.lit(1.0) / F.col("nd"))
    ).drop("nd")
    sp1 = sel.select(
        F.row_number().over(W.orderBy("rn")).cast("bigint").alias("look"),
        "day",
        "n0",
        "n1",
        F.round((F.col("n0") + F.col("n1")).cast("double") / F.col("tot"), 6).alias(
            "info_frac"
        ),
        F.round(F.col("delta") / F.sqrt(F.col("vd")), 6).alias("z_stat"),
    )
    sp2 = sp1.select(
        "*", F.round(F.lit(GS_ZA2) / F.sqrt(F.col("info_frac")), 6).alias("obf_boundary")
    )
    sp3 = sp2.select(
        "*",
        F.round(F.lit(2.0) * _phi_tail(F.col("obf_boundary")), 6).alias("alpha_spent"),
    )
    wl = W.orderBy("look")
    return sp3.select(
        "look",
        "day",
        "n0",
        "n1",
        "info_frac",
        "z_stat",
        "obf_boundary",
        "alpha_spent",
        F.round(
            F.col("alpha_spent")
            - F.coalesce(F.lag("alpha_spent").over(wl), F.lit(0.0)),
            6,
        ).alias("alpha_incr"),
        (F.abs(F.col("z_stat")) > F.col("obf_boundary")).alias("crossed"),
    ).orderBy("look")


@query(
    "events_group_sequential",
    oracle=f"""
    WITH g AS (
{_MSPRT_DAILY_SQL}
    ),
{_GS_TAIL_SQL.format(phi_tail_obf=_phi_tail_sql("obf_boundary"))}
    """,
    doc=f"group-sequential interim-analysis monitor with Lan-DeMets "
    f"alpha spending (Lan & DeMets 1983 Biometrika; O'Brien & Fleming "
    f"1979 Biometrics): {GS_LOOKS} looks scheduled at equal fractions of "
    f"the day-grain analysis calendar, each reporting the cumulative "
    f"two-sample z on per-arm purchase value (arm = user_id %% 2, the "
    f"mSPRT sufficient statistic reused verbatim), the information "
    f"fraction t_k = (n0+n1)_k / (n0+n1)_K, the classical O'Brien-"
    f"Fleming boundary z_a2/sqrt(t_k), and the OBF-LIKE spending "
    f"function alpha*(t) = 2(1 - Phi(z_a2/sqrt(t))) with its per-look "
    f"increment — the fixed-look classical member completing the "
    f"sequential-testing arc beside the always-valid mSPRT "
    f"(events_msprt_sequential), the SRM guard (events_srm_check) and "
    f"the CUSUM drift twins (events_cusum_drift). The boundary column "
    f"is the classical OBF SHAPE (slightly conservative at these "
    f"spending times); the exact Lan-DeMets boundary needs recursive "
    f"multivariate-normal integration, which no closed-form SQL twin "
    f"can honestly claim — the spending column itself is exact. ONE "
    f"map-side-combinable day-grain aggregate over the fact scan (the "
    f"look schedule derives from window maxima plus the exact counting "
    f"identity floor(rn*K/nd) - floor((rn-1)*K/nd) >= 1, so there is no "
    f"second sizing pass — the shape the CUSUM twins adopted in the "
    f"same round, retiring their two-scan params branch); "
    f"every window after runs on the |days|-bounded grain and the looks "
    f"table is <= {GS_LOOKS} rows. The boundary is 6dp-rounded before "
    f"the shared A&S Horner tail (the stats-module transcendental "
    f"discipline)",
    tags=("events", "stats"),
)
def events_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    return group_sequential_from_daily(msprt_daily_aggregate(e))


# ------------------------------------------- cumulative gains / lift table

LIFT_DECILES = 10


@query(
    "ml_lift_deciles",
    oracle=f"""
    WITH s AS (
      SELECT n_chars AS score,
             CAST(count(*) AS BIGINT) AS tot,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM documents GROUP BY n_chars
    ),
    n AS (SELECT CAST(sum(tot) AS BIGINT) AS n,
                 CAST(sum(pos) AS BIGINT) AS n_pos FROM s),
    c AS (
      SELECT s.score, s.tot, s.pos, n.n, n.n_pos,
             coalesce(sum(s.tot) OVER (ORDER BY s.score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM s CROSS JOIN n
    ),
    dec AS (
      SELECT least(CAST(floor(cum_prev * {LIFT_DECILES}.0 / n) AS BIGINT),
                   {LIFT_DECILES - 1}) AS decile,
             n, n_pos, tot, pos
      FROM c
    ),
    g AS (
      SELECT decile, n, n_pos,
             CAST(sum(tot) AS BIGINT) AS n_docs,
             CAST(sum(pos) AS BIGINT) AS pos_docs
      FROM dec GROUP BY decile, n, n_pos
    ),
    cum AS (
      SELECT decile, n, n_pos, n_docs, pos_docs,
             sum(n_docs) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_docs,
             sum(pos_docs) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
      FROM g
    )
    SELECT decile, n_docs, pos_docs,
           round(CAST(pos_docs AS DOUBLE) / n_docs, 6) AS response_rate,
           round((CAST(pos_docs AS DOUBLE) / n_docs)
                 / (CAST(n_pos AS DOUBLE) / n), 6) AS lift,
           round(CAST(cum_pos AS DOUBLE) / n_pos, 6) AS cum_capture,
           round((CAST(cum_pos AS DOUBLE) / cum_docs)
                 / (CAST(n_pos AS DOUBLE) / n), 6) AS cum_lift
    FROM cum ORDER BY decile
    """,
    doc=f"cumulative gains / lift table (the classic campaign-targeting "
    f"decile readout; Berry & Linoff 2004): score = n_chars ranked "
    f"descending, outcome = lang='en'; each DISTINCT score value is "
    f"assigned to the decile where its first document falls (floor of the "
    f"preceding cumulative count x {LIFT_DECILES} / n), then per decile "
    f"the response rate, lift vs the base rate, cumulative capture of all "
    f"positives, and cumulative lift. The decile assignment runs on the "
    f"distinct-score grain (bounded by the n_chars value domain, ~313 "
    f"values, NOT corpus size) exactly like ml_auc_roc — the naive "
    f"ntile-over-every-row global window is what this shape avoids at "
    f"100 TB. ALL INTEGER until the final divisions, so both engines are "
    f"exact by construction. Heavy score ties can legitimately leave a "
    f"decile empty (the whole tie block lands where it starts) — "
    f"deterministic on both engines. Completes the ranking-audit family: "
    f"ml_auc_roc orders, ml_pr_auc operates, this one BUDGETS (how deep "
    f"must curation dig to capture X% of the positives)",
    tags=("stats", "pipeline"),
)
def ml_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    en = F.col("lang") == "en"
    s = d.groupBy(F.col("n_chars").alias("score")).agg(
        F.count(F.lit(1)).cast("bigint").alias("tot"),
        F.sum(F.when(en, 1).otherwise(0)).cast("bigint").alias("pos"),
    )
    n = s.agg(
        F.sum("tot").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    w = W.orderBy(F.col("score").desc()).rowsBetween(W.unboundedPreceding, -1)
    c = s.crossJoin(F.broadcast(n)).select(
        "score",
        "tot",
        "pos",
        "n",
        "n_pos",
        F.coalesce(F.sum("tot").over(w), F.lit(0)).alias("cum_prev"),
    )
    dec = c.select(
        F.least(
            F.floor(F.col("cum_prev") * float(LIFT_DECILES) / F.col("n")).cast(
                "bigint"
            ),
            F.lit(LIFT_DECILES - 1),
        ).alias("decile"),
        "n",
        "n_pos",
        "tot",
        "pos",
    )
    g = dec.groupBy("decile", "n", "n_pos").agg(
        F.sum("tot").cast("bigint").alias("n_docs"),
        F.sum("pos").cast("bigint").alias("pos_docs"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    cum = g.select(
        "decile",
        "n",
        "n_pos",
        "n_docs",
        "pos_docs",
        F.sum("n_docs").over(wc).alias("cum_docs"),
        F.sum("pos_docs").over(wc).alias("cum_pos"),
    )
    base = F.col("n_pos").cast("double") / F.col("n")
    return cum.select(
        "decile",
        "n_docs",
        "pos_docs",
        F.round(F.col("pos_docs").cast("double") / F.col("n_docs"), 6).alias(
            "response_rate"
        ),
        F.round(
            (F.col("pos_docs").cast("double") / F.col("n_docs")) / base, 6
        ).alias("lift"),
        F.round(F.col("cum_pos").cast("double") / F.col("n_pos"), 6).alias(
            "cum_capture"
        ),
        F.round(
            (F.col("cum_pos").cast("double") / F.col("cum_docs")) / base, 6
        ).alias("cum_lift"),
    ).orderBy("decile")


# --------------------------------------- Murphy Brier-score decomposition


@query(
    "ml_brier_decomposition",
    oracle=f"""
    WITH stats AS (
      SELECT CAST(sum({_Q6.format(x='CAST(n_chars AS DOUBLE)')}) AS DOUBLE)
               / count(*) AS mu,
             CAST(sum({_Q6.format(x='CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)')}) AS DOUBLE)
               / count(*) AS m2
      FROM documents
    ),
    scored AS (
      SELECT round(1.0 / (1.0 + exp(-((CAST(d.n_chars AS DOUBLE) - s.mu)
                   / sqrt(s.m2 - s.mu * s.mu)))), 6) AS p_hat,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents d CROSS JOIN stats s
    ),
    g AS (
      SELECT p_hat,
             CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(y) AS BIGINT) AS s_k
      FROM scored GROUP BY p_hat
    ),
    tot AS (
      SELECT CAST(sum(n_k) AS BIGINT) AS n,
             CAST(sum(s_k) AS BIGINT) AS s,
             CAST(sum(s_k) AS DOUBLE) / sum(n_k) AS obar
      FROM g
    ),
    terms AS (
      SELECT t.n, t.obar,
             {_Q6.format(x='g.n_k * (g.p_hat - CAST(g.s_k AS DOUBLE) / g.n_k) * (g.p_hat - CAST(g.s_k AS DOUBLE) / g.n_k)')} AS rel_term,
             {_Q6.format(x='g.n_k * (CAST(g.s_k AS DOUBLE) / g.n_k - t.obar) * (CAST(g.s_k AS DOUBLE) / g.n_k - t.obar)')} AS res_term,
             {_Q6.format(x='g.n_k * g.p_hat * g.p_hat - 2.0 * g.p_hat * g.s_k + g.s_k')} AS brier_term
      FROM g CROSS JOIN tot t
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_scores,
           round(obar, 6) AS base_rate,
           round(CAST(sum(brier_term) AS DOUBLE) / n, 6) AS brier,
           round(CAST(sum(rel_term) AS DOUBLE) / n, 6) AS reliability,
           round(CAST(sum(res_term) AS DOUBLE) / n, 6) AS resolution,
           round(obar * (1.0 - obar), 6) AS uncertainty,
           round(CAST(sum(brier_term) AS DOUBLE) / n
                 - (CAST(sum(rel_term) AS DOUBLE) / n
                    - CAST(sum(res_term) AS DOUBLE) / n
                    + obar * (1.0 - obar)), 6) + 0.0 AS decomp_residual
    FROM terms GROUP BY n, obar
    """,
    doc="Murphy (1973) three-component Brier decomposition BS = REL - RES "
    "+ UNC for the deterministic logistic score of ml_calibration_bins, "
    "computed at the DISTINCT-FORECAST grain where the identity is EXACT "
    "(binning at arbitrary edges leaves a within-bin variance residual; "
    "grouping by the forecast value itself does not — Stephenson et al. "
    "2008). reliability = how far forecasts sit from their conditional "
    "outcome rates (lower better), resolution = how much the forecasts "
    "separate outcome rates from the base rate (higher better), "
    "uncertainty = obar(1-obar) is the data's irreducible floor. "
    "decomp_residual is the computed identity check — 0.000000 by "
    "construction, a wrong-grain regression flips it nonzero. The grain "
    "is bounded by the n_chars value domain (~313 distinct p_hat values), "
    "so the decomposition costs one map-side-combinable groupBy plus "
    "domain-bounded math at ANY corpus size; y-sums stay integer, every "
    "double term is 6dp-decimal quantized before summing "
    "(order-independent across partitions and engines)",
    tags=("stats", "pipeline", "bench_extra"),
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    x = F.col("n_chars").cast("double")
    stats = d.agg(
        (F.sum(_q6(x)).cast("double") / F.count(F.lit(1))).alias("mu"),
        (F.sum(_q6(x * x)).cast("double") / F.count(F.lit(1))).alias("m2"),
    )
    scored = d.crossJoin(F.broadcast(stats)).select(
        F.round(
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        (x - F.col("mu"))
                        / F.sqrt(F.col("m2") - F.col("mu") * F.col("mu"))
                    )
                )
            ),
            6,
        ).alias("p_hat"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    # score-grain (distinct p_hat) table: totals agg + decomposition
    # terms both re-derived the stats+scoring passes over documents
    # unpinned (4 executed scans). Two passes
    # remain after the pin — the moments pass and the scoring pass are
    # inherently ordered (mu/sigma before p_hat).
    g = scored.groupBy("p_hat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("s_k"),
    ).transform(pin)
    tot = g.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum("s_k").cast("bigint").alias("s"),
        (F.sum("s_k").cast("double") / F.sum("n_k")).alias("obar"),
    )
    o_k = F.col("s_k").cast("double") / F.col("n_k")
    terms = g.crossJoin(F.broadcast(tot)).select(
        "n",
        "obar",
        _q6(F.col("n_k") * (F.col("p_hat") - o_k) * (F.col("p_hat") - o_k)).alias(
            "rel_term"
        ),
        _q6(
            F.col("n_k") * (o_k - F.col("obar")) * (o_k - F.col("obar"))
        ).alias("res_term"),
        _q6(
            F.col("n_k") * F.col("p_hat") * F.col("p_hat")
            - F.lit(2.0) * F.col("p_hat") * F.col("s_k")
            + F.col("s_k")
        ).alias("brier_term"),
    )
    rel = F.sum("rel_term").cast("double") / F.col("n")
    res = F.sum("res_term").cast("double") / F.col("n")
    brier = F.sum("brier_term").cast("double") / F.col("n")
    unc = F.col("obar") * (F.lit(1.0) - F.col("obar"))
    return terms.groupBy("n", "obar").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scores"),
        F.round(brier, 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        # + 0.0 normalizes the sign of zero (IEEE: -0.0 + 0.0 = +0.0) on
        # BOTH engine sides: the identity check rounds a difference, and
        # DuckDB's round landed on -0.0 while Spark's landed on 0.0 —
        # numerically equal but the driver hashes RENDERED values, so
        # repr(-0.0) = '-0.0' diverges.
        (F.round(brier - (rel - res + unc), 6) + F.lit(0.0)).alias(
            "decomp_residual"
        ),
    ).select(
        F.col("n").cast("bigint").alias("n_docs"),
        "n_scores",
        F.round(F.col("obar"), 6).alias("base_rate"),
        "brier",
        "reliability",
        "resolution",
        F.round(unc, 6).alias("uncertainty"),
        "decomp_residual",
    )


# --------------------------------------------- A/B power / MDE calculator

# z_{alpha/2} at alpha=0.05 plus z_{power} at 80% — the standard
# two-sided 5% / 80%-power design constants (Cohen 1988 table values,
# written to full double precision so both engines multiply the same
# literal).
Z_ALPHA_HALF = 1.9599639845400545
Z_POWER = 0.8416212335729143
Z_DESIGN = Z_ALPHA_HALF + Z_POWER  # 2.8015852181129688


@query(
    "events_ab_power_mde",
    oracle=f"""
    WITH u AS (
      SELECT event_type, user_id, user_id % 2 AS arm,
             CAST(sum({_Q6.format(x='value')}) AS DOUBLE) AS x
      FROM events GROUP BY event_type, user_id
    ),
    m AS (
      SELECT event_type,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN arm = 0 THEN {_Q6.format(x='x')} END) AS DOUBLE) AS s0,
             CAST(sum(CASE WHEN arm = 1 THEN {_Q6.format(x='x')} END) AS DOUBLE) AS s1,
             CAST(sum(CASE WHEN arm = 0 THEN {_Q6.format(x='x * x')} END) AS DOUBLE) AS t0,
             CAST(sum(CASE WHEN arm = 1 THEN {_Q6.format(x='x * x')} END) AS DOUBLE) AS t1
      FROM u GROUP BY event_type
    ),
    se AS (
      SELECT event_type, n0, n1, s0 / n0 AS mean0, s1 / n1 AS mean1,
             sqrt((t0 / n0 - (s0 / n0) * (s0 / n0)) / n0
                + (t1 / n1 - (s1 / n1) * (s1 / n1)) / n1) AS se_diff
      FROM m
    )
    SELECT event_type, n0, n1,
           round(mean0, 6) AS mean0,
           round(mean1, 6) AS mean1,
           round(se_diff, 6) AS se_diff,
           round({Z_DESIGN!r} * se_diff, 6) AS mde_abs,
           round({Z_DESIGN!r} * se_diff / mean0, 6) AS mde_rel,
           round(mean1 - mean0, 6) AS observed_delta,
           abs(mean1 - mean0) >= {Z_DESIGN!r} * se_diff AS detectable
    FROM se ORDER BY event_type
    """,
    doc="two-sample power analysis / minimum-detectable-effect calculator "
    "(Cohen 1988; the pre-registration readout every A/B platform prints "
    "next to its lift): per event_type, the unit of analysis is the "
    "per-user value sum (randomization-unit grain — computing on raw "
    "events would understate the variance by the within-user "
    "correlation), arms split by the deterministic user_id % 2. "
    "MDE_abs = (z_{alpha/2} + z_{power}) * SE(diff) at the standard "
    "5%/80% design point, MDE_rel scales by the control mean, and "
    "'detectable' says whether the OBSERVED delta clears the design bar "
    "— the honest 'was this experiment even powered for what it claims' "
    "guard beside events_ab_lift/events_msprt_sequential. One user-grain "
    "aggregate (the only fact-table shuffle) then |event_type|-bounded "
    "math; per-user sums and their squares are 6dp-decimal quantized so "
    "both engines feed identical doubles into the (+,-,*,/,sqrt)-only "
    "formula — every operation is IEEE-correctly-rounded, no libm "
    "transcendental anywhere",
    tags=("events", "stats"),
)
def events_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    u = e.groupBy(
        "event_type", "user_id", (F.col("user_id") % 2).alias("arm")
    ).agg(F.sum(_q6(F.col("value"))).cast("double").alias("x"))
    x = F.col("x")
    m = u.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, _q6(x))).cast("double").alias("s0"),
        F.sum(F.when(F.col("arm") == 1, _q6(x))).cast("double").alias("s1"),
        F.sum(F.when(F.col("arm") == 0, _q6(x * x))).cast("double").alias("t0"),
        F.sum(F.when(F.col("arm") == 1, _q6(x * x))).cast("double").alias("t1"),
    )
    mean0 = F.col("s0") / F.col("n0")
    mean1 = F.col("s1") / F.col("n1")
    se = m.select(
        "event_type",
        "n0",
        "n1",
        mean0.alias("mean0"),
        mean1.alias("mean1"),
        F.sqrt(
            (F.col("t0") / F.col("n0") - mean0 * mean0) / F.col("n0")
            + (F.col("t1") / F.col("n1") - mean1 * mean1) / F.col("n1")
        ).alias("se_diff"),
    )
    return se.select(
        "event_type",
        "n0",
        "n1",
        F.round("mean0", 6).alias("mean0"),
        F.round("mean1", 6).alias("mean1"),
        F.round("se_diff", 6).alias("se_diff"),
        F.round(F.lit(Z_DESIGN) * F.col("se_diff"), 6).alias("mde_abs"),
        F.round(F.lit(Z_DESIGN) * F.col("se_diff") / F.col("mean0"), 6).alias(
            "mde_rel"
        ),
        F.round(F.col("mean1") - F.col("mean0"), 6).alias("observed_delta"),
        (
            F.abs(F.col("mean1") - F.col("mean0"))
            >= F.lit(Z_DESIGN) * F.col("se_diff")
        ).alias("detectable"),
    ).orderBy("event_type")


# ------------------------------------------ exact permutation test (hashed)

PERM_K = 64  # re-randomizations; p-value resolution = 1/(K+1)


def _perm_arm_sql(k: str) -> str:
    from http_datafusion_spark.functions.hashing import md5_int_sql

    return (
        md5_int_sql(f"concat('perm|', CAST({k} AS VARCHAR), '|', "
                    f"CAST(user_id AS VARCHAR))")
        + " % 2"
    )


@query(
    "stats_permutation_test",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(sum({_Q6.format(x='value')}) AS DOUBLE) AS x
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN arm = 1 THEN {_Q6.format(x='x')} END) AS DOUBLE)
               / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
             - CAST(sum(CASE WHEN arm = 0 THEN {_Q6.format(x='x')} END) AS DOUBLE)
               / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS diff_obs
      FROM u
    ),
    ks AS (SELECT unnest(range(0, {PERM_K})) AS k),
    perm AS (
      SELECT ks.k, {_perm_arm_sql('ks.k')} AS arm_k, u.x
      FROM u CROSS JOIN ks
    ),
    diffs AS (
      SELECT k,
             CAST(sum(CASE WHEN arm_k = 1 THEN {_Q6.format(x='x')} END) AS DOUBLE)
               / sum(CASE WHEN arm_k = 1 THEN 1 ELSE 0 END)
             - CAST(sum(CASE WHEN arm_k = 0 THEN {_Q6.format(x='x')} END) AS DOUBLE)
               / sum(CASE WHEN arm_k = 0 THEN 1 ELSE 0 END) AS diff_k
      FROM perm GROUP BY k
    )
    SELECT o.n_users,
           round(o.diff_obs, 6) AS observed_diff,
           CAST({PERM_K} AS BIGINT) AS k_perms,
           CAST(sum(CASE WHEN abs(d.diff_k) >= abs(o.diff_obs)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           round((1.0 + sum(CASE WHEN abs(d.diff_k) >= abs(o.diff_obs)
                                 THEN 1 ELSE 0 END)) / ({PERM_K} + 1.0), 6)
             AS p_value
    FROM diffs d CROSS JOIN obs o
    GROUP BY o.n_users, o.diff_obs
    """,
    doc=f"exact randomization/permutation test (Fisher 1935; Ernst 2004 "
    f"review) for the two-arm difference in per-user value sums: the "
    f"observed split is the deterministic user_id %% 2 assignment, the "
    f"null distribution is {PERM_K} md5-derived RE-randomizations "
    f"(arm_k = md5('perm|k|user') %% 2 — reproducible, engine-portable, "
    f"no rand()), p = (1 + #extreme) / (K+1) with the add-one "
    f"Phipson-Smyth correction that keeps the test valid at finite K. "
    f"The distribution-free companion to events_ab_lift's z-test — no "
    f"normality or variance assumption, just exchangeability under the "
    f"null. One fact-to-user-grain shuffle, then the user-grain table "
    f"explodes x{PERM_K} into a (k, arm)-keyed partial aggregate — a "
    f"bounded multiplier on the SMALL grain, never on raw events; all "
    f"means from 6dp-decimal sums so the extreme-count comparison is "
    f"engine-identical",
    tags=("events", "stats"),
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.hashing import md5_int

    e = load_tables(spark, sf_dir, "events")["events"]
    u = e.groupBy("user_id").agg(
        F.sum(_q6(F.col("value"))).cast("double").alias("x")
    ).select(
        "user_id", (F.col("user_id") % 2).cast("bigint").alias("arm"), "x"
    )
    x6 = _q6(F.col("x"))
    mean_of = lambda arm_col, a: (  # noqa: E731
        F.sum(F.when(arm_col == a, x6)).cast("double")
        / F.sum(F.when(arm_col == a, 1).otherwise(0))
    )
    obs = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        (mean_of(F.col("arm"), 1) - mean_of(F.col("arm"), 0)).alias("diff_obs"),
    )
    perm = u.select(
        "x", F.explode(F.sequence(F.lit(0), F.lit(PERM_K - 1))).alias("k"), "user_id"
    ).select(
        "k",
        "x",
        (
            md5_int(
                F.concat(
                    F.lit("perm|"),
                    F.col("k").cast("string"),
                    F.lit("|"),
                    F.col("user_id").cast("string"),
                )
            )
            % 2
        ).alias("arm_k"),
    )
    diffs = perm.groupBy("k").agg(
        (mean_of(F.col("arm_k"), 1) - mean_of(F.col("arm_k"), 0)).alias("diff_k")
    )
    extreme = F.sum(
        F.when(F.abs(F.col("diff_k")) >= F.abs(F.col("diff_obs")), 1).otherwise(0)
    )
    return (
        diffs.crossJoin(F.broadcast(obs))
        .groupBy("n_users", "diff_obs")
        .agg(
            extreme.cast("bigint").alias("n_extreme"),
            F.round(
                (F.lit(1.0) + extreme) / F.lit(float(PERM_K + 1)), 6
            ).alias("p_value"),
        )
        .select(
            "n_users",
            F.round(F.col("diff_obs"), 6).alias("observed_diff"),
            F.lit(PERM_K).cast("bigint").alias("k_perms"),
            "n_extreme",
            "p_value",
        )
    )


# --------------------------------------- KS score-separation statistic


@query(
    "ml_ks_score_separation",
    oracle="""
    WITH s AS (
      SELECT n_chars AS score,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM documents GROUP BY n_chars
    ),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                   CAST(sum(neg) AS BIGINT) AS n_neg FROM s),
    c AS (
      SELECT score,
             sum(pos) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
             sum(neg) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_neg
      FROM s
    ),
    d AS (
      SELECT score,
             abs(CAST(cum_pos AS DOUBLE) / t.n_pos
                 - CAST(cum_neg AS DOUBLE) / t.n_neg) AS gap,
             t.n_pos, t.n_neg
      FROM c CROSS JOIN tot t
    )
    SELECT n_pos, n_neg,
           CAST(score AS BIGINT) AS ks_threshold,
           round(gap, 6) AS ks_stat
    FROM d ORDER BY gap DESC, score ASC LIMIT 1
    """,
    doc="Kolmogorov-Smirnov score-separation statistic (the credit-"
    "scoring 'KS' — Mays 2004; the two-sample events_ks_two_sample "
    "machinery specialized to classifier scores): KS = max over score "
    "thresholds of |ECDF_pos - ECDF_neg| for score n_chars vs outcome "
    "lang='en', plus the threshold attaining it (smallest on ties). "
    "Where AUC integrates separation over every operating point, KS "
    "reports the single BEST cut and where it sits — the number a "
    "threshold-based curation gate actually deploys. Same scale shape "
    "as ml_auc_roc: one integer groupBy to the distinct-score grain "
    "(~313 values, bounded by the n_chars domain), two running sums "
    "over that grain, a grain-sized top-1 fused to "
    "TakeOrderedAndProject; cumulative counts are pure integers so the "
    "gap doubles are engine-identical",
    tags=("stats", "pipeline"),
)
def ml_ks_score_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    en = F.col("lang") == "en"
    s = d.groupBy(F.col("n_chars").alias("score")).agg(
        F.sum(F.when(en, 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(~en, 1).otherwise(0)).cast("bigint").alias("neg"),
    )
    tot = s.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
    )
    w = W.orderBy("score").rowsBetween(W.unboundedPreceding, 0)
    c = s.select(
        "score",
        F.sum("pos").over(w).alias("cum_pos"),
        F.sum("neg").over(w).alias("cum_neg"),
    )
    gap = F.abs(
        F.col("cum_pos").cast("double") / F.col("n_pos")
        - F.col("cum_neg").cast("double") / F.col("n_neg")
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select("score", gap.alias("gap"), "n_pos", "n_neg")
        .orderBy(F.col("gap").desc(), F.col("score").asc())
        .limit(1)
        .select(
            "n_pos",
            "n_neg",
            F.col("score").cast("bigint").alias("ks_threshold"),
            F.round(F.col("gap"), 6).alias("ks_stat"),
        )
    )


# ------------------------------------------ IPW (Hajek) ATE estimator


@query(
    "events_ate_ipw",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CASE WHEN sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       >= {ATT_ERR_MIN} THEN 1 ELSE 0 END AS treated,
             CAST(sum(CASE WHEN event_type <> 'error'
                           THEN {_Q6.format(x='value')} END) AS DOUBLE)
               / nullif(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END), 0)
               AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(floor(n_events * 1.0 / {ATT_STRATUM_W}) AS BIGINT) AS stratum,
             treated, y
      FROM u WHERE y IS NOT NULL
    ),
    cells AS (
      SELECT stratum,
             CAST(sum(treated) AS BIGINT) AS n1,
             CAST(sum(1 - treated) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN treated = 1 THEN {_Q6.format(x='y')} END) AS DOUBLE) AS s1,
             CAST(sum(CASE WHEN treated = 0 THEN {_Q6.format(x='y')} END) AS DOUBLE) AS s0
      FROM s GROUP BY stratum
      HAVING sum(treated) >= 1 AND sum(1 - treated) >= 1
    ),
    w AS (
      SELECT n1, n0, s1, s0,
             CAST(n1 + n0 AS DOUBLE) / n1 AS inv_e,
             CAST(n1 + n0 AS DOUBLE) / n0 AS inv_ce
      FROM cells
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata_used,
           CAST(sum(n1) AS BIGINT) AS n_treated,
           CAST(sum(n0) AS BIGINT) AS n_control,
           round(CAST(sum({_Q6.format(x='s1')}) AS DOUBLE) / sum(n1)
                 - CAST(sum({_Q6.format(x='s0')}) AS DOUBLE) / sum(n0), 6)
             AS naive_diff,
           round(CAST(sum({_Q6.format(x='s1 * inv_e')}) AS DOUBLE)
                   / CAST(sum({_Q6.format(x='n1 * inv_e')}) AS DOUBLE)
                 - CAST(sum({_Q6.format(x='s0 * inv_ce')}) AS DOUBLE)
                   / CAST(sum({_Q6.format(x='n0 * inv_ce')}) AS DOUBLE), 6)
             AS ate_ipw,
           round(CAST(sum({_Q6.format(x='n1 * inv_e')}) AS DOUBLE)
                 * CAST(sum({_Q6.format(x='n1 * inv_e')}) AS DOUBLE)
                 / CAST(sum({_Q6.format(x='n1 * inv_e * inv_e')}) AS DOUBLE), 6)
             AS ess_treated,
           round(CAST(sum({_Q6.format(x='n0 * inv_ce')}) AS DOUBLE)
                 * CAST(sum({_Q6.format(x='n0 * inv_ce')}) AS DOUBLE)
                 / CAST(sum({_Q6.format(x='n0 * inv_ce * inv_ce')}) AS DOUBLE), 6)
             AS ess_control
    FROM w
    """,
    doc=f"Hajek-normalized inverse-propensity-weighted ATE (Horvitz-"
    f"Thompson 1952 weighting with the stabilized/self-normalized "
    f"estimator — Hirano-Imbens-Ridder 2003) on the SAME design as "
    f"events_att_stratified: treatment = chronic error exposure (>= "
    f"{ATT_ERR_MIN} errors), outcome = mean non-error value, propensity "
    f"e_s = n1_s/(n1_s+n0_s) estimated within {ATT_STRATUM_W}-event "
    f"activity strata holding both arms. Where ATT reweights CONTROLS to "
    f"the treated distribution, IPW reweights BOTH arms to the full "
    f"population — the two answer different policy questions and "
    f"disagreeing is informative. Also reports Kish effective sample "
    f"sizes (sum w)^2 / sum w^2 per arm — the weight-concentration "
    f"diagnostic that flags when a near-empty cell's huge weight makes "
    f"the estimate fragile. One user-keyed aggregate, stratum-bounded "
    f"math, inverse weights exact rationals from integer cell counts, "
    f"every cross-stratum sum 6dp-decimal quantized",
    tags=("events", "stats"),
)
def events_ate_ipw(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    err = F.col("event_type") == "error"
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.when(F.sum(F.when(err, 1).otherwise(0)) >= ATT_ERR_MIN, 1)
        .otherwise(0)
        .alias("treated"),
        (
            F.sum(F.when(~err, _q6(F.col("value")))).cast("double")
            / F.nullif(F.sum(F.when(~err, 1).otherwise(0)), F.lit(0))
        ).alias("y"),
    )
    s = u.filter(F.col("y").isNotNull()).select(
        F.floor(F.col("n_events") * 1.0 / ATT_STRATUM_W)
        .cast("bigint")
        .alias("stratum"),
        "treated",
        "y",
    )
    cells = (
        s.groupBy("stratum")
        .agg(
            F.sum("treated").cast("bigint").alias("n1"),
            F.sum(F.lit(1) - F.col("treated")).cast("bigint").alias("n0"),
            F.sum(F.when(F.col("treated") == 1, _q6(F.col("y"))))
            .cast("double")
            .alias("s1"),
            F.sum(F.when(F.col("treated") == 0, _q6(F.col("y"))))
            .cast("double")
            .alias("s0"),
        )
        .filter((F.col("n1") >= 1) & (F.col("n0") >= 1))
    )
    inv_e = (F.col("n1") + F.col("n0")).cast("double") / F.col("n1")
    inv_ce = (F.col("n1") + F.col("n0")).cast("double") / F.col("n0")
    w = cells.select(
        "n1", "n0", "s1", "s0", inv_e.alias("inv_e"), inv_ce.alias("inv_ce")
    )
    sw1 = F.sum(_q6(F.col("n1") * F.col("inv_e"))).cast("double")
    sw0 = F.sum(_q6(F.col("n0") * F.col("inv_ce"))).cast("double")
    return w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata_used"),
        F.sum("n1").cast("bigint").alias("n_treated"),
        F.sum("n0").cast("bigint").alias("n_control"),
        F.round(
            F.sum(_q6(F.col("s1"))).cast("double") / F.sum("n1")
            - F.sum(_q6(F.col("s0"))).cast("double") / F.sum("n0"),
            6,
        ).alias("naive_diff"),
        F.round(
            F.sum(_q6(F.col("s1") * F.col("inv_e"))).cast("double") / sw1
            - F.sum(_q6(F.col("s0") * F.col("inv_ce"))).cast("double") / sw0,
            6,
        ).alias("ate_ipw"),
        F.round(
            sw1 * sw1
            / F.sum(_q6(F.col("n1") * F.col("inv_e") * F.col("inv_e"))).cast(
                "double"
            ),
            6,
        ).alias("ess_treated"),
        F.round(
            sw0 * sw0
            / F.sum(_q6(F.col("n0") * F.col("inv_ce") * F.col("inv_ce"))).cast(
                "double"
            ),
            6,
        ).alias("ess_control"),
    )


# ------------------------------------------------ one-way ANOVA by hour


@query(
    "events_anova_hour",
    oracle=f"""
    WITH x AS (
      SELECT CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) % 24 AS hr,
             CAST(value AS DOUBLE) AS v
      FROM events
    ),
    g AS (
      SELECT hr,
             CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum({_Q6.format(x='v')}) AS DOUBLE) AS s_h,
             CAST(sum({_Q6.format(x='v * v')}) AS DOUBLE) AS t_h
      FROM x GROUP BY hr
    ),
    tot AS (
      SELECT CAST(sum(n_h) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum({_Q6.format(x='s_h')}) AS DOUBLE) AS s,
             CAST(sum({_Q6.format(x='t_h')}) AS DOUBLE) AS t,
             CAST(sum({_Q6.format(x='s_h * s_h / n_h')}) AS DOUBLE) AS bsum
      FROM g
    )
    SELECT n, k,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within,
           round((bsum - s * s / n) / (k - 1)
                 / ((t - bsum) / (n - k)), 6) AS f_stat,
           round((bsum - s * s / n) / (t - s * s / n), 6) AS eta_sq
    FROM tot
    """,
    doc="one-way ANOVA of event value by hour-of-day (Fisher's F; the "
    "diurnal-effect screen run before any hour-partitioned rollout or "
    "time-sliced A/B readout is trusted): 24 groups keyed by the "
    "ENGINE-NEUTRAL integer hour floor(epoch_us/3.6e9) %% 24 — never a "
    "session-timezone hour() call, the CUPED epoch-flooring lesson — "
    "with F = (SSB/(k-1)) / (SSW/(n-k)) and the effect size "
    "eta^2 = SSB/SST from the standard moment identities "
    "SST = t - s^2/n, SSB = sum s_h^2/n_h - s^2/n. One "
    "map-side-combinable 24-key aggregate over the fact scan, then "
    "scalar math on a 1-row frame; per-group moments and the "
    "cross-group reductions are both 6dp-decimal quantized so F and "
    "eta^2 are engine-identical. Completes the inference shelf: "
    "ks/mannwhitney compare two groups, chi-square compares "
    "categoricals, this compares MANY group means at once",
    tags=("events", "stats"),
)
def events_anova_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    x = e.select(
        (
            F.floor(F.unix_micros("ts") / F.lit(3600000000.0)).cast("bigint")
            % 24
        ).alias("hr"),
        F.col("value").cast("double").alias("v"),
    )
    v = F.col("v")
    g = x.groupBy("hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(_q6(v)).cast("double").alias("s_h"),
        F.sum(_q6(v * v)).cast("double").alias("t_h"),
    )
    tot = g.agg(
        F.sum("n_h").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(_q6(F.col("s_h"))).cast("double").alias("s"),
        F.sum(_q6(F.col("t_h"))).cast("double").alias("t"),
        F.sum(_q6(F.col("s_h") * F.col("s_h") / F.col("n_h")))
        .cast("double")
        .alias("bsum"),
    )
    ssb = F.col("bsum") - F.col("s") * F.col("s") / F.col("n")
    sst = F.col("t") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("t") - F.col("bsum")
    return tot.select(
        "n",
        "k",
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df_within"),
        F.round(
            ssb / (F.col("k") - 1) / (ssw / (F.col("n") - F.col("k"))), 6
        ).alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


# ------------------------------------------- WOE / information value

WOE_SMOOTH = 0.5  # Laplace half-count so empty cells stay finite


@query(
    "feature_woe_iv",
    oracle=f"""
    WITH s AS (
      SELECT n_chars AS score,
             CAST(count(*) AS BIGINT) AS tot,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM documents GROUP BY n_chars
    ),
    n AS (SELECT CAST(sum(tot) AS BIGINT) AS n,
                 CAST(sum(pos) AS BIGINT) AS n_pos,
                 CAST(sum(tot - pos) AS BIGINT) AS n_neg FROM s),
    c AS (
      SELECT s.score, s.tot, s.pos, n.n, n.n_pos, n.n_neg,
             coalesce(sum(s.tot) OVER (ORDER BY s.score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM s CROSS JOIN n
    ),
    g AS (
      SELECT least(CAST(floor(cum_prev * {LIFT_DECILES}.0 / n) AS BIGINT),
                   {LIFT_DECILES - 1}) AS decile,
             n_pos, n_neg,
             CAST(sum(tot) AS BIGINT) AS n_docs,
             CAST(sum(pos) AS BIGINT) AS pos_b,
             CAST(sum(tot - pos) AS BIGINT) AS neg_b
      FROM c GROUP BY 1, n_pos, n_neg
    ),
    w AS (
      SELECT decile, n_docs, pos_b, neg_b,
             round((pos_b + {WOE_SMOOTH}) / (n_pos + {WOE_SMOOTH} * {LIFT_DECILES})
                   / ((neg_b + {WOE_SMOOTH}) / (n_neg + {WOE_SMOOTH} * {LIFT_DECILES})), 6)
               AS odds_ratio,
             (pos_b + {WOE_SMOOTH}) / (n_pos + {WOE_SMOOTH} * {LIFT_DECILES})
               - (neg_b + {WOE_SMOOTH}) / (n_neg + {WOE_SMOOTH} * {LIFT_DECILES})
               AS rate_gap
      FROM g
    ),
    t AS (
      SELECT decile, n_docs, pos_b, neg_b,
             round(ln(odds_ratio), 6) AS woe,
             {_Q6.format(x='rate_gap * round(ln(odds_ratio), 6)')} AS iv_term
      FROM w
    ),
    iv AS (SELECT round(CAST(sum(iv_term) AS DOUBLE), 6) AS iv_total FROM t)
    SELECT t.decile, t.n_docs, t.pos_b, t.neg_b, t.woe,
           round(CAST(t.iv_term AS DOUBLE), 6) AS iv_term, i.iv_total
    FROM t CROSS JOIN iv i ORDER BY t.decile
    """,
    doc=f"weight-of-evidence / information value (the credit-scoring "
    f"feature-strength staple — Siddiqi 2006): score deciles assigned on "
    f"the distinct-score grain exactly as ml_lift_deciles, per decile "
    f"WOE = ln(odds ratio of positive vs negative mass) with "
    f"{WOE_SMOOTH}-Laplace smoothing so empty cells stay finite, IV = "
    f"sum (p_b - q_b) * WOE_b with the conventional reading (<0.02 "
    f"useless, >0.5 suspicious). The VALUE-scaled complement of "
    f"ml_auc_roc's pure ordering: WOE bins are what a scorecard "
    f"actually deploys. Transcendental discipline: the odds ratio is "
    f"6dp-rounded BEFORE ln and the WOE after, IV terms 6dp-decimal "
    f"before summing; everything upstream integer. Bounded-grain "
    f"windows only; one fact scan",
    tags=("stats", "pipeline", "bench_extra"),
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    en = F.col("lang") == "en"
    s = d.groupBy(F.col("n_chars").alias("score")).agg(
        F.count(F.lit(1)).cast("bigint").alias("tot"),
        F.sum(F.when(en, 1).otherwise(0)).cast("bigint").alias("pos"),
    ).transform(pin)  # score-grain: totals + decile window + IV/final consumers re-derived the doc scan unpinned (4 scans)
    n = s.agg(
        F.sum("tot").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("tot") - F.col("pos")).cast("bigint").alias("n_neg"),
    )
    w = W.orderBy(F.col("score").desc()).rowsBetween(W.unboundedPreceding, -1)
    c = s.crossJoin(F.broadcast(n)).select(
        "score",
        "tot",
        "pos",
        "n",
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("tot").over(w), F.lit(0)).alias("cum_prev"),
    )
    g = (
        c.select(
            F.least(
                F.floor(
                    F.col("cum_prev") * float(LIFT_DECILES) / F.col("n")
                ).cast("bigint"),
                F.lit(LIFT_DECILES - 1),
            ).alias("decile"),
            "n_pos",
            "n_neg",
            "tot",
            "pos",
        )
        .groupBy("decile", "n_pos", "n_neg")
        .agg(
            F.sum("tot").cast("bigint").alias("n_docs"),
            F.sum("pos").cast("bigint").alias("pos_b"),
            F.sum(F.col("tot") - F.col("pos")).cast("bigint").alias("neg_b"),
        )
    )
    p_rate = (F.col("pos_b") + WOE_SMOOTH) / (
        F.col("n_pos") + WOE_SMOOTH * LIFT_DECILES
    )
    q_rate = (F.col("neg_b") + WOE_SMOOTH) / (
        F.col("n_neg") + WOE_SMOOTH * LIFT_DECILES
    )
    wdf = g.select(
        "decile",
        "n_docs",
        "pos_b",
        "neg_b",
        F.round(p_rate / q_rate, 6).alias("odds_ratio"),
        (p_rate - q_rate).alias("rate_gap"),
    )
    t = wdf.select(
        "decile",
        "n_docs",
        "pos_b",
        "neg_b",
        F.round(F.log(F.col("odds_ratio")), 6).alias("woe"),
        _q6(
            F.col("rate_gap") * F.round(F.log(F.col("odds_ratio")), 6)
        ).alias("iv_term"),
    )
    iv = t.agg(F.round(F.sum("iv_term").cast("double"), 6).alias("iv_total"))
    return (
        t.crossJoin(F.broadcast(iv))
        .select(
            "decile",
            "n_docs",
            "pos_b",
            "neg_b",
            "woe",
            F.round(F.col("iv_term").cast("double"), 6).alias("iv_term"),
            "iv_total",
        )
        .orderBy("decile")
    )


# ------------------------------------------- cost-optimal threshold

COST_FP = 1.0  # cost of a false positive (wrongly kept document)
COST_FN = 5.0  # cost of a false negative (wrongly dropped positive)


@query(
    "ml_cost_threshold",
    oracle=f"""
    WITH s AS (
      SELECT n_chars AS score,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM documents GROUP BY n_chars
    ),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                   CAST(sum(neg) AS BIGINT) AS n_neg FROM s),
    c AS (
      SELECT score,
             sum(pos) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(neg) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM s
    ),
    costs AS (
      SELECT score, tp, fp, t.n_pos, t.n_neg,
             {COST_FP} * fp + {COST_FN} * (t.n_pos - tp) AS cost
      FROM c CROSS JOIN tot t
    ),
    best AS (
      SELECT CAST(score AS BIGINT) AS best_threshold,
             CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
             CAST(n_pos - tp AS BIGINT) AS fn,
             CAST(n_neg - fp AS BIGINT) AS tn,
             round(cost, 6) AS min_cost, n_pos, n_neg
      FROM costs ORDER BY cost ASC, score ASC LIMIT 1
    )
    SELECT best_threshold, tp, fp, fn, tn, min_cost,
           round({COST_FP} * n_neg, 6) AS cost_accept_all,
           round({COST_FN} * n_pos, 6) AS cost_reject_all
    FROM best
    """,
    doc=f"cost-sensitive operating point (Elkan 2001 'The Foundations of "
    f"Cost-Sensitive Learning'): with asymmetric unit costs FP={COST_FP} "
    f"/ FN={COST_FN} (dropping a genuine positive costs {COST_FN:.0f}x "
    f"keeping a junk one — the usual curation asymmetry), sweep every "
    f"threshold on the distinct-score grain and pick the cost-minimal "
    f"one, beside the two degenerate baselines (accept-all pays "
    f"FP*n_neg, reject-all pays FN*n_pos) that any deployed cut must "
    f"beat. Where ml_pr_auc's best-F1 weighs precision and recall "
    f"equally, this prices them — same grain, same two running sums, a "
    f"grain-sized top-1 fused to TakeOrderedAndProject; tp/fp are pure "
    f"integers and the cost a literal-weighted integer combination, so "
    f"the argmin is engine-identical with no rounding discipline needed",
    tags=("stats", "pipeline"),
)
def ml_cost_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    en = F.col("lang") == "en"
    s = d.groupBy(F.col("n_chars").alias("score")).agg(
        F.sum(F.when(en, 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(~en, 1).otherwise(0)).cast("bigint").alias("neg"),
    )
    tot = s.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
    )
    w = W.orderBy(F.col("score").desc()).rowsBetween(W.unboundedPreceding, 0)
    c = s.select(
        "score",
        F.sum("pos").over(w).alias("tp"),
        F.sum("neg").over(w).alias("fp"),
    )
    costs = c.crossJoin(F.broadcast(tot)).select(
        "score",
        "tp",
        "fp",
        "n_pos",
        "n_neg",
        (
            F.lit(COST_FP) * F.col("fp")
            + F.lit(COST_FN) * (F.col("n_pos") - F.col("tp"))
        ).alias("cost"),
    )
    return (
        costs.orderBy(F.col("cost").asc(), F.col("score").asc())
        .limit(1)
        .select(
            F.col("score").cast("bigint").alias("best_threshold"),
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            (F.col("n_pos") - F.col("tp")).cast("bigint").alias("fn"),
            (F.col("n_neg") - F.col("fp")).cast("bigint").alias("tn"),
            F.round(F.col("cost"), 6).alias("min_cost"),
            F.round(F.lit(COST_FP) * F.col("n_neg"), 6).alias("cost_accept_all"),
            F.round(F.lit(COST_FN) * F.col("n_pos"), 6).alias("cost_reject_all"),
        )
    )


# --------------------------------------- retention decay half-life fit

LN2 = 0.6931471805599453


@query(
    "events_retention_halflife",
    oracle=f"""
    WITH cohort AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS c_day FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS a_day FROM events
    ),
    offs AS (
      SELECT CAST(a.a_day - c.c_day AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS n_t
      FROM cohort c JOIN active a ON c.user_id = a.user_id
      GROUP BY 1
    ),
    base AS (SELECT CAST(n_t AS BIGINT) AS n0 FROM offs WHERE t = 0),
    pts AS (
      SELECT CAST(t AS DOUBLE) AS x,
             round(ln(round(CAST(n_t AS DOUBLE) / b.n0, 6)), 6) AS y
      FROM offs CROSS JOIN base b WHERE t >= 1 AND n_t > 0
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum({_Q6.format(x='x')}) AS DOUBLE) AS sx,
             CAST(sum({_Q6.format(x='y')}) AS DOUBLE) AS sy,
             CAST(sum({_Q6.format(x='x * y')}) AS DOUBLE) AS sxy,
             CAST(sum({_Q6.format(x='x * x')}) AS DOUBLE) AS sxx,
             CAST(sum({_Q6.format(x='y * y')}) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT k AS n_offsets_fit,
           round((sxy - sx * sy / k) / (sxx - sx * sx / k), 6) AS slope,
           round(sy / k - (sxy - sx * sy / k) / (sxx - sx * sx / k) * sx / k, 6)
             AS intercept,
           round(-{LN2!r} / ((sxy - sx * sy / k) / (sxx - sx * sx / k)), 6)
             AS half_life_days,
           round((sxy - sx * sy / k) * (sxy - sx * sy / k)
                 / ((sxx - sx * sx / k) * (syy - sy * sy / k)), 6) AS r_squared
    FROM m
    """,
    doc="retention half-life via the exponential-decay fit the "
    "events_retention matrix feeds (standard growth-accounting "
    "practice; linearized ln r_t = a + b t OLS — Fader & Hardie's "
    "simple-decay baseline): pooled retention r_t = users active at "
    "offset t / cohort size, fit over t >= 1, half-life = -ln2/b with "
    "R^2 as the exponential-shape diagnostic (low R^2 says the curve "
    "has a plateau and a geometric-beta model is needed). Day offsets "
    "collapse to a calendar-bounded grain (|days| rows) before any "
    "math; r_t is 6dp-rounded BEFORE ln and y after (the "
    "transcendental discipline); OLS moments are 6dp-decimal sums over "
    "that bounded grain. Two user-keyed aggregates are the only "
    "corpus-sized work — identical scale shape to events_retention "
    "itself",
    tags=("events", "stats", "bench_extra"),
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    day = F.to_date("ts")
    # Two events passes (was 4): the days-grain
    # offset table is pinned, so the n0 base branch and the regression
    # points read it instead of each re-running the cohort⋈active join
    # (which re-derived BOTH events scans per consumer). A fact_scale
    # persist of the user-day frame itself was A/B-measured SLOWER at
    # sf0.1 AND sf1 (0.75->1.01 s sf1) — cache overhead exceeds the
    # pushed 2-column re-scan — so the cohort/active passes keep their
    # lineage and only the bounded aggregate is pinned. An sf5
    # re-probe on 32 cores: persist flat at sf5 (1.245 -> 1.236 s) and
    # +12% at sf0.1 (0.66 -> 0.74 s) — no crossover.
    cohort = e.groupBy("user_id").agg(F.min(day).alias("c_day"))
    active = e.select("user_id", day.alias("a_day")).distinct()
    offs = (
        cohort.join(active, "user_id")
        .groupBy(F.datediff("a_day", "c_day").cast("bigint").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
        .transform(pin)
    )
    base = offs.filter(F.col("t") == 0).select(F.col("n_t").alias("n0"))
    pts = (
        offs.filter((F.col("t") >= 1) & (F.col("n_t") > 0))
        .crossJoin(F.broadcast(base))
        .select(
            F.col("t").cast("double").alias("x"),
            F.round(
                F.log(F.round(F.col("n_t").cast("double") / F.col("n0"), 6)), 6
            ).alias("y"),
        )
    )
    x, y = F.col("x"), F.col("y")
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(_q6(x)).cast("double").alias("sx"),
        F.sum(_q6(y)).cast("double").alias("sy"),
        F.sum(_q6(x * y)).cast("double").alias("sxy"),
        F.sum(_q6(x * x)).cast("double").alias("sxx"),
        F.sum(_q6(y * y)).cast("double").alias("syy"),
    )
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k")
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k")
    vary = F.col("syy") - F.col("sy") * F.col("sy") / F.col("k")
    slope = cov / varx
    return m.select(
        F.col("k").alias("n_offsets_fit"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("sy") / F.col("k") - slope * F.col("sx") / F.col("k"), 6).alias(
            "intercept"
        ),
        F.round(-F.lit(LN2) / slope, 6).alias("half_life_days"),
        F.round(cov * cov / (varx * vary), 6).alias("r_squared"),
    )


# --------------------------------------- funnel step Wilson intervals


@query(
    "events_funnel_wilson_ci",
    oracle=f"""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    ),
    steps AS (
      SELECT 'view->click' AS step,
             (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_base,
             (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_conv
      UNION ALL
      SELECT 'click->purchase',
             (SELECT CAST(count(*) AS BIGINT) FROM c),
             (SELECT CAST(count(*) AS BIGINT) FROM p)
    ),
    wi AS (
      SELECT step, n_base, n_conv,
             CAST(n_conv AS DOUBLE) / n_base AS ph,
             {Z_ALPHA_HALF!r} * {Z_ALPHA_HALF!r} / n_base AS z2n
      FROM steps
    )
    SELECT step, n_base, n_conv,
           round(ph, 6) AS rate,
           round((ph + z2n / 2 - {Z_ALPHA_HALF!r}
                  * sqrt(ph * (1 - ph) / n_base + z2n / (4 * n_base)))
                 / (1 + z2n), 6) AS wilson_lo,
           round((ph + z2n / 2 + {Z_ALPHA_HALF!r}
                  * sqrt(ph * (1 - ph) / n_base + z2n / (4 * n_base)))
                 / (1 + z2n), 6) AS wilson_hi
    FROM wi ORDER BY step
    """,
    doc="Wilson 95% score intervals (Wilson 1927; the Brown-Cai-DasGupta "
    "2001 recommendation over the Wald interval, which collapses at "
    "extreme rates) for each ordered-funnel step conversion — the "
    "uncertainty band a dashboard needs before declaring a step "
    "'degraded': view->click and click->purchase rates with the same "
    "strictly-ordered first-qualifying-event semantics as "
    "events_funnel. Counts are per-user min-timestamp aggregates "
    "(the funnel machinery); the interval is pure "
    "(+,-,*,/,sqrt) on two integers per step, so both engines agree "
    "bit-for-bit with no rounding discipline; 2-row output",
    tags=("events", "stats"),
)
def events_funnel_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    # Each per-user step frame feeds the next step AND one-or-two count
    # branches; unpinned, the re-derivations compounded to 8 events
    # scans. Checkpointing the user-bounded step
    # frames pins the plan at exactly three type-filtered, pushed-down
    # events scans — one per funnel layer, the shape you'd want.
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .transform(pin)
    )
    c = (
        e.join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .transform(pin)
    )
    p = (
        e.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click"))
        )
        .select("user_id")
        .distinct()
        .transform(pin)
    )
    nv = v.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ncl = c.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    np_ = p.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s1 = (
        nv.crossJoin(F.broadcast(ncl.withColumnRenamed("n", "n2")))
        .select(
            F.lit("view->click").alias("step"),
            F.col("n").alias("n_base"),
            F.col("n2").alias("n_conv"),
        )
    )
    s2 = (
        ncl.crossJoin(F.broadcast(np_.withColumnRenamed("n", "n2")))
        .select(
            F.lit("click->purchase").alias("step"),
            F.col("n").alias("n_base"),
            F.col("n2").alias("n_conv"),
        )
    )
    steps = s1.unionAll(s2)
    ph = F.col("n_conv").cast("double") / F.col("n_base")
    z = F.lit(Z_ALPHA_HALF)
    z2n = z * z / F.col("n_base")
    half = z * F.sqrt(ph * (1 - ph) / F.col("n_base") + z2n / (4 * F.col("n_base")))
    return steps.select(
        "step",
        "n_base",
        "n_conv",
        F.round(ph, 6).alias("rate"),
        F.round((ph + z2n / 2 - half) / (1 + z2n), 6).alias("wilson_lo"),
        F.round((ph + z2n / 2 + half) / (1 + z2n), 6).alias("wilson_hi"),
    ).orderBy("step")


# --------------------------------------------- regression point metrics


@query(
    "ml_regression_metrics",
    oracle=f"""
    WITH pred AS (
      SELECT l_partkey,
             CAST(sum({_Q6.format(x='CAST(l_extendedprice AS DOUBLE)')}) AS DOUBLE)
               / count(*) AS yhat
      FROM lineitem WHERE l_orderkey % 4 IN (0, 1)
      GROUP BY l_partkey
    ),
    tst AS (
      SELECT CAST(l.l_extendedprice AS DOUBLE) AS y, p.yhat
      FROM lineitem l JOIN pred p ON p.l_partkey = l.l_partkey
      WHERE l.l_orderkey % 4 = 3
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum({_Q6.format(x='y')}) AS DOUBLE) AS sy,
             CAST(sum({_Q6.format(x='y * y')}) AS DOUBLE) AS syy,
             CAST(sum({_Q6.format(x='yhat - y')}) AS DOUBLE) AS sbias,
             CAST(sum({_Q6.format(x='abs(yhat - y)')}) AS DOUBLE) AS sae,
             CAST(sum({_Q6.format(x='(yhat - y) * (yhat - y)')}) AS DOUBLE) AS sse,
             CAST(sum({_Q6.format(x='abs(yhat - y) / y')}) AS DOUBLE) AS sape
      FROM tst
    )
    SELECT n,
           round(sae / n, 6) AS mae,
           round(sqrt(sse / n), 6) AS rmse,
           round(1.0 - sse / (syy - sy * sy / n), 6) AS r_squared,
           round(100.0 * sape / n, 6) AS mape_pct,
           round(sbias / n, 6) AS mean_bias
    FROM m
    """,
    doc="held-out regression point metrics (the standard sklearn.metrics "
    "shelf) for the per-part train-mean price predictor that "
    "ml_conformal_coverage intervals: MAE, RMSE, R^2 (1 - SSE/SST on "
    "the test split), MAPE (prices are strictly positive so the "
    "division is safe), and mean bias (signed — a train/test "
    "distribution shift shows up here first). Conformal answers 'how "
    "wide must honest intervals be'; this answers 'how good is the "
    "point guess' — a model can pass one and fail the other, which is "
    "the reason both exist. Train split l_orderkey%4 in (0,1), test "
    "%4=3, identical to the conformal design so the two rows read on "
    "the same predictor. One train aggregate (partkey grain), one "
    "co-partitioned test join, a 1-row moment reduce; every residual "
    "sum 6dp-decimal quantized",
    tags=("stats", "pipeline"),
)
def ml_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    x = F.col("l_extendedprice").cast("double")
    pred = (
        li.filter((F.col("l_orderkey") % 4).isin(0, 1))
        .groupBy("l_partkey")
        .agg((F.sum(_q6(x)).cast("double") / F.count(F.lit(1))).alias("yhat"))
    )
    tst = (
        li.filter(F.col("l_orderkey") % 4 == 3)
        .join(pred, "l_partkey")
        .select(x.alias("y"), "yhat")
    )
    err = F.col("yhat") - F.col("y")
    m = tst.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(_q6(F.col("y"))).cast("double").alias("sy"),
        F.sum(_q6(F.col("y") * F.col("y"))).cast("double").alias("syy"),
        F.sum(_q6(err)).cast("double").alias("sbias"),
        F.sum(_q6(F.abs(err))).cast("double").alias("sae"),
        F.sum(_q6(err * err)).cast("double").alias("sse"),
        F.sum(_q6(F.abs(err) / F.col("y"))).cast("double").alias("sape"),
    )
    return m.select(
        "n",
        F.round(F.col("sae") / F.col("n"), 6).alias("mae"),
        F.round(F.sqrt(F.col("sse") / F.col("n")), 6).alias("rmse"),
        F.round(
            F.lit(1.0)
            - F.col("sse")
            / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
            6,
        ).alias("r_squared"),
        F.round(F.lit(100.0) * F.col("sape") / F.col("n"), 6).alias("mape_pct"),
        F.round(F.col("sbias") / F.col("n"), 6).alias("mean_bias"),
    )


# ----------------------------- DeLong confidence interval for AUC

_Q12D = "CAST(round({x}, 12) AS DECIMAL(38,12))"
DELONG_Z = 1.959964  # two-sided 95%


@query(
    "ml_auc_delong_ci",
    oracle=f"""
    WITH s AS (
      SELECT n_chars AS score,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT pos, neg,
             coalesce(sum(neg) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negs_below,
             coalesce(sum(pos) OVER (ORDER BY score
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS poss_above,
             sum(pos) OVER () AS m, sum(neg) OVER () AS n
      FROM s
    ),
    pl AS (
      SELECT pos, neg, m, n,
             (negs_below + 0.5 * neg) / n AS v10,
             (poss_above + 0.5 * pos) / m AS v01,
             CAST(sum(pos * (2 * negs_below + neg)) OVER () AS DOUBLE)
               / (2.0 * m * n) AS auc
      FROM c
    ),
    var_terms AS (
      SELECT max(m) AS m, max(n) AS n, max(auc) AS auc,
             CAST(sum(pos * {_Q12D.format(x='(v10 - auc) * (v10 - auc)')})
                  AS DOUBLE) AS ss10,
             CAST(sum(neg * {_Q12D.format(x='(v01 - auc) * (v01 - auc)')})
                  AS DOUBLE) AS ss01
      FROM pl
    )
    SELECT CAST(m AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
           round(auc, 6) AS auc,
           round(sqrt(ss10 / (m - 1.0) / m + ss01 / (n - 1.0) / n), 6)
             AS se_delong,
           round(auc - {DELONG_Z} * sqrt(ss10 / (m - 1.0) / m
                 + ss01 / (n - 1.0) / n), 6) AS ci_lo,
           round(auc + {DELONG_Z} * sqrt(ss10 / (m - 1.0) / m
                 + ss01 / (n - 1.0) / n), 6) AS ci_hi
    FROM var_terms
    """,
    doc="DeLong (1988 Biometrics) nonparametric confidence interval for "
    "the ROC-AUC of ml_auc_roc's length score, via the placement-value "
    "formulation (Sun & Xu 2014): each positive's placement V10 = "
    "P-hat(score > random negative) and each negative's V01 come "
    "straight from two running sums over the DISTINCT-SCORE grain "
    "(~313 rows, bounded by the score domain, never the corpus), and "
    "Var(AUC) = S10/m + S01/n from their sample variances — no "
    "bootstrap resampling, no pair materialization, exactly one "
    "map-side-combinable groupBy like its point-estimate companion. "
    "Placements and AUC are exact integer ratios (identical on both "
    "engines); the only cross-engine hazard is the order of the "
    "weighted deviation sums, killed by 12dp-decimal quantization "
    "(6dp is too coarse here - squared deviations are O(1e-4)). "
    "The CI a pipeline needs before trusting an AUC delta between "
    "two quality models",
    tags=("stats", "pipeline"),
)
def ml_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    en = F.col("lang") == "en"
    s = d.groupBy(F.col("n_chars").alias("score")).agg(
        F.sum(F.when(en, 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(~en, 1).otherwise(0)).cast("bigint").alias("neg"),
    )
    w_below = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    w_above = W.orderBy("score").rowsBetween(1, W.unboundedFollowing)
    w_all = W.orderBy("score").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    c = s.select(
        "score",
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w_below), F.lit(0)).alias("negs_below"),
        F.coalesce(F.sum("pos").over(w_above), F.lit(0)).alias("poss_above"),
        F.sum("pos").over(w_all).alias("m"),
        F.sum("neg").over(w_all).alias("n"),
    )
    v10 = (F.col("negs_below") + 0.5 * F.col("neg")) / F.col("n")
    v01 = (F.col("poss_above") + 0.5 * F.col("pos")) / F.col("m")
    auc = (
        F.sum(F.col("pos") * (2 * F.col("negs_below") + F.col("neg")))
        .over(w_all)
        .cast("double")
        / (F.lit(2.0) * F.col("m") * F.col("n"))
    )
    pl = c.select(
        "pos", "neg", "m", "n",
        v10.alias("v10"), v01.alias("v01"), auc.alias("auc"),
    )

    def q12(col):
        return F.round(col, 12).cast("decimal(38,12)")

    vt = pl.agg(
        F.max("m").alias("m"),
        F.max("n").alias("n"),
        F.max("auc").alias("auc"),
        F.sum(
            F.col("pos") * q12((F.col("v10") - F.col("auc")) * (F.col("v10") - F.col("auc")))
        ).cast("double").alias("ss10"),
        F.sum(
            F.col("neg") * q12((F.col("v01") - F.col("auc")) * (F.col("v01") - F.col("auc")))
        ).cast("double").alias("ss01"),
    )
    se = F.sqrt(
        F.col("ss10") / (F.col("m") - 1.0) / F.col("m")
        + F.col("ss01") / (F.col("n") - 1.0) / F.col("n")
    )
    return vt.select(
        F.col("m").cast("bigint").alias("n_pos"),
        F.col("n").cast("bigint").alias("n_neg"),
        F.round(F.col("auc"), 6).alias("auc"),
        F.round(se, 6).alias("se_delong"),
        F.round(F.col("auc") - F.lit(DELONG_Z) * se, 6).alias("ci_lo"),
        F.round(F.col("auc") + F.lit(DELONG_Z) * se, 6).alias("ci_hi"),
    )
