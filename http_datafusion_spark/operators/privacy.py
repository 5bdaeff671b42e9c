"""Privacy / data-governance operators — an extension beyond the
reference (it has no privacy surface; scope: ``src/datasources.rs``).

Two release-gate shapes a dataset-publication pipeline runs at 100 TB:

- a JOINT k-anonymity audit over a multi-table quasi-identifier set,
  walked down a (small, explicit) generalization lattice — the
  single-table audit (operators/curation.py privacy_kanonymity_audit)
  can't see re-identification risk created by joinable attributes;
- deterministic differentially-private counts: Laplace noise via
  inverse-CDF over a keyed md5-uniform, so BOTH engines reproduce the
  noise bit-for-bit and the mechanism is oracle-checkable. (A real
  release would draw fresh randomness; determinism here is the
  testable-harness variant of the same mechanism.)

Everything is declarative DataFrame algebra — audits are one
partial-agg shuffle each; outputs are QI-cardinality-bounded, tiny at
any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from http_datafusion_spark.functions.hashing import md5_int, md5_int_sql
from http_datafusion_spark.functions.pinning import pin
from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import load_tables

KANON_K = 5  # same release threshold as the single-table audit

# Generalization lattice levels for the joint (customer x orders) QI.
# Level 0 = full QI; each next level drops the highest-entropy
# remaining attribute — the standard top-down generalization walk.
_QI_LEVELS: tuple[tuple[str, ...], ...] = (
    ("c_nationkey", "c_mktsegment", "order_year", "o_orderpriority"),
    ("c_nationkey", "c_mktsegment", "order_year"),
    ("c_mktsegment", "order_year"),
)


@query(
    "privacy_kanonymity_joint",
    oracle=f"""
    WITH joined AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(year(o_orderdate) AS BIGINT) AS order_year,
             o_orderpriority
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    audits AS (
      {" UNION ALL ".join(
        f'''SELECT {lvl} AS level, CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(CASE WHEN cell_size < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_cells,
             CAST(sum(CASE WHEN cell_size < {KANON_K} THEN cell_size ELSE 0 END) AS BIGINT) AS n_at_risk_rows,
             CAST(min(cell_size) AS BIGINT) AS min_cell,
             round(sum(CASE WHEN cell_size < {KANON_K} THEN cell_size ELSE 0 END) * 1.0
                   / sum(cell_size), 6) AS at_risk_frac
        FROM (SELECT {", ".join(cols)}, CAST(count(*) AS BIGINT) AS cell_size
              FROM joined GROUP BY {", ".join(cols)})'''
        for lvl, cols in enumerate(_QI_LEVELS)
      )}
    )
    SELECT CAST(level AS BIGINT) AS level, n_cells, n_violating_cells,
           n_at_risk_rows, min_cell, at_risk_frac
    FROM audits
    """,
    doc=f"JOINT k-anonymity audit (k={KANON_K}) over the cross-table quasi-identifier "
    "(nation, segment, order year, order priority) on customer JOIN orders, walked "
    "down a 3-level generalization lattice (full QI -> drop priority -> drop "
    "nation): one row per level with equivalence-class risk metrics, showing how "
    "generalization trades cell granularity for k-anonymity — the direction the "
    "single-table audit can't exercise. The fact side scans once per level "
    "(3 partial-agg shuffles over QI-cardinality-bounded cells); customer joins "
    "broadcast. Output is lattice-bounded: 3 rows at any corpus size "
    "(north-star pipeline / privacy)",
    tags=("pipeline", "agg", "bench_extra"),
)
def privacy_kanonymity_joint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders")
    dim = t["customer"].select("c_custkey", "c_nationkey", "c_mktsegment")
    joined = (
        t["orders"]
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            "o_orderpriority",
        )
    )

    # ONE fact pass (was 3 — one orders⋈customer re-aggregation per
    # lattice level): every coarser
    # level's QI is a subset of level 0's, so its cells roll up EXACTLY
    # from the pinned finest-level cell table (drop-a-column regroup
    # summing integer cell sizes — the quality_drift_psi pattern).
    cells0 = joined.groupBy(*_QI_LEVELS[0]).agg(
        F.count(F.lit(1)).cast("bigint").alias("cell_size")
    ).transform(pin)

    def audit(level: int, cols: tuple[str, ...]) -> DataFrame:
        if cols == _QI_LEVELS[0]:
            cells = cells0
        else:
            cells = cells0.groupBy(*cols).agg(
                F.sum("cell_size").cast("bigint").alias("cell_size")
            )
        small = F.col("cell_size") < KANON_K
        return cells.agg(
            F.lit(level).cast("bigint").alias("level"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum(F.when(small, 1).otherwise(0)).cast("bigint").alias("n_violating_cells"),
            F.sum(F.when(small, F.col("cell_size")).otherwise(0))
            .cast("bigint")
            .alias("n_at_risk_rows"),
            F.min("cell_size").cast("bigint").alias("min_cell"),
            F.round(
                F.sum(F.when(small, F.col("cell_size")).otherwise(0)) * 1.0 / F.sum("cell_size"),
                6,
            ).alias("at_risk_frac"),
        )

    out = audit(0, _QI_LEVELS[0])
    for lvl, cols in enumerate(_QI_LEVELS[1:], start=1):
        out = out.unionByName(audit(lvl, cols))
    return out


DP_EPSILON = 1.0  # per-count budget; sensitivity 1 -> Laplace scale b = 1/eps
_DP_SALT = "dp5|"


def _dp_uniform_sql(key_expr: str) -> str:
    """DuckDB fragment: keyed uniform in (0,1) from md5 — matches _dp_uniform."""
    h = md5_int_sql(f"concat('{_DP_SALT}', {key_expr})")
    return f"(({h} % 1000000) + 0.5) / 1000000.0"


def _dp_uniform(key: Column) -> Column:
    """Spark: keyed uniform in (0,1) — md5 of the salted key, mod 1e6."""
    h = md5_int(F.concat(F.lit(_DP_SALT), key))
    return ((h % 1000000) + 0.5) / 1000000.0


@query(
    "privacy_dp_counts",
    oracle=f"""
    WITH counts AS (
      SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_true
      FROM customer GROUP BY 1
    ),
    noised AS (
      SELECT segment, n_true,
             {_dp_uniform_sql("segment")} AS u
      FROM counts
    )
    SELECT segment, n_true,
           round(n_true + (-1.0 / {DP_EPSILON}) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 3)
             AS n_noisy,
           {DP_EPSILON} AS epsilon
    FROM noised
    """,
    doc="DP-MECHANISM CALIBRATION AUDIT — NOT a private release: the noise here "
    "is a deterministic function of the public group key (anyone can recompute "
    "and subtract it), and true counts are emitted alongside noisy ones, so this "
    "view provides no differential privacy by construction. What it verifies is "
    f"the Laplace mechanism's arithmetic (eps={DP_EPSILON}, sensitivity 1): "
    "per-segment customer counts plus inverse-CDF noise "
    "-b*sign(u-1/2)*ln(1-2|u-1/2|) where u is a keyed md5-uniform — fully "
    "deterministic precisely so the oracle can check the mechanism bit-for-bit. "
    "A production release swaps the keyed uniform for fresh secret randomness "
    "and drops n_true; everything else is identical. Noise is a map-side scalar "
    "on the already-aggregated cells, so the DP layer adds zero shuffles at any "
    "scale (north-star pipeline / privacy)",
    tags=("pipeline", "agg"),
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir, "customer")["customer"]
    counts = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    u = _dp_uniform(F.col("segment"))
    lap = (F.lit(-1.0 / DP_EPSILON)) * F.signum(u - 0.5) * F.log(1 - 2 * F.abs(u - 0.5))
    return counts.select(
        "segment",
        "n_true",
        F.round(F.col("n_true") + lap, 3).alias("n_noisy"),
        F.lit(DP_EPSILON).alias("epsilon"),
    )


# ------------------------------------------------ pseudonymized release

PSEUD_SALT = "pseud-v1"  # release-version salt: rotate to unlink releases
BAL_BAND = 1000.0  # account-balance generalization width


@query(
    "privacy_pseudonymize_release",
    oracle=f"""
    SELECT substr(md5(concat('{PSEUD_SALT}|', CAST(c_custkey AS VARCHAR))), 1, 12)
             AS pseudonym,
           c_mktsegment                                          AS segment,
           CAST(floor(c_acctbal / {BAL_BAND}) AS BIGINT)         AS bal_band,
           CAST(c_nationkey AS BIGINT)                           AS nation
    FROM customer
    """,
    doc="pseudonymized release view — the de-identification transform before any "
    "k-anonymity/DP audit applies: the direct identifier (c_custkey, and with it "
    "c_name, a pure function of it in this schema) is replaced by a salted keyed "
    f"md5 pseudonym (salt '{PSEUD_SALT}'; rotating the salt unlinks successive "
    "releases — same-release joins still work, cross-release joins don't), and "
    f"the continuous quasi-identifier c_acctbal is generalized to width-{BAL_BAND:.0f} "
    "bands. Purely map-side — zero shuffles at any scale; the release QI "
    "(segment, bal_band, nation) is exactly what privacy_kanonymity_audit then "
    "gates (north-star pipeline / privacy)",
    tags=("pipeline",),
)
def privacy_pseudonymize_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir, "customer")["customer"]
    return c.select(
        F.substring(
            F.md5(F.concat(F.lit(f"{PSEUD_SALT}|"), F.col("c_custkey").cast("string"))), 1, 12
        ).alias("pseudonym"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / BAL_BAND).cast("bigint").alias("bal_band"),
        F.col("c_nationkey").cast("bigint").alias("nation"),
    )


# ------------------------------------------------------ l-diversity audit

LDIV_L = 3  # required distinct sensitive values per equivalence class


@query(
    "privacy_ldiversity_audit",
    oracle=f"""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS cell_size,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_sensitive
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CASE WHEN n_sensitive < {LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_homogeneous_cells,
           CAST(sum(CASE WHEN n_sensitive < {LDIV_L} THEN cell_size ELSE 0 END) AS BIGINT)
             AS n_at_risk_rows,
           CAST(min(n_sensitive) AS BIGINT) AS min_diversity,
           round(sum(CASE WHEN n_sensitive < {LDIV_L} THEN cell_size ELSE 0 END) * 1.0
                 / sum(cell_size), 6) AS at_risk_frac
    FROM cells
    """,
    doc=f"l-diversity audit (l={LDIV_L}) over the (nation, segment) quasi-"
    "identifier with order priority as the sensitive attribute — the attack "
    "k-anonymity misses: a cell can hold k rows yet leak the sensitive value "
    "when all k SHARE it (homogeneity attack); l-diversity requires >= l "
    "distinct sensitive values per equivalence class. One partial-agg shuffle "
    "to QI-bounded cells, 1-row output; completes the release-gate family "
    "(privacy_kanonymity_audit -> _joint -> this -> privacy_dp_counts) "
    "(north-star pipeline / privacy)",
    tags=("pipeline", "agg"),
)
def privacy_ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    dim = t["customer"].select("c_custkey", "c_nationkey", "c_mktsegment")
    cells = (
        t["orders"]
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cell_size"),
            F.countDistinct("o_orderpriority").cast("bigint").alias("n_sensitive"),
        )
    )
    low = F.col("n_sensitive") < LDIV_L
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.when(low, 1).otherwise(0)).cast("bigint").alias("n_homogeneous_cells"),
        F.sum(F.when(low, F.col("cell_size")).otherwise(0))
        .cast("bigint")
        .alias("n_at_risk_rows"),
        F.min("n_sensitive").cast("bigint").alias("min_diversity"),
        F.round(
            F.sum(F.when(low, F.col("cell_size")).otherwise(0)) * 1.0 / F.sum("cell_size"),
            6,
        ).alias("at_risk_frac"),
    )


# ------------------------------------------------- t-closeness audit

TCLOSE_T = 0.2  # max ordered-EMD between a cell's sensitive distribution
# and the global one (Li et al. 2007's t parameter)


@query(
    "privacy_tcloseness_audit",
    oracle=f"""
    WITH sc AS (
      SELECT c_nationkey, c_mktsegment, o_orderpriority,
             CAST(count(*) AS DOUBLE) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2, 3
    ), cellsz AS (
      SELECT c_nationkey, c_mktsegment, sum(n) AS cell_size
      FROM sc GROUP BY 1, 2
    ), gdist AS (
      SELECT o_orderpriority, sum(n) AS gn FROM sc GROUP BY 1
    ), tot AS (
      SELECT sum(gn) AS total, CAST(count(*) AS DOUBLE) AS m FROM gdist
    ), grid AS (
      SELECT c.c_nationkey, c.c_mktsegment, c.cell_size,
             g.o_orderpriority, coalesce(sc.n, 0) AS n, g.gn, t.total, t.m
      FROM cellsz c CROSS JOIN gdist g CROSS JOIN tot t
      LEFT JOIN sc ON sc.c_nationkey = c.c_nationkey
                  AND sc.c_mktsegment = c.c_mktsegment
                  AND sc.o_orderpriority = g.o_orderpriority
    ), cum AS (
      SELECT c_nationkey, c_mktsegment, cell_size, m,
             sum(n / cell_size) OVER w AS cum_p,
             sum(gn / total) OVER w AS cum_q
      FROM grid
      WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY o_orderpriority
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), percell AS (
      SELECT c_nationkey, c_mktsegment, cell_size,
             round(sum(abs(cum_p - cum_q)) / (max(m) - 1), 6) AS emd
      FROM cum GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CASE WHEN emd > {TCLOSE_T} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_cells,
           CAST(sum(CASE WHEN emd > {TCLOSE_T} THEN cell_size ELSE 0 END) AS BIGINT)
             AS n_at_risk_rows,
           round(max(emd), 6) AS max_emd,
           round(sum(CASE WHEN emd > {TCLOSE_T} THEN cell_size ELSE 0 END)
                 / sum(cell_size), 6) AS at_risk_frac
    FROM percell
    """,
    doc=f"t-closeness audit (t={TCLOSE_T}) over the (nation, segment) quasi-"
    "identifier with order priority as the ordinal sensitive attribute — the "
    "attack l-diversity misses: a cell can hold l distinct values yet still "
    "leak when its distribution is badly SKEWED vs the population (skewness "
    "attack). Distance is the ordered-EMD of Li et al. 2007: sum of absolute "
    "cumulative-distribution gaps over the ordered domain / (m-1). One "
    "partial-agg shuffle to QI x sensitive cells (25 nations x 5 segments x 5 "
    "priorities, closed enums); the zero-filled grid, per-cell cumulative "
    "window and the final fold are all constant-sized. Completes the "
    "release-gate family (k-anonymity -> l-diversity -> this -> dp_counts) "
    "(north-star pipeline / privacy)",
    tags=("pipeline", "agg", "window", "bench_extra"),
)
def privacy_tcloseness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "orders", "customer")
    dim = t["customer"].select("c_custkey", "c_nationkey", "c_mktsegment")
    sc = (
        t["orders"]
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        # enum-cell grid (nation x segment x priority): cell sizes,
        # priority marginals, AND the zero-fill left join all consume
        # it; unpinned each re-derived the orders⋈customer scan
        # (4 executed scans)
        .transform(pin)
    )
    cellsz = sc.groupBy("c_nationkey", "c_mktsegment").agg(F.sum("n").alias("cell_size"))
    glob = sc.groupBy("o_orderpriority").agg(F.sum("n").alias("gn"))
    tot = glob.agg(F.sum("gn").alias("total"), F.count(F.lit(1)).cast("double").alias("m"))
    # glob (5 closed-enum priorities) and tot (1 row) are structurally
    # bounded: broadcast them explicitly so the zero-fill grid is a
    # BroadcastNestedLoopJoin, never a shuffled CartesianProduct (the
    # static planner over-estimates orders-derived aggregate sizes)
    grid = (
        cellsz.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(sc, ["c_nationkey", "c_mktsegment", "o_orderpriority"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "cell_size",
            "o_orderpriority",
            (F.coalesce("n", F.lit(0.0)) / F.col("cell_size")).alias("p"),
            (F.col("gn") / F.col("total")).alias("q"),
            "m",
        )
    )
    w = (
        W.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("o_orderpriority")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "cell_size",
        "m",
        F.sum("p").over(w).alias("cum_p"),
        F.sum("q").over(w).alias("cum_q"),
    )
    percell = cum.groupBy("c_nationkey", "c_mktsegment", "cell_size").agg(
        F.round(F.sum(F.abs(F.col("cum_p") - F.col("cum_q"))) / (F.max("m") - 1), 6).alias(
            "emd"
        )
    )
    bad = F.col("emd") > TCLOSE_T
    return percell.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias("n_violating_cells"),
        F.sum(F.when(bad, F.col("cell_size")).otherwise(0))
        .cast("bigint")
        .alias("n_at_risk_rows"),
        F.round(F.max("emd"), 6).alias("max_emd"),
        F.round(
            F.sum(F.when(bad, F.col("cell_size")).otherwise(0)) / F.sum("cell_size"), 6
        ).alias("at_risk_frac"),
    )
