"""Corpus-curation operators: leakage-safe splitting,
sketch-based frequency estimation, blocked fuzzy matching, adaptive
quality filtering, deletion propagation, statistics profiling, and
winnowing fingerprints.

These extend the reference's analytics surface (reference scope:
HTTP-backed SQL tables, ``src/datasources.rs`` — it has no curation
layer at all) with the operations a training-data pipeline runs at
100 TB. Every operator is expressed as declarative DataFrame ops so
Catalyst keeps pushdown/pruning; every hash that must agree with the
DuckDB oracle goes through functions/hashing.py's md5-portable family.

Scale notes are inline per operator; the common themes:
- deletion/contamination key sets are tiny relative to the corpus ->
  broadcast semi/anti joins, one scan per fact table, no shuffle of
  the big side;
- sketches (count-min) have FIXED size independent of corpus size ->
  partial aggregation reduces each partition to <= d*w cells before
  the (trivial) final merge;
- fuzzy matching never goes all-pairs: a cheap equality blocking key
  bounds each block, and the expensive verifier (levenshtein) runs
  only within blocks — the same candidate-then-verify shape as the
  MinHash/IVF dedup paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from http_datafusion_spark.functions.hashing import md5_int, md5_int_sql, salted_hash, salted_hash_sql
from http_datafusion_spark.operators.components import connected_components
from http_datafusion_spark.operators.dedup import _minhash_pairs_sql, dedup_minhash_pairs
from http_datafusion_spark.operators.text import (
    partitioned_docs,
    spread_docs,
    token_count,
    whitespace_tokens,
)
from http_datafusion_spark.functions.pinning import pin
from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import load_tables

# --------------------------------------------------------------- split

SPLIT_TRAIN_PCT = 85
SPLIT_VAL_PCT = 95  # cumulative: [0,85) train, [85,95) val, [95,100) test


@query(
    "split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS node, min(dst) AS component FROM reach GROUP BY src
    ),
    assigned AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(c.component, d.doc_id) AS comp_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    labeled AS (
      SELECT n_chars, comp_id,
             CASE WHEN {md5_int_sql("concat('lsplit|', CAST(comp_id AS VARCHAR))")} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                  WHEN {md5_int_sql("concat('lsplit|', CAST(comp_id AS VARCHAR))")} % 100 < {SPLIT_VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM assigned
    )
    SELECT split,
           CAST(count(*) AS BIGINT)               AS n_docs,
           CAST(count(DISTINCT comp_id) AS BIGINT) AS n_clusters,
           CAST(sum(n_chars) AS BIGINT)            AS n_chars_total
    FROM labeled GROUP BY split
    """,
    doc="leakage-safe train/val/test split: near-dup clusters (MinHash-LSH pairs -> "
    "connected components) are assigned to ONE split atomically by hashing the cluster "
    "representative, so no near-duplicate pair ever straddles train and eval — the "
    "property a per-document split (train_val_split) cannot give. Oracle recomputes "
    "components with a recursive CTE (north-star pipeline)",
    tags=("pipeline", "dedup", "sampling"),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: the pair graph is the LSH candidate output (sub-quadratic),
    # components run in O(log^2 n) shuffles on the edges only, and the
    # final join hits `documents` once; everything downstream of the
    # component map is a broadcast-sized dimension (clusters << docs).
    d = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = dedup_minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    assigned = d.join(comp, d["doc_id"] == comp["node"], "left").select(
        "n_chars", F.coalesce("component", "doc_id").alias("comp_id")
    )
    bucket = md5_int(F.concat(F.lit("lsplit|"), F.col("comp_id").cast("string"))) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return assigned.select(split.alias("split"), "comp_id", "n_chars").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("comp_id").alias("n_clusters"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
    )


# ----------------------------------------------------- count-min sketch

CMS_DEPTH = 3  # independent hash rows
CMS_WIDTH = 512  # buckets per row
CMS_SALT = 9100  # salt base; rows use CMS_SALT + d
CMS_TOPK = 15


def _cms_bucket_sql(d: int) -> str:
    return f"{salted_hash_sql('tok', CMS_SALT + d)} % {CMS_WIDTH}"


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    cells AS (
      SELECT cell.d AS d, cell.bucket AS bucket, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT unnest([{", ".join(f"{{'d': {d}, 'bucket': {_cms_bucket_sql(d)}}}" for d in range(CMS_DEPTH))}]) AS cell
        FROM toks
      )
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT tok, cell.d AS d, cell.bucket AS bucket
      FROM (
        SELECT tok,
               unnest([{", ".join(f"{{'d': {d}, 'bucket': {_cms_bucket_sql(d)}}}" for d in range(CMS_DEPTH))}]) AS cell
        FROM (SELECT DISTINCT tok FROM toks)
      )
    ),
    est AS (
      SELECT p.tok, min(c.c) AS est_count
      FROM probes p JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
      GROUP BY p.tok
    )
    SELECT tok, CAST(est_count AS BIGINT) AS est_count
    FROM est ORDER BY est_count DESC, tok LIMIT {CMS_TOPK}
    """,
    doc="count-min sketch heavy hitters: token stream folds into a FIXED d x w = "
    f"{CMS_DEPTH}x{CMS_WIDTH} cell grid (partial agg reduces every partition to <= d*w rows "
    "before one trivial shuffle), then per-token estimates = min over rows of the token's "
    "cell — the standard Cormode-Muthukrishnan bound est >= true, est <= true + eps*N. "
    "The sketch side of the estimate join is broadcast (it is d*w rows at ANY corpus "
    "size) — this is the frequency-estimation shape that replaces an exact full-vocab "
    "groupBy at 100 TB (north-star text analysis)",
    tags=("text", "sketch"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = spread_docs(d.select("doc_id", "text")).select(
        F.explode(whitespace_tokens(F.col("text"))).alias("tok")
    )
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dd).alias("d"),
                        (salted_hash(F.col("tok"), CMS_SALT + dd) % CMS_WIDTH).alias("bucket"),
                    )
                    for dd in range(CMS_DEPTH)
                ]
            )
        ).alias("cell")
    ).groupBy(F.col("cell.d").alias("d"), F.col("cell.bucket").alias("bucket")).agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = toks.distinct()
    probes = vocab.select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dd).alias("d"),
                        (salted_hash(F.col("tok"), CMS_SALT + dd) % CMS_WIDTH).alias("bucket"),
                    )
                    for dd in range(CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("tok", "cell.d", "cell.bucket")
    est = (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("tok")
        .agg(F.min("c").alias("est_count"))
    )
    return est.orderBy(F.desc("est_count"), "tok").limit(CMS_TOPK)


# --------------------------------------------------- blocked fuzzy join

FUZZY_MAX_DIST = 2


@query(
    "fuzzy_join_blocked",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, p_brand,
             string_split(p_name, ' ')[1] AS adj,
             string_split(p_name, ' ')[2] AS noun
      FROM part
    )
    SELECT a.noun AS block_key,
           CAST(levenshtein(a.adj, b.adj) AS BIGINT) AS dist,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT a.p_partkey) AS BIGINT) AS n_left_parts
    FROM p a JOIN p b
      ON a.noun = b.noun AND a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.adj, b.adj) BETWEEN 1 AND {FUZZY_MAX_DIST}
    GROUP BY a.noun, levenshtein(a.adj, b.adj)
    """,
    doc="blocked fuzzy (entity-resolution) join on a COMPOUND blocking key "
    "(part noun + brand — standard multi-attribute blocking: candidate records "
    "must agree on the reliable attributes before the fuzzy field is verified), "
    "then the expensive verifier (levenshtein on the modifier word, both engines' "
    "classic edit distance) runs only within blocks — candidates are "
    "O(sum block^2), never all-pairs O(N^2). The noun alone is a low-entropy "
    "vocabulary, so single-key blocks grow O(N^2/|nouns|) at 100x; compounding "
    "with brand multiplies block-key entropy by |brands| (measured at sf0.01: "
    "249,382 -> 9,961 within-block candidate pairs, 25x fewer — the classic "
    "blocking-recall trade: cross-brand matches are deliberately out of scope). "
    "At 100 TB the blocking join is an ordinary shuffle-by-key and residually "
    "skewed blocks fall out of AQE skew splitting; this is the standard "
    "record-linkage blocking shape (SURVEY §2.3 non-equi family extension)",
    tags=("join", "dedup"),
)
def fuzzy_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_tables(spark, sf_dir, "part")["part"].select(
        "p_partkey",
        "p_brand",
        F.split(F.col("p_name"), " ").getItem(0).alias("adj"),
        F.split(F.col("p_name"), " ").getItem(1).alias("noun"),
    )
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.adj"), F.col("b.adj"))
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(dist.between(1, FUZZY_MAX_DIST))
        .groupBy(F.col("a.noun").alias("block_key"), dist.cast("bigint").alias("dist"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("a.p_partkey").alias("n_left_parts"),
        )
    )


# --------------------------------------------- adaptive quality filter

QUALITY_DROP_FRAC = 0.10  # drop the bottom decile per source


@query(
    "quality_adaptive_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(length(text) AS DOUBLE)
               / greatest(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')) AS DOUBLE), 1) AS score
      FROM documents
    ),
    ranked AS (
      SELECT source, score,
             percent_rank() OVER (PARTITION BY source ORDER BY score, doc_id) AS pr
      FROM scored
    )
    SELECT source,
           CAST(count(*) FILTER (pr >= {QUALITY_DROP_FRAC}) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (pr <  {QUALITY_DROP_FRAC}) AS BIGINT) AS n_dropped,
           round(min(CASE WHEN pr >= {QUALITY_DROP_FRAC} THEN score END), 4) AS min_kept_score
    FROM ranked GROUP BY source
    """,
    doc="adaptive quality filtering: instead of one global threshold, each source drops "
    "its own bottom decile by score (percent_rank window per source) — the per-domain "
    "calibration a mixed-crawl corpus needs, since absolute score scales differ by "
    "source. One window over (source) + one partial-agg shuffle; at 100 TB the window "
    "partitions by source and never materializes a global sort (north-star pipeline)",
    tags=("pipeline", "text"),
)
def quality_adaptive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    n_words = token_count(F.col("text")).cast("double")
    scored = d.select(
        "doc_id",
        "source",
        (F.length("text").cast("double") / F.greatest(n_words, F.lit(1.0))).alias("score"),
    )
    pr = F.percent_rank().over(Window.partitionBy("source").orderBy("score", "doc_id"))
    ranked = scored.select("source", "score", pr.alias("pr"))
    keep = F.col("pr") >= QUALITY_DROP_FRAC
    return ranked.groupBy("source").agg(
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.count(F.when(~keep, 1)).alias("n_dropped"),
        F.round(F.min(F.when(keep, F.col("score"))), 4).alias("min_kept_score"),
    )


# --------------------------------------------- deletion propagation

@query(
    "deletion_propagate",
    oracle="""
    WITH del_cust AS (
      SELECT c_custkey FROM customer WHERE c_acctbal < 0
    ),
    o AS (
      SELECT o_orderkey, (d.c_custkey IS NOT NULL) AS del
      FROM orders LEFT JOIN del_cust d ON o_custkey = d.c_custkey
    ),
    del_orders AS (SELECT o_orderkey FROM o WHERE del),
    l AS (
      SELECT (d.o_orderkey IS NOT NULL) AS del
      FROM lineitem LEFT JOIN del_orders d ON lineitem.l_orderkey = d.o_orderkey
    )
    SELECT * FROM (
      SELECT 'customer' AS table_name,
             CAST(count(*) FILTER (c_acctbal < 0) AS BIGINT)  AS n_deleted,
             CAST(count(*) FILTER (c_acctbal >= 0) AS BIGINT) AS n_surviving
      FROM customer
      UNION ALL
      SELECT 'orders', CAST(count(*) FILTER (del) AS BIGINT),
             CAST(count(*) FILTER (NOT del) AS BIGINT) FROM o
      UNION ALL
      SELECT 'lineitem', CAST(count(*) FILTER (del) AS BIGINT),
             CAST(count(*) FILTER (NOT del) AS BIGINT) FROM l
    )
    """,
    doc="deletion propagation (GDPR-style cascade): a deletion key set (flagged "
    "customers) cascades customer -> orders -> lineitem; each fact table is scanned "
    "ONCE with the key set as a left-join marker. No forced broadcast: the key set is "
    "hint-free, so AQE broadcasts it when the request list is genuinely tiny (the "
    "common right-to-erasure case) and falls back to shuffle joins when it is a "
    "linear fraction of the corpus — the demo predicate selects ~9% of customers "
    "(north-star pipeline)",
    tags=("pipeline", "join"),
)
def deletion_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    del_cust = t["customer"].filter(F.col("c_acctbal") < 0).select("c_custkey")
    # One scan each, NO baked-in broadcast hints: the demo predicate
    # (c_acctbal < 0) selects ~9% of ALL customers — a linear fraction —
    # and del_orders is fact-derived, so neither side is guaranteed
    # small. A real erasure request list usually IS tiny, and AQE will
    # broadcast it then; when it isn't, these degrade to shuffle joins
    # instead of a driver OOM.
    o = t["orders"].join(
        del_cust, F.col("o_custkey") == F.col("c_custkey"), "left"
    ).select("o_orderkey", F.col("c_custkey").isNotNull().alias("del"))
    del_orders = o.filter("del").select("o_orderkey")
    li = t["lineitem"].join(
        del_orders, F.col("l_orderkey") == F.col("o_orderkey"), "left"
    ).select(F.col("o_orderkey").isNotNull().alias("del"))

    cust = t["customer"].agg(
        F.count(F.when(F.col("c_acctbal") < 0, 1)).alias("n_deleted"),
        F.count(F.when(F.col("c_acctbal") >= 0, 1)).alias("n_surviving"),
    ).select(F.lit("customer").alias("table_name"), "n_deleted", "n_surviving")
    orders = o.agg(
        F.count(F.when(F.col("del"), 1)).alias("n_deleted"),
        F.count(F.when(~F.col("del"), 1)).alias("n_surviving"),
    ).select(F.lit("orders").alias("table_name"), "n_deleted", "n_surviving")
    line = li.agg(
        F.count(F.when(F.col("del"), 1)).alias("n_deleted"),
        F.count(F.when(~F.col("del"), 1)).alias("n_surviving"),
    ).select(F.lit("lineitem").alias("table_name"), "n_deleted", "n_surviving")
    return cust.unionAll(orders).unionAll(line)


# --------------------------------------------- table stats profiling

_STATS_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "table_stats_profile",
    oracle=f"""
    WITH s AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n_rows,
        {", ".join(
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS ndv_{c}, "
            f"CAST(count(*) - count({c}) AS BIGINT) AS nulls_{c}, "
            f"round(min({c}), 4) AS min_{c}, round(max({c}), 4) AS max_{c}"
            for c in _STATS_COLS
        )}
      FROM lineitem
    )
    SELECT * FROM (
      {" UNION ALL ".join(
          f"SELECT '{c}' AS column_name, n_rows, ndv_{c} AS ndv, nulls_{c} AS n_nulls, "
          f"min_{c} AS min_val, max_{c} AS max_val FROM s"
          for c in _STATS_COLS
      )}
    )
    """,
    doc="ANALYZE-style statistics profiling: one scan of the fact table computes row "
    "count, exact NDV, null count, and min/max for each measure column, emitted in long "
    "format — the statistics a cost-based optimizer (join reordering, broadcast "
    "decisions) consumes. All aggregates partial-combine map-side; the multi-DISTINCT "
    "plans as one Expand + two-phase agg, still a single pass over the data "
    "(SURVEY §2.4 extension)",
    tags=("agg", "pipeline"),
)
def table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _STATS_COLS:
        aggs += [
            F.countDistinct(c).alias(f"ndv_{c}"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"nulls_{c}"),
            F.round(F.min(c), 4).alias(f"min_{c}"),
            F.round(F.max(c), 4).alias(f"max_{c}"),
        ]
    # ONE wide agg row feeds a union branch per profiled column; without
    # the pin each branch re-derived the full lineitem scan (4 executed
    # scans, zero exchange reuse, measured).
    s = li.agg(*aggs).transform(pin)
    per_col = [
        s.select(
            F.lit(c).alias("column_name"),
            "n_rows",
            F.col(f"ndv_{c}").alias("ndv"),
            F.col(f"nulls_{c}").alias("n_nulls"),
            F.col(f"min_{c}").alias("min_val"),
            F.col(f"max_{c}").alias("max_val"),
        )
        for c in _STATS_COLS
    ]
    out = per_col[0]
    for df in per_col[1:]:
        out = out.unionAll(df)
    return out


# --------------------------------------------- winnowing fingerprints

WINNOW_W = 4  # window of consecutive k-gram hashes; guarantee: any match
# of length >= W + k - 1 tokens shares at least one fingerprint
WINNOW_MIN_SHARED = 4  # doc pairs sharing >= this many fingerprints


@query(
    "dedup_winnowing",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
               i -> {md5_int_sql("concat(words[i], ' ', words[i+1], ' ', words[i+2])")}) AS hashes
      FROM w WHERE len(words) >= {WINNOW_W + 2}
    ),
    fps AS (
      SELECT DISTINCT doc_id,
             -- positions 1 .. len(hashes)-W+1 (range() is end-exclusive)
             unnest(list_transform(range(1, len(hashes) - {WINNOW_W - 2}),
                    i -> list_aggregate(list_slice(hashes, i, i + {WINNOW_W - 1}), 'min'))) AS fp
      FROM h
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {WINNOW_MIN_SHARED}
    """,
    doc="winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS algorithm): "
    f"per-position word-3-gram hashes, then the min hash of each {WINNOW_W}-window is "
    "selected as a fingerprint — guaranteeing any shared run of >= w+k-1 tokens shares "
    "a fingerprint while keeping ~2/(w+1) of positions. Candidate pairs come from an "
    "equi-join on fingerprint value (bucketed, never all-pairs); the per-doc fingerprint "
    "set is computed entirely in codegen'd array expressions with no Python boundary "
    "(north-star dedup)",
    tags=("dedup", "text"),
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = whitespace_tokens(F.col("text"))
    w = d.select("doc_id", words.alias("words")).filter(F.size("words") >= WINNOW_W + 2)
    gram = lambda i: md5_int(  # noqa: E731
        F.concat_ws(
            " ",
            F.element_at("words", i),
            F.element_at("words", i + F.lit(1)),
            F.element_at("words", i + F.lit(2)),
        )
    )
    h = w.select(
        "doc_id",
        F.transform(F.sequence(F.lit(1), F.size("words") - 2), gram).alias("hashes"),
    )
    fps = (
        h.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("hashes") - (WINNOW_W - 1)),
                    lambda i: F.array_min(F.slice("hashes", i, WINNOW_W)),
                )
            ).alias("fp"),
        )
        .distinct()
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= WINNOW_MIN_SHARED)
    )


# ------------------------------------------------- KMV distinct sketch

KMV_K = 32
_H_NORM = float(1 << 60)  # md5_int is 60 bits -> h / 2^60 in [0, 1)


@query(
    "kmv_distinct_sketch",
    oracle=f"""
    WITH w AS (
      SELECT source, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(words) - 1),
                    i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))) AS shingle
      FROM w WHERE len(words) >= 3
    ),
    hashed AS (
      SELECT source, shingle,
             {md5_int_sql("shingle")} / {_H_NORM!r} AS h
      FROM sh
    ),
    ranked AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h, shingle) AS rn,
             count(*)    OVER (PARTITION BY source)                      AS cnt
      FROM hashed
    ),
    per_source AS (
      SELECT source,
             CAST(least(cnt, {KMV_K}) AS BIGINT) AS n_sketch,
             round(CASE WHEN cnt >= {KMV_K}
                        THEN ({KMV_K} - 1) / max(CASE WHEN rn = {KMV_K} THEN h END)
                        ELSE CAST(cnt AS DOUBLE) END, 4) AS kmv_est
      FROM ranked GROUP BY source, cnt
    ),
    merged AS (
      SELECT h, row_number() OVER (ORDER BY h, shingle) AS rn, count(*) OVER () AS cnt
      FROM (SELECT DISTINCT shingle, {md5_int_sql("shingle")} / {_H_NORM!r} AS h FROM sh)
    )
    SELECT * FROM per_source
    UNION ALL
    SELECT '__ALL__' AS source,
           CAST(least(cnt, {KMV_K}) AS BIGINT) AS n_sketch,
           round(CASE WHEN cnt >= {KMV_K}
                      THEN ({KMV_K} - 1) / max(CASE WHEN rn = {KMV_K} THEN h END)
                      ELSE CAST(cnt AS DOUBLE) END, 4) AS kmv_est
    FROM merged GROUP BY cnt
    """,
    doc=f"KMV (k-minimum-values) distinct-count sketch, k={KMV_K}: per source, keep the k "
    "smallest md5-normalized shingle hashes; est = (k-1)/h_k (Bar-Yossef et al. 2002). "
    "Deterministic by construction (portable md5 ordering), so the oracle matches "
    "bit-for-bit — unlike HLL, whose register layout is engine-private. The '__ALL__' row "
    "demonstrates MERGEABILITY: the global sketch is the min-k of the per-source sketch "
    "union, the property that makes KMV a one-pass partial aggregate at 100 TB — each "
    "partition ships at most k values to the merge (north-star text analysis / sketch)",
    tags=("text", "sketch"),
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import shingled_docs

    sh = shingled_docs(spark, sf_dir)  # (doc_id, shingle) distinct per doc
    d = load_tables(spark, sf_dir, "documents")["documents"].select("doc_id", "source")
    src_sh = sh.join(d, "doc_id").select("source", "shingle").distinct()
    # Four consumers (counts + k-min pass, per-source and merged) each
    # re-derived the shingle explode + join (8x documents scans, scan
    # audit); checkpoint the hashed distinct-shingle frame once —
    # it is the sketch input both sketches legitimately share.
    hashed = src_sh.select(
        "source", "shingle", (md5_int(F.col("shingle")) / F.lit(_H_NORM)).alias("h")
    ).transform(pin)

    def _sketch(df: DataFrame, part_cols: list[str], label: F.Column | None) -> DataFrame:
        # TWO-PHASE k-min (the mergeability the docstring claims, made
        # physical): each input partition keeps its own k smallest
        # (h, shingle) rows — the global k smallest all rank <= k in
        # whatever partition they sit in, so pruning is lossless — then
        # the global rank runs over <= partitions x k survivors, never
        # the full distinct-shingle stream. The group count (for the
        # cnt < k fallback) is an ordinary partial-agg shuffle.
        g = part_cols or ["__g"]
        gdf = df if part_cols else df.withColumn("__g", F.lit(1))
        counts = gdf.groupBy(*g).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        w1 = Window.partitionBy(*g, "__pid").orderBy("h", "shingle")
        local = (
            gdf.withColumn("__pid", F.spark_partition_id())
            .withColumn("rn1", F.row_number().over(w1))
            .filter(F.col("rn1") <= KMV_K)
        )
        w2 = Window.partitionBy(*g).orderBy("h", "shingle")
        kth = (
            local.withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") == KMV_K)
            .groupBy(*g)
            .agg(F.max("h").alias("hk"))
        )
        est = F.round(
            F.when(F.col("cnt") >= KMV_K, (KMV_K - 1) / F.col("hk")).otherwise(
                F.col("cnt").cast("double")
            ),
            4,
        )
        out = counts.join(kth, g, "left").select(
            *g,
            F.least(F.col("cnt"), F.lit(KMV_K)).cast("bigint").alias("n_sketch"),
            est.alias("kmv_est"),
        )
        sel = [F.col(part_cols[0]).alias("source")] if part_cols else [label.alias("source")]
        return out.select(*sel, "n_sketch", "kmv_est")

    per_source = _sketch(hashed, ["source"], None)
    merged = _sketch(
        hashed.select("shingle", "h").distinct(), [], F.lit("__ALL__")
    )
    return per_source.unionAll(merged)


# ------------------------------------------- equi-depth histogram (sampled)

HIST_BUCKETS = 8
HIST_SAMPLE_MOD = 10  # keep rows where md5 % 10 == 0 -> 10% sample


@query(
    "histogram_equi_depth",
    oracle=f"""
    WITH sampled AS (
      SELECT l_extendedprice, l_orderkey, l_linenumber
      FROM lineitem
      WHERE {md5_int_sql("concat('hist|', CAST(l_orderkey AS VARCHAR), '_', CAST(l_linenumber AS VARCHAR))")} % {HIST_SAMPLE_MOD} = 0
    ),
    tiled AS (
      SELECT l_extendedprice,
             ntile({HIST_BUCKETS}) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
      FROM sampled
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi
    FROM tiled GROUP BY bucket
    """,
    doc=f"equi-depth histogram ({HIST_BUCKETS} buckets) over a deterministic 1/"
    f"{HIST_SAMPLE_MOD} hash-sample of l_extendedprice — the CBO statistic for range-"
    "selectivity estimation. Sampling keeps the statistic cheap and hash-sampling "
    "keeps it reproducible across runs/executors (rand() is not); the ntile itself "
    "is computed WITHOUT a single-partition window — the distributed global-rank "
    "plan (functions/ordstats) plus ntile_from_rank reproduces the window "
    "function bit-for-bit, so even the unsampled form would scale. Complements "
    "table_stats_profile's ndv/min/max (SURVEY §2.4/§2.5 extension)",
    tags=("agg", "window", "pipeline"),
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.ordstats import (
        bucketed_global_rank,
        ntile_from_rank,
    )

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    key = F.concat(
        F.lit("hist|"),
        F.col("l_orderkey").cast("string"),
        F.lit("_"),
        F.col("l_linenumber").cast("string"),
    )
    # No localCheckpoint: the hash-gate sample is
    # deterministic, so the count pass and bucketed_global_rank's two
    # passes re-derive the identical row set from the parquet scan —
    # same rationale as weighted_median_price below. Materializing a
    # 1/HIST_SAMPLE_MOD slice of the fact table to executor storage is
    # still SF-linear; re-scans are pushed-down 3-column reads.
    sampled = li.filter(md5_int(key) % HIST_SAMPLE_MOD == 0).select(
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        # one composite tiebreak so the rank order (price, orderkey,
        # linenumber) is a single ascending column pair
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("tb"),
    )
    n = sampled.count()
    ranked = bucketed_global_rank(sampled, "l_extendedprice", ["tb"], "rk")
    tiled = ranked.select(
        "l_extendedprice",
        ntile_from_rank(F.col("rk"), n, HIST_BUCKETS).alias("bucket"),
    )
    return tiled.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("l_extendedprice"), 2).alias("lo"),
        F.round(F.max("l_extendedprice"), 2).alias("hi"),
    )


# ------------------------------------------------- bigram PMI

PMI_MIN_COUNT = 5
PMI_TOPK = 15


@query(
    "ngram_pmi_bigrams",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ),
    uni AS (
      SELECT unnest(words) AS word FROM w
    ),
    uc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY word),
    un AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM uni),
    bi AS (
      SELECT unnest(list_transform(range(1, len(words)),
                    i -> {{'w1': words[i], 'w2': words[i+1]}})) AS bg
      FROM w WHERE len(words) >= 2
    ),
    bc AS (
      SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY 1, 2
    ),
    bn AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM bi)
    SELECT w1, w2, bc.c AS n_pair,
           round(log2((bc.c * 1.0 / bn.n2) / ((a.c * 1.0 / un.n1) * (b.c * 1.0 / un.n1))), 4) AS pmi
    FROM bc
    JOIN uc a ON bc.w1 = a.word
    JOIN uc b ON bc.w2 = b.word
    CROSS JOIN un CROSS JOIN bn
    WHERE bc.c >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOPK}
    """,
    doc="pointwise mutual information over adjacent word bigrams — collocation mining "
    "(Church & Hanks 1990): PMI = log2(p(xy)/(p(x)p(y))), min-count floor against noise. "
    "Unigram and bigram count tables grow with the corpus (Heaps' law), so the score "
    "joins are hint-free — AQE broadcasts only when runtime-small; the min-count-"
    "filtered bigram side stays compact, and the token stream is aggregated before "
    "any join (north-star text analysis)",
    tags=("text", "bench_extra",),
)
def ngram_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    # One text exchange feeds BOTH token streams (partitioned_docs:
    # the bigram window needs the doc_id exchange anyway; carrying raw
    # text across it and exploding after runs tokenize at full width).
    # Measured on 32 cores: sf5 13.12 -> 2.68 s; sf0.1 1.05 -> 1.65 s
    # (32-task floor cost at the smallest SF — the sax-motifs
    # fixed-cost-vs-linear-win trade).
    dp = partitioned_docs(d)
    dw = dp.select("doc_id", F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "w1"))
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    bi = (
        dw.withColumn("w2", F.lead("w1", 1).over(wdoc))
        .filter(F.col("w2").isNotNull())
        .select("w1", "w2")
    )
    uni = dp.select(F.explode(whitespace_tokens(F.col("text"))).alias("word"))
    # Two passes total (was 5): the
    # unigram/bigram COUNT TABLES are pinned, and the corpus totals
    # n1/n2 are derived as sum(c) over them (1-row broadcast aggs, the
    # quality_drift_psi pattern) instead of separate uni.count() /
    # bi.count() driver actions that re-exploded every document's
    # token stream / re-ran the lead-window bigram pass.
    # bc gets the bounded-frame pin, not a fact_scale persist (distinct
    # bigrams are near-linear in NATURAL text): the persist measured
    # SLOWER at every scale (sf0.1 0.82 -> 1.03 s +26%, sf5 11.7 ->
    # 17.1 s +46%: the columnar cache build of the count table costs
    # more than it saves). Measured size bound instead: this corpus's
    # vocabulary is CLOSED — 931 distinct bigrams at BOTH sf0.1 and sf5
    # (replication adds no new types), so the bounded-frame pin is sound.
    uc = uni.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).transform(pin)
    un = uc.agg(F.sum("c").cast("bigint").alias("n1"))
    bc = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).transform(pin)
    bn = bc.agg(F.sum("c").cast("bigint").alias("n2"))
    a = uc.select(F.col("word").alias("w1"), F.col("c").alias("ca"))
    b = uc.select(F.col("word").alias("w2"), F.col("c").alias("cb"))
    pmi = F.round(
        F.log2(
            (F.col("c") * 1.0 / F.col("n2"))
            / ((F.col("ca") * 1.0 / F.col("n1")) * (F.col("cb") * 1.0 / F.col("n1")))
        ),
        4,
    )
    # a/b are the full unigram count table (vocabulary — corpus-growing);
    # no baked-in broadcast hints, AQE decides from runtime sizes.
    return (
        bc.filter(F.col("c") >= PMI_MIN_COUNT)
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(un))
        .crossJoin(F.broadcast(bn))
        .select("w1", "w2", F.col("c").alias("n_pair"), pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOPK)
    )


# ---------------------------------- MinHash estimator calibration


@query(
    "dedup_minhash_estimator_calibration",
    oracle=f"""
    WITH cand AS ({_minhash_pairs_sql()}),
    w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(words) - 1),
                    i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))) AS shingle
      FROM w WHERE len(words) >= 3
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    scored AS (
      SELECT c.est_jaccard,
             CAST(round(coalesce(s.n_shared, 0) * 1.0
                        / (za.sz + zb.sz - coalesce(s.n_shared, 0)), 6)
                  AS DECIMAL(18,6)) AS ej,
             CAST(round(abs(c.est_jaccard
                            - round(coalesce(s.n_shared, 0) * 1.0
                                    / (za.sz + zb.sz - coalesce(s.n_shared, 0)), 6)), 6)
                  AS DECIMAL(18,6)) AS err
      FROM cand c
      LEFT JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
      JOIN sizes za ON za.doc_id = c.doc_a
      JOIN sizes zb ON zb.doc_id = c.doc_b
    )
    SELECT est_jaccard,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(ej) AS DOUBLE) / count(*), 6)  AS mean_exact_jaccard,
           round(CAST(sum(err) AS DOUBLE) / count(*), 6) AS mae
    FROM scored GROUP BY est_jaccard
    """,
    doc="MinHash ESTIMATOR-BIAS calibration — the lexical twin of "
    "dedup_semantic_threshold_calibration: for every LSH candidate pair, the "
    "k=8 signature-agreement estimate (n_match/k) is compared against the "
    "EXACT shingle-set Jaccard |A∩B|/|A∪B|, and the (estimate bucket -> "
    "n_pairs, mean exact Jaccard, mean absolute error) table is the audit "
    "that justifies the permutation count before corpus-scale dedup ships "
    "(a large MAE at the deploy cutoff means raise k, not the threshold). "
    "Exact intersections run ONLY on the sub-quadratic candidate set — "
    "candidate-then-verify, never all-pairs; per-pair values quantize to "
    "6dp then sum in exact DECIMAL so bucket means are partial-order "
    "independent (north-star dedup / calibration)",
    tags=("dedup", "text"),
)
def dedup_minhash_estimator_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import shingled_docs

    # cand feeds the verify join AND the scoring join; the shingle
    # frame feeds sizes/a/b — unpinned, the scan audit counted 8
    # documents re-derivations. Checkpoint the LSH-bounded candidate
    # list, and restrict the corpus shingle explode to candidate docs
    # before checkpointing (dedup_simhash_recall_audit pattern):
    # value-identical, since sizes beyond candidate docs were only
    # ever dropped by the za/zb joins.
    cand = dedup_minhash_pairs(spark, sf_dir).transform(pin)
    cdocs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        shingled_docs(spark, sf_dir)
        .join(cdocs, "doc_id")
        .transform(pin)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        cand.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    ns = F.coalesce(F.col("n_shared"), F.lit(0))
    exact = ns * 1.0 / (F.col("sz_a") + F.col("sz_b") - ns)
    # per-doc sizes and shared counts are corpus-linear: every join below
    # is hint-free (pre-partitioned on doc keys upstream; AQE decides)
    scored = (
        cand.join(shared, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "est_jaccard",
            F.round(exact, 6).cast("decimal(18,6)").alias("ej"),
            F.round(F.abs(F.col("est_jaccard") - F.round(exact, 6)), 6)
            .cast("decimal(18,6)")
            .alias("err"),
        )
    )
    return scored.groupBy("est_jaccard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.sum("ej").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_exact_jaccard"
        ),
        F.round(F.sum("err").cast("double") / F.count(F.lit(1)), 6).alias("mae"),
    )


# --------------------------------------------- Jaccard containment

@query(
    "minhash_containment",
    oracle=f"""
    WITH cand AS ({_minhash_pairs_sql()}),
    w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(words) - 1),
                    i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))) AS shingle
      FROM w WHERE len(words) >= 3
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT s.doc_a, s.doc_b, s.n_shared,
           round(s.n_shared * 1.0 / za.sz, 4) AS containment_a,
           round(s.n_shared * 1.0 / zb.sz, 4) AS containment_b
    FROM shared s
    JOIN sizes za ON za.doc_id = s.doc_a
    JOIN sizes zb ON zb.doc_id = s.doc_b
    """,
    doc="Jaccard CONTAINMENT |A∩B|/|A| on LSH candidate pairs — the asymmetric measure "
    "that catches quotation/subset duplication symmetric Jaccard dilutes (Broder 1997 "
    "distinguishes resemblance from containment): a short doc fully quoted inside a long "
    "one scores containment_a=1.0 while its Jaccard stays low. Exact set intersection is "
    "computed ONLY for the (sub-quadratic) MinHash candidates via a shingle equi-join — "
    "the candidate-then-verify shape, never all-pairs (north-star dedup)",
    tags=("dedup", "text", "bench_extra"),
)
def minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import shingled_docs

    # Candidate list + candidate-restricted shingle frame, both
    # checkpointed (dedup_minhash_estimator_calibration pattern; 6x
    # documents scans unpinned). Value-identical:
    # sizes beyond candidate docs were only ever dropped by the
    # za/zb joins.
    cand = (
        dedup_minhash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(pin)
    )
    cdocs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        shingled_docs(spark, sf_dir)
        .join(cdocs, "doc_id")
        .transform(pin)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    # za/zb are per-document shingle-set sizes — corpus-LINEAR, never a
    # broadcast candidate. Both sides are already hash-partitioned on doc
    # keys from the upstream groupBys, so the plain shuffle join here is
    # cheap; AQE may still broadcast when runtime stats allow.
    return (
        shared.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(F.col("n_shared") * 1.0 / F.col("sz_a"), 4).alias("containment_a"),
            F.round(F.col("n_shared") * 1.0 / F.col("sz_b"), 4).alias("containment_b"),
        )
    )


# ----------------------------------- incremental dedup vs signature store

def _incremental_pairs_sql() -> str:
    from http_datafusion_spark.operators.dedup import N_BANDS, N_MINHASH, _minhash_signature_sql

    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, concat(h{2 * j}, '_', h{2 * j + 1}) AS key FROM sig"
        for j in range(N_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN o.h{i} = n.h{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH)
    )
    return f"""
    WITH sig AS ({_minhash_signature_sql()}),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT nb.doc_id AS new_doc, ob.doc_id AS old_doc
      FROM bands nb JOIN bands ob
        ON nb.band = ob.band AND nb.key = ob.key
       AND nb.doc_id % 2 = 1 AND ob.doc_id % 2 = 0
    )
    SELECT new_doc, old_doc,
           round(({matches}) / {N_MINHASH}.0, 4) AS est_jaccard
    FROM cand
    JOIN sig o ON o.doc_id = old_doc
    JOIN sig n ON n.doc_id = new_doc
    WHERE ({matches}) >= {N_MINHASH // 2}
    """


@query(
    "dedup_incremental_minhash",
    oracle=_incremental_pairs_sql(),
    doc="INCREMENTAL dedup against a materialized signature store: the existing corpus's "
    "MinHash signatures + LSH band keys are WRITTEN once, partitioned by band "
    "(scratch_path — stale-proof, concurrency-safe); a new batch then computes "
    "signatures only for ITS documents and probes the store with a band-key equi-join, "
    "verifying agreement against the STORED h-columns — the old corpus is never "
    "re-shingled. This is the arriving-batch shape at 100 TB: per-batch cost is "
    "O(batch + matches), not O(corpus), and the store grows append-only by the batch's "
    "own rows. Oracle recomputes both halves from raw text (north-star dedup)",
    tags=("dedup", "pipeline"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import (
        banded_signature,
        minhash_signature,
        probe_band_store,
    )
    from http_datafusion_spark.plans.tables import scratch_path

    sig = minhash_signature(spark, sf_dir)

    store_path = scratch_path("sigstore", sf_dir, "documents")
    # one-time store build for the "existing" corpus (even doc_ids)
    banded_signature(sig.filter(F.col("doc_id") % 2 == 0)).write.mode(
        "overwrite"
    ).partitionBy("band").parquet(store_path)

    store = spark.read.parquet(store_path)
    new_bands = banded_signature(sig.filter(F.col("doc_id") % 2 == 1))
    return probe_band_store(new_bands, store)


# ------------------------------------------------ market-basket pairs

BASKET_MIN_SUPPORT = 2
BASKET_TOPK = 15


@query(
    "orders_market_basket",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items),
    sup AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, CAST(count(*) AS BIGINT) AS c_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {BASKET_MIN_SUPPORT}
    )
    SELECT part_a, part_b, c_ab,
           round(c_ab * 1.0 / n.n_orders, 6) AS support,
           round(c_ab * 1.0 / sa.c, 4)       AS confidence_a_to_b,
           round((c_ab * 1.0 * n.n_orders) / (sa.c * 1.0 * sb.c), 4) AS lift
    FROM pairs
    JOIN sup sa ON sa.l_partkey = part_a
    JOIN sup sb ON sb.l_partkey = part_b
    CROSS JOIN n
    ORDER BY lift DESC, part_a, part_b LIMIT {BASKET_TOPK}
    """,
    doc="market-basket association pairs (support / confidence / lift) over order "
    "line items — the a-priori first pass. The pair join is WITHIN-basket only "
    "(equi-join on orderkey), so work is O(sum basket^2) with baskets bounded by "
    "order width (<= ~a dozen items), never a cross-corpus pair explosion; the "
    "per-item support table grows with the part catalog (linear in SF), so it "
    "joins hint-free — AQE broadcasts it only when small. Top-k by lift fuses "
    "to TakeOrderedAndProject (SURVEY §2.3/§2.4 extension)",
    tags=("join", "agg"),
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select("l_orderkey").distinct().count()
    sup = items.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= BASKET_MIN_SUPPORT)
    )
    sa = sup.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    sb = sup.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    # sa/sb are per-part support counts — the part table grows ~200k×SF
    # (linear), so no baked-in broadcast hints; AQE decides.
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.round(F.col("c_ab") * 1.0 / F.lit(n_orders), 6).alias("support"),
            F.round(F.col("c_ab") * 1.0 / F.col("ca"), 4).alias("confidence_a_to_b"),
            F.round(
                (F.col("c_ab") * 1.0 * F.lit(n_orders)) / (F.col("ca") * 1.0 * F.col("cb")), 4
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(BASKET_TOPK)
    )


# ------------------------------------------- Markov transition matrix

@query(
    "events_markov_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type AS cur, next_type AS nxt, CAST(count(*) AS BIGINT) AS c
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT cur, nxt, c,
           round(c * 1.0 / sum(c) OVER (PARTITION BY cur), 4) AS p
    FROM trans
    """,
    doc="first-order Markov transition matrix over per-user event sequences: "
    "lead() within (user, time) order pairs consecutive events, then transition "
    "counts normalize per source state. One window shuffle on user_id + one "
    "state-bounded aggregation (|event types|^2 rows) — the user-journey model "
    "behind funnel analysis and next-event prediction features "
    "(SURVEY §2.5 extension / north-star events)",
    tags=("window", "agg"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = ordered.groupBy(
        F.col("event_type").alias("cur"), F.col("next_type").alias("nxt")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wsum = Window.partitionBy("cur")
    return trans.select(
        "cur", "nxt", "c", F.round(F.col("c") * 1.0 / F.sum("c").over(wsum), 4).alias("p")
    )


# ------------------------------------------- cluster representatives

@query(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS node, min(dst) AS component FROM reach GROUP BY src
    ),
    members AS (
      SELECT c.component, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, d.doc_id) AS rk
      FROM comp c JOIN documents d ON d.doc_id = c.node
    )
    SELECT CAST(component AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT)  AS n_members,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)  AS rep_doc,
           CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS rep_chars
    FROM members
    GROUP BY component
    """,
    doc="canonical representative per near-dup cluster: connected components over "
    "LSH pairs, then content-aware survivorship (keep the LONGEST member, doc_id "
    "tiebreak) via a rank-1 window — the cluster-level generalization of "
    "dedup_keep_best's pairwise rule. WindowGroupLimit prunes to one row per "
    "cluster before the rollup; emitting (rep, member-count) is exactly the "
    "keep-list a dedup pass applies back to the corpus (north-star dedup)",
    tags=("dedup", "window"),
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = dedup_minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    members = comp.join(d, comp["node"] == d["doc_id"]).select(
        "component", "doc_id", "n_chars"
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    ranked = members.select("component", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
    return ranked.groupBy(F.col("component").cast("bigint").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).cast("bigint").alias("rep_doc"),
        F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).cast("bigint").alias("rep_chars"),
    )


# --------------------------------------- PCA via power iteration (matrix-free)

PCA_DIM = 64


def _pca_oracle() -> str:
    q8 = "CAST(round({x}, 8) AS DECIMAL(28,8))"
    q6 = "CAST(round({x}, 6) AS DECIMAL(28,6))"
    return f"""
    WITH dims AS (
      SELECT vec_id, i AS j, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(1, {PCA_DIM + 1})) AS i)
    ),
    u1 AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS u FROM embeddings
    ),
    s1 AS (
      SELECT d.j, CAST(sum({q8.format(x='d.x * u1.u')}) AS DOUBLE) AS s
      FROM dims d JOIN u1 ON d.vec_id = u1.vec_id
      GROUP BY d.j
    ),
    n1 AS (
      SELECT sqrt(CAST(sum({q6.format(x='s * s')}) AS DOUBLE)) AS nrm FROM s1
    ),
    v1 AS (SELECT j, s / n1.nrm AS v FROM s1, n1),
    u2 AS (
      SELECT d.vec_id, CAST(sum({q8.format(x='d.x * v1.v')}) AS DOUBLE) AS u
      FROM dims d JOIN v1 ON d.j = v1.j
      GROUP BY d.vec_id
    ),
    s2 AS (
      SELECT d.j, CAST(sum({q8.format(x='d.x * u2.u')}) AS DOUBLE) AS s
      FROM dims d JOIN u2 ON d.vec_id = u2.vec_id
      GROUP BY d.j
    ),
    n2 AS (
      SELECT sqrt(CAST(sum({q6.format(x='s * s')}) AS DOUBLE)) AS nrm FROM s2
    )
    SELECT CAST(s2.j AS INTEGER) AS j,
           round(s2.s / n2.nrm, 6) AS pc1,
           round(n2.nrm, 4)        AS rayleigh_norm
    FROM s2, n2
    """


@query(
    "embedding_pca_power_iteration",
    oracle=_pca_oracle(),
    doc="matrix-free PCA: two power iterations of X^T X from a deterministic "
    "e_1 start, entirely as relational aggregates — u = Xv is a groupBy(vec), "
    "X^T u is a groupBy(dim), each a two-phase partial agg; the 64-row v vector "
    "broadcasts between iterations and the norm is a 64-row fold. Products are "
    "8dp-quantized into exact decimal sums, so every engine sums in ANY order to "
    "the same bits and the oracle matches exactly despite two chained "
    "normalizations. The exploded (vec, dim, x) frame and every iterate are "
    "eagerly checkpointed (r15), pinning the physical plan to ONE embeddings "
    "scan + three passes over the checkpointed frame — the unpinned plan "
    "re-derived the parquet scan 12x. At 100 TB: per-iteration cost is two "
    "shuffles whose reduce "
    "side is dim-bounded (64 rows) or vec-bounded (one scalar per vector) — the "
    "principal-component drift monitor for an embedding store "
    "(north-star similarity)",
    tags=("similarity", "agg"),
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]

    def q8(c):
        return F.round(c, 8).cast("decimal(28,8)")

    def q6(c):
        return F.round(c, 6).cast("decimal(28,6)")

    # Unrolled-iteration-without-checkpoint was the scan audit's
    # 12x-embeddings-scans finding: s1/u2/s2 each re-derived the
    # posexplode lineage, and the chained iterates compounded it. The
    # lineage cuts below pin the physical plan to ONE embeddings scan
    # (the dims materialization) + the three inherent passes over the
    # checkpointed exploded frame; every 64-row / per-vec iterate is
    # checkpointed so no shuffle runs twice (_lpa_label_frame pattern).
    dims = (
        spread_docs(e.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id",
            F.posexplode(F.col("embedding")).alias("j0", "xf"),
        )
        .select(
            "vec_id", (F.col("j0") + 1).alias("j"), F.col("xf").cast("double").alias("x")
        )
        .transform(pin)
    )
    # u1 = e_1 start vector, read off the checkpointed frame (j == 1 is
    # exactly embedding[1]) instead of a second parquet scan.
    u1 = dims.filter(F.col("j") == 1).select("vec_id", F.col("x").alias("u"))
    s1 = (
        dims.join(u1, "vec_id")
        .groupBy("j")
        .agg(F.sum(q8(F.col("x") * F.col("u"))).cast("double").alias("s"))
        .transform(pin)  # 64 rows
    )
    n1 = s1.agg(F.sqrt(F.sum(q6(F.col("s") * F.col("s"))).cast("double")).alias("nrm"))
    v1 = s1.crossJoin(F.broadcast(n1)).select("j", (F.col("s") / F.col("nrm")).alias("v"))
    u2 = (
        dims.join(F.broadcast(v1), "j")
        .groupBy("vec_id")
        .agg(F.sum(q8(F.col("x") * F.col("v"))).cast("double").alias("u"))
        .transform(pin)  # one scalar per vector
    )
    s2 = (
        dims.join(u2, "vec_id")
        .groupBy("j")
        .agg(F.sum(q8(F.col("x") * F.col("u"))).cast("double").alias("s"))
        .transform(pin)  # 64 rows; final select + n2 both read it
    )
    n2 = s2.agg(F.sqrt(F.sum(q6(F.col("s") * F.col("s"))).cast("double")).alias("nrm"))
    return s2.crossJoin(F.broadcast(n2)).select(
        F.col("j").cast("int").alias("j"),
        F.round(F.col("s") / F.col("nrm"), 6).alias("pc1"),
        F.round(F.col("nrm"), 4).alias("rayleigh_norm"),
    )


# --------------------------------- point-in-time (SCD2 temporal) join

@query(
    "scd2_point_in_time_join",
    oracle="""
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS st, event_id, event_type,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS st_next
      FROM events WHERE event_type <> 'purchase'
    ),
    p AS (
      SELECT user_id, epoch_us(ts) AS pt, value
      FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
      SELECT p.value, s.event_type AS state_type
      FROM p LEFT JOIN s
        ON p.user_id = s.user_id
       AND s.st <= p.pt
       AND (s.st_next IS NULL OR p.pt < s.st_next)
    )
    SELECT coalesce(state_type, 'none') AS state_at_purchase,
           CAST(count(*) AS BIGINT)     AS n_purchases,
           round(sum(value), 4)         AS total_value
    FROM matched GROUP BY 1
    """,
    doc="point-in-time (temporal) join: each purchase fact is joined to the SCD2 "
    "version of its user's state that was valid AT the purchase timestamp — the "
    "leakage-free feature-store lookup (training must see the dimension as it "
    "was, not as it is). Implemented as a backward as-of join (union-merge: one "
    "shuffle on the key, no interval row-explosion); the oracle builds explicit "
    "[valid_from, valid_to) intervals and joins them, proving the as-of "
    "semantics == interval semantics, including empty same-timestamp versions "
    "(north-star events / pipeline)",
    tags=("asof", "events", "pipeline"),
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.asof import asof_join

    e = load_tables(spark, sf_dir, "events")["events"]
    states = e.filter(F.col("event_type") != "purchase").select(
        "user_id", F.unix_micros("ts").alias("st"), "event_id", "event_type"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("pt"), "value"
    )
    # payload_cols[0] = event_id is the equal-timestamp tiebreak: the
    # LAST version at a timestamp wins, matching the oracle's empty
    # [t, t) interval semantics for superseded same-instant versions.
    joined = asof_join(
        purchases,
        states,
        on="user_id",
        left_time="pt",
        right_time="st",
        payload_cols=["event_id", "event_type"],
    )
    return joined.groupBy(
        F.coalesce(F.col("asof_event_type"), F.lit("none")).alias("state_at_purchase")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ------------------------------------------- semantic (embedding) clusters

def _semantic_clusters_oracle() -> str:
    from http_datafusion_spark.operators.dedup import IVF_DEDUP_PROBES, _ivf_dedup_oracle

    return f"""
    WITH RECURSIVE pairs AS ({_ivf_dedup_oracle(0.4, IVF_DEDUP_PROBES)}),
    edges AS (
      SELECT vec_a AS a, vec_b AS b FROM pairs
      UNION SELECT vec_b, vec_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS node, min(dst) AS component FROM reach GROUP BY src
    )
    SELECT CAST(c.component AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS cluster_size,
           CAST(count(DISTINCT emb.label) AS BIGINT) AS n_labels
    FROM comp c JOIN embeddings emb ON emb.vec_id = c.node
    GROUP BY c.component
    """


@query(
    "dedup_semantic_clusters",
    oracle=_semantic_clusters_oracle(),
    doc="SEMANTIC near-dup clusters: connected components over the candidate-gated "
    "embedding-cosine pair graph (IVF multi-probe candidates, exact verify) — the "
    "meaning-level complement of dedup_clusters' lexical MinHash graph; paraphrased "
    "duplicates that share no 3-grams land in the same semantic cluster. n_labels "
    "per cluster audits cluster/label coherence. Same large-star/small-star "
    "contraction, O(log^2 n) rounds on the (sub-quadratic) edge list "
    "(north-star dedup / similarity)",
    tags=("dedup", "similarity", "graph"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import dedup_embedding_cosine

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    pairs = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    comp = connected_components(pairs)
    return (
        comp.join(e.select("vec_id", "label"), comp["node"] == F.col("vec_id"))
        .groupBy(F.col("component").cast("bigint").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.countDistinct("label").cast("bigint").alias("n_labels"),
        )
    )


# ------------------------------------------- bigram conditional LM

BIGRAM_ADD_K = 0.5


@query(
    "text_bigram_logprob",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ),
    uni AS (SELECT unnest(words) AS word FROM w),
    uc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY word),
    vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uc),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(words)),
                    i -> {{'w1': words[i], 'w2': words[i+1]}})) AS bg
      FROM w WHERE len(words) >= 2
    ),
    bc AS (
      SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(count(*) AS BIGINT) AS c
      FROM bi GROUP BY 1, 2
    ),
    scored AS (
      SELECT bi.doc_id,
             CAST(round(-ln((bc.c + {BIGRAM_ADD_K}) / (uc.c + {BIGRAM_ADD_K} * vsize.v)), 6)
                  AS DECIMAL(18,6)) AS nll
      FROM bi
      JOIN bc ON bc.w1 = bi.bg.w1 AND bc.w2 = bi.bg.w2
      JOIN uc ON uc.word = bi.bg.w1
      CROSS JOIN vsize
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(nll) AS DOUBLE) / count(*), 4) AS avg_bigram_nll
    FROM scored GROUP BY doc_id
    """,
    doc=f"bigram conditional-LM negative log likelihood per doc, add-k={BIGRAM_ADD_K} "
    "smoothing: -ln P(w2|w1) = -ln((c(w1w2)+k)/(c(w1)+kV)) averaged per doc — the "
    "sharper fluency signal completing the unigram NLL's LM family (a doc of real "
    "words in scrambled order passes unigram NLL but fails this one). Bigram and "
    "unigram count tables grow with the corpus (bigram vocab strictly faster), "
    "so both score joins are hint-free — AQE broadcasts only when runtime-small; "
    "per-token NLL rounds to 6dp then sums in exact DECIMAL so the "
    "per-doc mean is partial-order independent (north-star text analysis)",
    tags=("text",),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    # partitioned_docs: one raw-text exchange feeds the bigram
    # window AND the unigram stream; tokenize runs at full width.
    # Measured on 32 cores: sf5 12.14 -> 4.83 s; sf0.1 1.18 -> 1.51 s
    # (floor cost).
    dp = partitioned_docs(d)
    dw = dp.select("doc_id", F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "w1"))
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    bi = (
        dw.withColumn("w2", F.lead("w1", 1).over(wdoc))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "w1", "w2")
    )
    uni = dp.select(F.explode(whitespace_tokens(F.col("text"))).alias("word"))
    uc = uni.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    vsize = uc.count()
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    ucb = uc.select(F.col("word").alias("w1"), F.col("c").alias("cu"))
    nll = F.round(
        -F.log(
            (F.col("cb") + BIGRAM_ADD_K) / (F.col("cu") + BIGRAM_ADD_K * F.lit(vsize))
        ),
        6,
    ).cast("decimal(18,6)")
    # bc (bigram counts) and ucb (unigram counts) are corpus-growing —
    # bigram vocab is strictly larger than unigram vocab. No baked-in
    # broadcast hints: AQE broadcasts when small, shuffle-joins at scale.
    return (
        bi.join(bc, ["w1", "w2"])
        .join(ucb, "w1")
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_bigram_nll"
            ),
        )
    )


# ------------------------------------------- boilerplate detection

BOILER_SEG_WORDS = 20  # same "line" unit as dedup_segments
BOILER_MIN_DF = 3  # a segment hash seen in >= this many docs of a source is boilerplate
BOILER_DOC_FRAC = 0.5  # a doc that is mostly boilerplate gets flagged


@query(
    "doc_boilerplate_detect",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ),
    seg AS (
      SELECT doc_id, source,
             md5(array_to_string(words[start + 1 : start + {BOILER_SEG_WORDS}], ' ')) AS h
      FROM (SELECT doc_id, source, words,
                   unnest(range(0, len(words), {BOILER_SEG_WORDS})) AS start
            FROM w WHERE len(words) > 0)
    ),
    df AS (
      SELECT source, h, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_with
      FROM seg GROUP BY source, h
    ),
    scored AS (
      SELECT s.doc_id, s.source,
             CAST(count(*) AS BIGINT) AS n_segments,
             CAST(sum(CASE WHEN df.docs_with >= {BOILER_MIN_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
      FROM seg s JOIN df ON df.source = s.source AND df.h = s.h
      GROUP BY s.doc_id, s.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_boiler * 1.0 / n_segments > {BOILER_DOC_FRAC} THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           round(sum(n_boiler) * 1.0 / sum(n_segments), 4) AS boiler_frac
    FROM scored GROUP BY source
    """,
    doc=f"boilerplate detection (CCNet-style): {BOILER_SEG_WORDS}-word segments hashed, "
    f"and a segment repeated across >= {BOILER_MIN_DF} docs OF THE SAME SOURCE is "
    "boilerplate (site headers/footers/nav repeat within a domain, not across the "
    "corpus); docs that are mostly boilerplate get flagged per source. The "
    "df table is (source, hash)-bounded; the scoring join is an equi-join back on "
    "the same keys — the per-source partitioning is what keeps the df computation "
    "local at 100 TB (north-star pipeline / text)",
    tags=("pipeline", "text", "dedup"),
)
def doc_boilerplate_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = whitespace_tokens(F.col("text"))
    w = d.select("doc_id", "source", words.alias("words")).filter(F.size("words") > 0)
    seg = w.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    (F.size("words") - 1) - ((F.size("words") - 1) % BOILER_SEG_WORDS),
                    F.lit(BOILER_SEG_WORDS),
                ),
                lambda start: F.md5(
                    F.array_join(F.slice("words", start + 1, BOILER_SEG_WORDS), " ")
                ),
            )
        ).alias("h"),
    )
    df = seg.groupBy("source", "h").agg(
        F.countDistinct("doc_id").cast("bigint").alias("docs_with")
    )
    scored = (
        seg.join(df, ["source", "h"])
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum(
                F.when(F.col("docs_with") >= BOILER_MIN_DF, 1).otherwise(0)
            ).cast("bigint").alias("n_boiler"),
        )
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("n_boiler") * 1.0 / F.col("n_segments") > BOILER_DOC_FRAC, 1).otherwise(0)
        ).cast("bigint").alias("n_flagged"),
        F.round(F.sum("n_boiler") * 1.0 / F.sum("n_segments"), 4).alias("boiler_frac"),
    )


# ------------------------------------------- deterministic A/B lift

@query(
    "events_ab_lift",
    oracle=f"""
    WITH armed AS (
      SELECT DISTINCT user_id,
             CASE WHEN {md5_int_sql("concat('ab|', CAST(user_id AS VARCHAR))")} % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm
      FROM events
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    per_arm AS (
      SELECT a.arm,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(count(c.user_id) AS BIGINT) AS n_converted
      FROM armed a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY a.arm
    ),
    wide AS (
      SELECT
        max(CASE WHEN arm = 'A' THEN n_users END)     AS na,
        max(CASE WHEN arm = 'A' THEN n_converted END) AS ca,
        max(CASE WHEN arm = 'B' THEN n_users END)     AS nb,
        max(CASE WHEN arm = 'B' THEN n_converted END) AS cb
      FROM per_arm
    )
    SELECT na AS n_users_a, ca AS n_conv_a, nb AS n_users_b, cb AS n_conv_b,
           round(ca * 1.0 / na, 6) AS conv_a,
           round(cb * 1.0 / nb, 6) AS conv_b,
           round((cb * 1.0 / nb) / (ca * 1.0 / na) - 1, 4) AS rel_lift,
           round(((cb * 1.0 / nb) - (ca * 1.0 / na))
                 / nullif(sqrt(((ca + cb) * 1.0 / (na + nb)) * (1 - (ca + cb) * 1.0 / (na + nb))
                               * (1.0 / na + 1.0 / nb)), 0), 4) AS z_score
    FROM wide
    """,
    doc="deterministic A/B experiment readout: users split into arms by salted "
    "hash (reproducible at any parallelism — rand() is not an experiment "
    "assignment), per-arm conversion to 'purchase', relative lift, and the "
    "two-proportion pooled z-statistic. The whole readout is two user-keyed "
    "aggregations collapsing to a 1-row report; every statistic derives from "
    "4 integer counts so both engines compute identical doubles "
    "(north-star events / analytics)",
    tags=("events", "agg", "sampling"),
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    arm = F.when(
        md5_int(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))) % 2 == 0, "A"
    ).otherwise("B")
    armed = e.select("user_id").distinct().select("user_id", arm.alias("arm"))
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    per_arm = (
        armed.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.count("_c").cast("bigint").alias("n_converted"),
        )
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_converted"))).alias("cb"),
    )
    na, ca, nb, cb = F.col("na"), F.col("ca"), F.col("nb"), F.col("cb")
    pa, pb = ca * 1.0 / na, cb * 1.0 / nb
    pool = (ca + cb) * 1.0 / (na + nb)
    return wide.select(
        na.alias("n_users_a"),
        ca.alias("n_conv_a"),
        nb.alias("n_users_b"),
        cb.alias("n_conv_b"),
        F.round(pa, 6).alias("conv_a"),
        F.round(pb, 6).alias("conv_b"),
        F.round(pb / pa - 1, 4).alias("rel_lift"),
        # nullif guard: a fully-converted (or fully-unconverted) pool
        # has zero variance — z is undefined, not infinite/error
        F.round(
            (pb - pa)
            / F.nullif(F.sqrt(pool * (1 - pool) * (1.0 / na + 1.0 / nb)), F.lit(0.0)),
            4,
        ).alias("z_score"),
    )


# ------------------------------------------- RFM segmentation

@query(
    "orders_rfm_segmentation",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             max(o_orderdate)                   AS last_order,
             CAST(count(*) AS BIGINT)           AS frequency,
             round(sum(o_totalprice), 2)        AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, frequency, monetary,
             ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r,
             ntile(4) OVER (ORDER BY frequency DESC, o_custkey)  AS f,
             ntile(4) OVER (ORDER BY monetary DESC, o_custkey)   AS m
      FROM per_cust
    )
    SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm_segment,
           CAST(count(*) AS BIGINT)             AS n_customers,
           CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS total_monetary
    FROM scored GROUP BY 1
    """,
    doc="RFM customer segmentation: per-customer recency/frequency/monetary "
    "rollup, quartile scores, segment code r*100+f*10+m, and per-segment "
    "population stats. The quartiles are ntile(4) SEMANTICS computed without "
    "a global ntile window: each metric gets an exact distributed global rank "
    "(functions/ordstats.bucketed_global_rank — sketch buckets, offset "
    "telescoping, bucket-partitioned local rank; customer-key tiebreak keeps "
    "it deterministic), and ntile_from_rank reproduces the window function's "
    "tile arithmetic bit-for-bit map-side — so the customer relation never "
    "funnels through one task even at 1.5B customers (SURVEY §2.5 extension)",
    tags=("window", "agg"),
)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.ordstats import (
        bucketed_global_rank,
        ntile_from_rank,
    )

    o = load_tables(spark, sf_dir, "orders")["orders"]
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .withColumn("rec_s", F.unix_timestamp("last_order").cast("double"))
        .transform(pin)  # 3 rank passes + sketches reuse it
    )
    n = per_cust.count()
    a = bucketed_global_rank(per_cust, "rec_s", ["o_custkey"], "rk_r", descending=True)
    a = bucketed_global_rank(a, "frequency", ["o_custkey"], "rk_f", descending=True)
    a = bucketed_global_rank(a, "monetary", ["o_custkey"], "rk_m", descending=True)
    scored = a.select(
        "frequency",
        "monetary",
        ntile_from_rank(F.col("rk_r"), n, 4).alias("r"),
        ntile_from_rank(F.col("rk_f"), n, 4).alias("f"),
        ntile_from_rank(F.col("rk_m"), n, 4).alias("m"),
    )
    return scored.groupBy(
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("bigint").alias("rfm_segment")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        # decimal-exact sum cast once to double: no division before a
        # 2dp round means no round-half boundary to disagree on
        F.sum(F.col("monetary").cast("decimal(18,2)")).cast("double").alias("total_monetary"),
    )


# ------------------------------------------- embedding norm outliers

NORM_MAD_K = 3.0


@query(
    "embedding_norm_outliers",
    oracle=f"""
    WITH norms AS (
      SELECT vec_id, label,
             sqrt(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 8) AS DECIMAL(28,8))
                  ) AS DOUBLE)) AS nrm
      FROM (SELECT vec_id, label, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id, label
    ),
    med AS (SELECT median(nrm) AS m FROM norms),
    mad AS (SELECT median(abs(n.nrm - med.m)) AS d FROM norms n, med)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN abs(n.nrm - med.m) > {NORM_MAD_K} * mad.d THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(min(n.nrm), 4) AS min_norm,
           round(max(n.nrm), 4) AS max_norm
    FROM norms n, med, mad
    GROUP BY label
    """,
    doc="embedding L2-norm outlier audit: per-vector norms (8dp-quantized decimal "
    f"sum of squares — order-independent), corpus median + MAD, vectors beyond "
    f"{NORM_MAD_K}x MAD flagged per label — the degenerate-vector detector (zero/"
    "exploding embeddings from a bad encoder batch) run before vectors enter an "
    "index. Norms are one map-side pass; the median/MAD are two exact percentile "
    "folds over the (vector-count-bounded) norm column "
    "(north-star similarity / pipeline)",
    tags=("similarity", "pipeline"),
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    x = F.col("x").cast("double")
    # The norm frame is re-derived by the med/mad/final consumers (4
    # full-width embedding scans in the plan) and stays unpinned: a
    # fact_scale persist of the 3-column norm frame measured SLOWER at
    # BOTH scales on 32 cores (sf0.1 0.77 -> 1.20 s, sf5 9.9 -> 11.5 s):
    # the codegen'd explode+decimal-agg recompute is cheaper than the
    # columnar cache build+read.
    norms = (
        spread_docs(e.select("vec_id", "label", "embedding"), "vec_id")
        .select("vec_id", "label", F.explode("embedding").alias("x"))
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum(F.round(x * x, 8).cast("decimal(28,8)")).cast("double")
            ).alias("nrm")
        )
    )
    med = norms.agg(F.median("nrm").alias("m"))
    with_med = norms.crossJoin(F.broadcast(med))
    mad = with_med.agg(F.median(F.abs(F.col("nrm") - F.col("m"))).alias("d"))
    return (
        with_med.crossJoin(F.broadcast(mad))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(
                F.when(
                    F.abs(F.col("nrm") - F.col("m")) > NORM_MAD_K * F.col("d"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
    )


# ------------------------------------------- Pareto revenue analysis

PARETO_TARGET = 0.8


@query(
    "orders_pareto_analysis",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, rev,
             row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk,
             CAST(sum(rev) OVER (ORDER BY rev DESC, o_custkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DECIMAL(18,2)) AS cum_rev,
             count(*) OVER ()                                   AS n_cust,
             CAST(sum(rev) OVER () AS DECIMAL(18,2))            AS total_rev
      FROM per_cust
    )
    SELECT CAST(max(n_cust) AS BIGINT) AS n_customers,
           CAST(min(CASE WHEN CAST(cum_rev AS DOUBLE) >= {PARETO_TARGET} * CAST(total_rev AS DOUBLE)
                         THEN rk END) AS BIGINT) AS n_for_80pct,
           round(CAST(max(CASE WHEN rk * 10 <= n_cust THEN cum_rev END) AS DOUBLE)
                 / CAST(max(total_rev) AS DOUBLE), 4) AS top10pct_share
    FROM ranked
    """,
    doc=f"Pareto concentration analysis: customers ranked by revenue, cumulative "
    f"share window, minimum head count covering {PARETO_TARGET:.0%} of revenue and "
    "the revenue share of the top decile — the 80/20 report behind skew-aware "
    "partitioning decisions. Revenue sums are exact DECIMAL (order-independent, "
    "so the two-phase prefix sum telescopes bit-exactly); rank AND cumulative "
    "revenue come from the distributed global-rank plan (functions/ordstats."
    "bucketed_global_rank with cumsum — sketch buckets, offset telescoping, "
    "bucket-partitioned windows), so the customer rollup never funnels "
    "through one task at any corpus size (SURVEY §2.5 extension)",
    tags=("window", "agg"),
)
def orders_pareto_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.ordstats import bucketed_global_rank

    o = load_tables(spark, sf_dir, "orders")["orders"]
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("rev")
        )
        .withColumn("rev_d", F.col("rev").cast("double"))
        .transform(pin)  # sketch + rank pass reuse it
    )
    totals = per_cust.agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("rev").cast("decimal(18,2)").alias("total_rev"),
    )
    ranked = (
        bucketed_global_rank(
            per_cust, "rev_d", ["o_custkey"], "rk", descending=True,
            cumsum_of="rev", cumsum_name="cum_raw",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "rk",
            F.col("cum_raw").cast("decimal(18,2)").alias("cum_rev"),
            "n_cust",
            "total_rev",
        )
    )
    return ranked.agg(
        F.max("n_cust").cast("bigint").alias("n_customers"),
        F.min(
            F.when(
                F.col("cum_rev").cast("double")
                >= PARETO_TARGET * F.col("total_rev").cast("double"),
                F.col("rk"),
            )
        ).cast("bigint").alias("n_for_80pct"),
        F.round(
            F.max(F.when(F.col("rk") * 10 <= F.col("n_cust"), F.col("cum_rev"))).cast("double")
            / F.max("total_rev").cast("double"),
            4,
        ).alias("top10pct_share"),
    )


# --------------------------------------- MinHash threshold sweep

def _sweep_oracle() -> str:
    from http_datafusion_spark.operators.dedup import N_BANDS, N_MINHASH, _minhash_signature_sql

    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, concat(h{2 * j}, '_', h{2 * j + 1}) AS key FROM sig"
        for j in range(N_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH)
    )
    return f"""
    WITH sig AS ({_minhash_signature_sql()}),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    ),
    verified AS (
      SELECT ({matches}) AS n_match
      FROM cand
      JOIN sig a ON a.doc_id = doc_a
      JOIN sig b ON b.doc_id = doc_b
    ),
    hist AS (
      SELECT n_match, CAST(count(*) AS BIGINT) AS c FROM verified GROUP BY n_match
    )
    SELECT t.threshold,
           round(t.threshold * 1.0 / {N_MINHASH}, 4) AS est_jaccard_min,
           CAST(coalesce(sum(h.c), 0) AS BIGINT)     AS n_pairs
    FROM (SELECT unnest(range({N_MINHASH // 2}, {N_MINHASH + 1})) AS threshold) t
    LEFT JOIN hist h ON h.n_match >= t.threshold
    GROUP BY t.threshold
    """


@query(
    "dedup_minhash_threshold_sweep",
    oracle=_sweep_oracle(),
    doc="dedup threshold calibration in ONE pass: the LSH candidates are verified "
    "once, histogrammed by signature agreement, and the (threshold -> surviving "
    "pair count) curve is read off the cumulative histogram — the sweep an "
    "operator runs to pick its Jaccard cutoff WITHOUT re-running the expensive "
    "candidate generation per setting. The histogram is (k+1)-row bounded, so "
    "every threshold after the first is free (north-star dedup)",
    tags=("dedup",),
)
def dedup_minhash_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import N_MINHASH, dedup_minhash_pairs

    # est_jaccard = n_match / N_MINHASH from the verified pairs (the
    # registry query already filters at the N_MINHASH//2 floor)
    verified = dedup_minhash_pairs(spark, sf_dir).select(
        F.round(F.col("est_jaccard") * N_MINHASH).cast("int").alias("n_match")
    )
    hist = verified.groupBy("n_match").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    thresholds = spark.range(N_MINHASH // 2, N_MINHASH + 1).select(
        F.col("id").cast("int").alias("threshold")
    )
    return (
        thresholds.join(
            F.broadcast(hist), F.col("n_match") >= F.col("threshold"), "left"
        )
        .groupBy("threshold")
        .agg(
            F.round(F.col("threshold") * 1.0 / N_MINHASH, 4).alias("est_jaccard_min"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_pairs"),
        )
        .select("threshold", "est_jaccard_min", "n_pairs")
    )


# --------------------------------------- Zipf fit of the vocabulary

ZIPF_V = 200  # fit over the top-V frequency ranks


def _zipf_oracle() -> str:
    q6 = "CAST(round({x}, 6) AS DECIMAL(28,6))"
    return f"""
    WITH uni AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS word
      FROM documents
    ),
    topv AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM uni GROUP BY word ORDER BY freq DESC, word LIMIT {ZIPF_V}
    ),
    pts AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, word) AS DOUBLE)) AS x,
             ln(CAST(freq AS DOUBLE)) AS y
      FROM topv
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum({q6.format(x='x')}) AS DOUBLE)     AS sx,
             CAST(sum({q6.format(x='y')}) AS DOUBLE)     AS sy,
             CAST(sum({q6.format(x='x * x')}) AS DOUBLE) AS sxx,
             CAST(sum({q6.format(x='x * y')}) AS DOUBLE) AS sxy
      FROM pts
    )
    SELECT n AS n_points,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4) AS intercept
    FROM s
    """


@query(
    "text_zipf_fit",
    oracle=_zipf_oracle(),
    doc=f"Zipf's-law fit: least-squares slope of ln(freq) vs ln(rank) over the "
    f"top-{ZIPF_V} vocabulary — natural text sits near slope -1; far-off slopes "
    "flag templated/generated corpora (a distribution-level quality signal no "
    "per-doc score sees). One vocab aggregation bounded by V, then closed-form "
    "regression over 6dp-quantized decimal sums so both engines agree bit-for-bit "
    "(north-star text analysis)",
    tags=("text", "agg"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    uni = spread_docs(d.select("doc_id", "text")).select(
        F.explode(whitespace_tokens(F.col("text"))).alias("word")
    )
    topv = (
        uni.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), "word")
        .limit(ZIPF_V)
    )
    pts = topv.select(
        F.log(F.row_number().over(W.orderBy(F.desc("freq"), "word")).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )

    def q6(c):
        return F.round(c, 6).cast("decimal(28,6)")

    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(q6(F.col("x"))).cast("double").alias("sx"),
        F.sum(q6(F.col("y"))).cast("double").alias("sy"),
        F.sum(q6(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(q6(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.alias("n_points"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
    )


# --------------------------------------- ANN recall curve

RECALL_KS = (1, 5, 10)


def _recall_curve_oracle() -> str:
    from http_datafusion_spark.operators.similarity import (
        _DOT_SQL,
        _IVF_ASSIGN_SQL,
        N_PROBE,
        QUERY_VEC_ID,
        TOP_K,
    )

    ks = ", ".join(str(k) for k in RECALL_KS)
    return f"""
    WITH {_IVF_ASSIGN_SQL},
    q AS (
      SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = {QUERY_VEC_ID}
    ), probe AS (
      SELECT cid
      FROM cents, q
      ORDER BY list_sum(list_transform(range(1, len(cv) + 1),
               i -> (CAST(cv[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))
                  * (CAST(cv[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE)))), cid
      LIMIT {N_PROBE}
    ), exact AS (
      SELECT e.vec_id, row_number() OVER (
               ORDER BY {_DOT_SQL.format(a='e.embedding', b='qv')} / (e.nrm * qn) DESC, e.vec_id
             ) AS rk
      FROM e, q
      WHERE e.vec_id <> {QUERY_VEC_ID}
      QUALIFY rk <= {TOP_K}
    ), approx AS (
      SELECT a.vec_id, row_number() OVER (
               ORDER BY {_DOT_SQL.format(a='a.embedding', b='qv')} / (a.nrm * qn) DESC, a.vec_id
             ) AS rk
      FROM assigned a, q
      WHERE a.bucket IN (SELECT cid FROM probe) AND a.vec_id <> {QUERY_VEC_ID}
      QUALIFY rk <= {TOP_K}
    )
    SELECT k.k,
           CAST(count(*) FILTER (approx.rk <= k.k AND exact.rk <= k.k) AS BIGINT) AS n_hits,
           round(count(*) FILTER (approx.rk <= k.k AND exact.rk <= k.k) * 1.0 / k.k, 6) AS recall_at_k
    FROM (SELECT unnest([{ks}]) AS k) k
    LEFT JOIN approx ON true
    LEFT JOIN exact ON approx.vec_id = exact.vec_id
    GROUP BY k.k
    """


@query(
    "embedding_recall_curve",
    oracle=_recall_curve_oracle(),
    doc=f"ANN recall CURVE: recall@k for k in {RECALL_KS} of the IVF probe against "
    "the exact ranking, all from the two already-ranked top-k lists — the full "
    "quality profile (recall@1 is what a rerank stage needs; recall@10 is what a "
    "candidate generator needs), measured in one plan with no extra scans beyond "
    "sim_ivf_recall's (north-star similarity)",
    tags=("similarity",),
)
def embedding_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from http_datafusion_spark.operators.similarity import (
        sim_bruteforce_topk,
        sim_ivf_topk,
    )

    exact = sim_bruteforce_topk(spark, sf_dir).select(
        "vec_id", F.row_number().over(W.orderBy(F.desc("cosine"), "vec_id")).alias("e_rk")
    )
    approx = sim_ivf_topk(spark, sf_dir).select(
        F.col("vec_id").alias("a_id"),
        F.row_number().over(W.orderBy(F.desc("cosine"), "vec_id")).alias("a_rk"),
    )
    ks = spark.createDataFrame([(k,) for k in RECALL_KS], ["k"]).select(
        F.col("k").cast("bigint").alias("k")
    )
    joined = approx.join(exact, approx["a_id"] == exact["vec_id"], "left")
    return (
        ks.crossJoin(F.broadcast(joined))
        .groupBy("k")
        .agg(
            F.count(
                F.when((F.col("a_rk") <= F.col("k")) & (F.col("e_rk") <= F.col("k")), 1)
            ).cast("bigint").alias("n_hits"),
            F.round(
                F.count(
                    F.when((F.col("a_rk") <= F.col("k")) & (F.col("e_rk") <= F.col("k")), 1)
                )
                * 1.0
                / F.col("k"),
                6,
            ).alias("recall_at_k"),
        )
    )


# --------------------------------- cross-source duplication matrix

@query(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH pairs AS ({_minhash_pairs_sql()}),
    src AS (SELECT doc_id, source FROM documents)
    SELECT least(sa.source, sb.source)    AS source_x,
           greatest(sa.source, sb.source) AS source_y,
           CAST(count(*) AS BIGINT)       AS n_dup_pairs,
           round(avg(p.est_jaccard), 4)   AS avg_est_jaccard
    FROM pairs p
    JOIN src sa ON sa.doc_id = p.doc_a
    JOIN src sb ON sb.doc_id = p.doc_b
    GROUP BY 1, 2
    """,
    doc="cross-source duplication matrix: near-dup pairs attributed to their "
    "(source, source) cell — WHICH feeds copy from which (mirror sites, "
    "aggregators, within-source boilerplate). The attribution is two broadcast "
    "joins of the doc->source dimension onto the (sub-quadratic) pair list and a "
    "|sources|^2-bounded aggregation; the symmetric cell is canonicalized with "
    "least/greatest so each pair counts once (north-star dedup / analytics)",
    tags=("dedup", "agg", "bench_extra"),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"].select("doc_id", "source")
    # LSH-bounded candidate-pair list pinned:
    # the band self-join inside the pipeline derives the signature
    # lineage twice; pinning the pair output here keeps this plan's
    # own documents scans to the two pruned (doc_id, source) source
    # lookups instead of stacking the pipeline's scans on top.
    # fact_scale: corpus-growing pair list -> lineage-recoverable
    # persist, matching graph_degree_powerlaw.
    pairs = dedup_minhash_pairs(spark, sf_dir).transform(pin, fact_scale=True)
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    # sa/sb project (doc_id, source) for EVERY document — corpus-linear,
    # never a broadcast candidate; the candidate-pair side is the small one.
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"),
            F.round(F.avg("est_jaccard"), 4).alias("avg_est_jaccard"),
        )
    )


# --------------------------------------------- k-anonymity audit

KANON_K = 5


@query(
    "privacy_kanonymity_audit",
    oracle=f"""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS cell_size
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(count(*) AS BIGINT)                                    AS n_cells,
           CAST(sum(CASE WHEN cell_size < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_cells,
           CAST(sum(CASE WHEN cell_size < {KANON_K} THEN cell_size ELSE 0 END) AS BIGINT) AS n_at_risk_rows,
           CAST(min(cell_size) AS BIGINT)                              AS min_cell,
           round(sum(CASE WHEN cell_size < {KANON_K} THEN cell_size ELSE 0 END) * 1.0
                 / sum(cell_size), 6)                                  AS at_risk_frac
    FROM cells
    """,
    doc=f"k-anonymity audit (k={KANON_K}) over the quasi-identifier tuple "
    "(nation, market segment): equivalence-class sizes via one partial-agg "
    "shuffle, then the release gate — how many classes (and rows) are "
    "re-identifiable below k. The pre-publication privacy check a dataset "
    "release pipeline runs; the cell table is QI-cardinality-bounded so the "
    "audit output is tiny at any corpus size (north-star pipeline / privacy)",
    tags=("pipeline", "agg"),
)
def privacy_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir, "customer")["customer"]
    cells = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("cell_size")
    )
    small = F.col("cell_size") < KANON_K
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.when(small, 1).otherwise(0)).cast("bigint").alias("n_violating_cells"),
        F.sum(F.when(small, F.col("cell_size")).otherwise(0)).cast("bigint").alias("n_at_risk_rows"),
        F.min("cell_size").cast("bigint").alias("min_cell"),
        F.round(
            F.sum(F.when(small, F.col("cell_size")).otherwise(0)) * 1.0 / F.sum("cell_size"), 6
        ).alias("at_risk_frac"),
    )


# --------------------------------------- language-ID evaluation

from http_datafusion_spark.operators.text import _EN_STOPWORDS  # noqa: E402


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> '') AS words
      FROM documents
    ), scored AS (
      SELECT lang,
             CAST(len(list_filter(words, w -> list_contains({list(_EN_STOPWORDS)!r}, w))) AS DOUBLE)
               / greatest(len(words), 1) AS en_score,
             CAST(len(list_filter(words, w -> length(w) > 6)) AS DOUBLE)
               / greatest(len(words), 1) AS long_word_ratio
      FROM t
    )
    SELECT lang            AS actual_lang,
           CASE WHEN en_score >= 0.05 THEN 'en-like'
                WHEN long_word_ratio >= 0.4 THEN 'agglutinative-like'
                ELSE 'other' END AS predicted,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM scored
    GROUP BY 1, 2
    """,
    doc="language-ID EVALUATION: the lang-guess heuristic cross-tabulated against "
    "the ground-truth lang column — the confusion matrix a classifier-driven "
    "filter stage must publish before it gates data (silently dropping an "
    "underrepresented language is a dataset bug, not a quality win). Map-side "
    "scoring + one |langs x guesses|-bounded aggregation "
    "(north-star text analysis / evaluation)",
    tags=("text", "agg"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    d = d.select("lang", whitespace_tokens(F.lower(F.col("text"))).alias("lw"))
    words = F.col("lw")
    stop_arr = F.array(*[F.lit(w) for w in _EN_STOPWORDS])
    denom = F.greatest(F.size(words), F.lit(1)).cast("double")
    en_score = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).cast("double") / denom
    long_ratio = F.size(F.filter(words, lambda w: F.length(w) > 6)).cast("double") / denom
    guess = (
        F.when(en_score >= 0.05, "en-like")
        .when(long_ratio >= 0.4, "agglutinative-like")
        .otherwise("other")
    )
    return d.select(F.col("lang").alias("actual_lang"), guess.alias("predicted")).groupBy(
        "actual_lang", "predicted"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))


# ------------------------------------------- temporal train/eval split

# Fixed event-time cutoffs (orders span 1995-01..2001-08 in the fixture):
# train < 1999-07-01 <= val < 2000-07-01 <= test.
SPLIT_VAL_CUTOFF = "1999-07-01"
SPLIT_TEST_CUTOFF = "2000-07-01"


@query(
    "train_split_temporal",
    oracle=f"""
    WITH labeled AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate <  TIMESTAMP '{SPLIT_VAL_CUTOFF}'  THEN 'train'
                  WHEN o_orderdate <  TIMESTAMP '{SPLIT_TEST_CUTOFF}' THEN 'val'
                  ELSE 'test' END AS split
      FROM orders
    ),
    train_cust AS (
      SELECT DISTINCT o_custkey FROM labeled WHERE split = 'train'
    )
    SELECT split,
           CAST(count(*) AS BIGINT)                  AS n_orders,
           CAST(count(DISTINCT l.o_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT CASE WHEN t.o_custkey IS NOT NULL
                                    THEN l.o_custkey END) AS BIGINT) AS n_customers_seen_in_train,
           round(count(DISTINCT CASE WHEN t.o_custkey IS NOT NULL THEN l.o_custkey END) * 1.0
                 / count(DISTINCT l.o_custkey), 4)   AS frac_customers_seen
    FROM labeled l LEFT JOIN train_cust t ON l.o_custkey = t.o_custkey
    GROUP BY split
    """,
    doc="TEMPORAL train/val/test split: orders are assigned by event-time cutoff "
    f"(train < {SPLIT_VAL_CUTOFF} <= val < {SPLIT_TEST_CUTOFF} <= test) — the split a "
    "forecasting/recommendation pipeline needs, where hash splits (train_val_split) "
    "leak the future into training. The audit also reports ENTITY overlap: how many "
    "eval-split customers already appear in train (temporal splits share entities by "
    "design; the metric makes that visible instead of silent). ZERO joins and zero "
    "broadcasts: one groupBy on customer computes each customer's per-split order "
    "counts plus an in-train flag (the distinct-customer set of a fact table grows "
    "linearly with the data — billions of keys at 100 TB — so it must never be "
    "broadcast); a 3-way stack then re-aggregates to the 3 split rows. The fact "
    "table shuffles exactly once, on customer (north-star pipeline / sampling)",
    tags=("pipeline", "sampling"),
)
def train_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    split = (
        F.when(F.col("o_orderdate") < SPLIT_VAL_CUTOFF, "train")
        .when(F.col("o_orderdate") < SPLIT_TEST_CUTOFF, "val")
        .otherwise("test")
    )
    labeled = o.select("o_custkey", split.alias("split"))
    per_cust = labeled.groupBy("o_custkey").agg(
        F.max((F.col("split") == "train").cast("int")).alias("in_train"),
        *[
            F.sum(F.when(F.col("split") == s, 1).otherwise(0)).alias(f"n_{s}")
            for s in ("train", "val", "test")
        ],
    )
    stacked = per_cust.selectExpr(
        "in_train",
        "stack(3, 'train', n_train, 'val', n_val, 'test', n_test) AS (split, n_orders_cust)",
    ).filter(F.col("n_orders_cust") > 0)
    return stacked.groupBy("split").agg(
        F.sum("n_orders_cust").cast("bigint").alias("n_orders"),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("in_train").cast("bigint").alias("n_customers_seen_in_train"),
        F.round(F.sum("in_train") * 1.0 / F.count(F.lit(1)), 4).alias("frac_customers_seen"),
    )


# --------------------------------------------------- join-skew diagnosis

SKEW_TOPK = 5


@query(
    "join_skew_diagnose",
    oracle=f"""
    WITH freq AS (
      SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    stats AS (
      SELECT CAST(sum(n_rows) AS DOUBLE) / count(*) AS avg_rows,
             CAST(sum(n_rows) AS BIGINT) AS total
      FROM freq
    )
    SELECT key, n_rows,
           round(n_rows * 1.0 / s.total, 6)      AS frac_of_total,
           round(n_rows / s.avg_rows, 2)         AS skew_vs_avg,
           CAST(ceil(n_rows / s.avg_rows) AS BIGINT) AS salt_buckets
    FROM freq CROSS JOIN stats s
    ORDER BY n_rows DESC, key LIMIT {SKEW_TOPK}
    """,
    doc=f"join-key skew diagnosis: per-key frequency of the join key (lineitem part "
    f"key), the top-{SKEW_TOPK} heaviest keys with their share of the table, their "
    "ratio to the mean key, and the salting factor that would level each one "
    "(ceil(n/avg) salt buckets) — the pre-flight report that decides between plain "
    "shuffle join, AQE skew splitting, and explicit salting (q_salted_skew_agg is "
    "the downstream fix this diagnoses FOR). One partial-agg shuffle on the key; "
    "the stats row is a broadcast scalar; output is top-k-bounded "
    "(SURVEY §2.3/§2.4 scale tooling)",
    tags=("agg", "scale"),
)
def join_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    freq = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    stats = freq.agg(
        (F.sum("n_rows").cast("double") / F.count(F.lit(1))).alias("avg_rows"),
        F.sum("n_rows").cast("bigint").alias("total"),
    )
    return (
        freq.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") * 1.0 / F.col("total"), 6).alias("frac_of_total"),
            F.round(F.col("n_rows") / F.col("avg_rows"), 2).alias("skew_vs_avg"),
            F.ceil(F.col("n_rows") / F.col("avg_rows")).cast("bigint").alias("salt_buckets"),
        )
        .orderBy(F.desc("n_rows"), "key")
        .limit(SKEW_TOPK)
    )


# ----------------------------------------------------- cohort retention

COHORT_MAX_MONTHS = 6


@query(
    "orders_cohort_matrix",
    oracle=f"""
    WITH firsts AS (
      SELECT o_custkey,
             min(year(o_orderdate) * 12 + month(o_orderdate)) AS first_idx
      FROM orders GROUP BY 1
    ),
    activity AS (
      SELECT o.o_custkey, f.first_idx,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.first_idx AS months_since
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    ),
    sizes AS (
      SELECT first_idx, CAST(count(*) AS BIGINT) AS cohort_size FROM firsts GROUP BY 1
    )
    SELECT printf('%04d-%02d', (a.first_idx - 1) // 12, ((a.first_idx - 1) % 12) + 1)
             AS cohort_month,
           CAST(a.months_since AS BIGINT) AS months_since,
           CAST(count(DISTINCT a.o_custkey) AS BIGINT) AS n_active,
           round(count(DISTINCT a.o_custkey) * 1.0 / s.cohort_size, 4) AS retention
    FROM activity a JOIN sizes s ON a.first_idx = s.first_idx
    WHERE a.months_since <= {COHORT_MAX_MONTHS}
    GROUP BY a.first_idx, a.months_since, s.cohort_size
    """,
    doc=f"cohort retention matrix over orders: customers are grouped by first-order "
    f"month (the cohort); each cohort row tracks how many are still active N months "
    f"later (N <= {COHORT_MAX_MONTHS}) and the retention fraction vs cohort size — "
    "the classic acquisition-quality triangle. Month arithmetic is integer "
    "(year*12+month), portable across engines. Two shuffles on customer (first-order "
    "min, then the activity join — co-partitioned, so AQE fuses them) + one bounded "
    "agg; output is months x horizon bounded at any scale "
    "(north-star analytics; complements events_retention's event-day variant)",
    tags=("agg", "events", "bench_extra"),
)
def orders_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("idx")
    activity = o.select("o_custkey", idx)
    # customer-grain first-order frame (the RFM pin precedent): the
    # cohort-size agg and the activity join both consumed it; unpinned
    # each re-derived the orders scan (3 executed scans). The 2
    # remaining passes are the cohort shape's floor.
    firsts = activity.groupBy("o_custkey").agg(
        F.min("idx").alias("first_idx")
    ).transform(pin)
    sizes = firsts.groupBy("first_idx").agg(F.count(F.lit(1)).cast("bigint").alias("cohort_size"))
    joined = (
        activity.join(firsts, "o_custkey")
        .select("o_custkey", "first_idx", (F.col("idx") - F.col("first_idx")).alias("months_since"))
        .filter(F.col("months_since") <= COHORT_MAX_MONTHS)
    )
    cohort_month = F.format_string(
        "%04d-%02d",
        ((F.col("first_idx") - 1) / 12).cast("int"),
        (((F.col("first_idx") - 1) % 12) + 1).cast("int"),
    )
    return (
        joined.groupBy("first_idx", "months_since")
        .agg(F.countDistinct("o_custkey").cast("bigint").alias("n_active"))
        .join(F.broadcast(sizes), "first_idx")
        .select(
            cohort_month.alias("cohort_month"),
            F.col("months_since").cast("bigint"),
            "n_active",
            F.round(F.col("n_active") * 1.0 / F.col("cohort_size"), 4).alias("retention"),
        )
    )


# ------------------------------------- exact-n stratified sample (reservoir)

STRAT_N = 20  # fixed sample size per stratum
STRAT_SALT = "strat-v1"


@query(
    "stratified_fixed_n_sample",
    oracle=f"""
    SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {md5_int_sql(f"concat('{STRAT_SALT}|', CAST(doc_id AS VARCHAR))")}, doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= {STRAT_N}
    """,
    doc=f"exact-n stratified sample: EXACTLY {STRAT_N} documents per source by "
    "keyed-hash rank — the deterministic, distributed equivalent of per-stratum "
    "reservoir sampling (Bernoulli sampling, sample_deterministic, cannot hit an "
    "exact n; a literal reservoir is sequential). Re-runnable and "
    "parallelism-independent: the sample is a pure function of (salt, doc_id). "
    "One hash-partitioned window per stratum, pruned to n rows per group by "
    "WindowGroupLimit — no global sort, output strata x n bounded "
    "(north-star sampling)",
    tags=("pipeline", "sampling"),
)
def stratified_fixed_n_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    h = md5_int(F.concat(F.lit(f"{STRAT_SALT}|"), F.col("doc_id").cast("string")))
    rk = F.row_number().over(W.partitionBy("source").orderBy(h, "doc_id"))
    return (
        d.select("source", "doc_id", rk.alias("rk"))
        .filter(F.col("rk") <= STRAT_N)
        .select("source", "doc_id", F.col("rk").cast("bigint").alias("rk"))
    )


# --------------------------------------------- bootstrap confidence interval

BOOT_B = 32  # bootstrap replicas
BOOT_SALT = "boot-v1"
# Poisson(1) inverse-CDF breakpoints (the standard Poisson bootstrap:
# each row's replica multiplicity ~ Poisson(1) instead of multinomial —
# independent per row, so it distributes with no global coordination).
_POIS_CDF = (0.367879, 0.735759, 0.919699, 0.981012)


def _boot_weight_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} < {_POIS_CDF[0]} THEN 0 WHEN {u} < {_POIS_CDF[1]} THEN 1 "
        f"WHEN {u} < {_POIS_CDF[2]} THEN 2 WHEN {u} < {_POIS_CDF[3]} THEN 3 ELSE 4 END"
    )


_BOOT_KEY_SQL = (
    f"concat('{BOOT_SALT}|', CAST(r.b AS VARCHAR), '|', CAST(o_orderkey AS VARCHAR))"
)
_BOOT_U_SQL = f"(({md5_int_sql(_BOOT_KEY_SQL)} % 1000000) + 0.5) / 1000000.0"


@query(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH reps AS (SELECT CAST(b AS BIGINT) AS b FROM range({BOOT_B}) t(b)),
    weighted AS (
      SELECT r.b,
             {_boot_weight_sql(_BOOT_U_SQL)} AS w,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v
      FROM orders CROSS JOIN reps r
    ),
    means AS (
      SELECT b,
             round(CAST(sum(w * v) AS DOUBLE) / sum(w), 4) AS m
      FROM weighted GROUP BY b
    ),
    ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM means
    )
    SELECT CAST(count(*) AS BIGINT)                       AS n_replicas,
           round(avg(m), 4)                               AS boot_mean,
           min(CASE WHEN rk = 2 THEN m END)               AS ci_lo,
           min(CASE WHEN rk = {BOOT_B - 1} THEN m END)    AS ci_hi
    FROM ranked
    """,
    doc=f"Poisson bootstrap confidence interval of the mean order value, B={BOOT_B} "
    "replicas: each row's multiplicity in replica b is Poisson(1) via inverse-CDF "
    "over a keyed md5-uniform — the distributed bootstrap (no multinomial "
    "coordination; each row decides independently, so the replicate pass is one "
    f"scan crossed with a {BOOT_B}-row broadcast range). CI bounds are exact order "
    "statistics (ranks 2 and B-1 ~ the 5th/95th percentile of 32), fully "
    "deterministic on both engines. Money sums ride the int64 fixed-point path; "
    f"cost at 100 TB is {BOOT_B} partial-agg passes fused into one scan — the "
    "standard price of a bootstrap, with B-bounded state (north-star "
    "pipeline / statistics)",
    tags=("pipeline", "agg"),
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from http_datafusion_spark.functions.fixedpoint import i100

    o = load_tables(spark, sf_dir, "orders")["orders"]
    reps = spark.range(BOOT_B).select(F.col("id").cast("bigint").alias("b"))
    u = (
        (
            md5_int(
                F.concat(
                    F.lit(f"{BOOT_SALT}|"),
                    F.col("b").cast("string"),
                    F.lit("|"),
                    F.col("o_orderkey").cast("string"),
                )
            )
            % 1000000
        )
        + 0.5
    ) / 1000000.0
    w = (
        F.when(u < _POIS_CDF[0], 0)
        .when(u < _POIS_CDF[1], 1)
        .when(u < _POIS_CDF[2], 2)
        .when(u < _POIS_CDF[3], 3)
        .otherwise(4)
    )
    weighted = o.crossJoin(F.broadcast(reps)).select(
        "b", w.alias("w"), i100("o_totalprice").alias("v100")
    )
    means = weighted.groupBy("b").agg(
        F.round(
            (F.sum(F.col("w") * F.col("v100")).cast("decimal(38,0)")
             / F.lit(100).cast("decimal(8,0)")).cast("double")
            / F.sum("w"),
            4,
        ).alias("m")
    )
    rk = F.row_number().over(W.orderBy("m", "b"))
    ranked = means.select("m", "b", rk.alias("rk"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicas"),
        F.round(F.avg("m"), 4).alias("boot_mean"),
        F.min(F.when(F.col("rk") == 2, F.col("m"))).alias("ci_lo"),
        F.min(F.when(F.col("rk") == BOOT_B - 1, F.col("m"))).alias("ci_hi"),
    )


# --------------------------------------------- leave-one-out target encoding

TENC_ROUND = 4


@query(
    "feature_target_encode",
    oracle=f"""
    WITH seg AS (
      SELECT c_mktsegment AS segment,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    )
    SELECT o.o_orderkey AS orderkey,
           c.c_mktsegment AS segment,
           round(CAST(seg.s - CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                 / (seg.n - 1), {TENC_ROUND}) AS loo_segment_mean
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN seg ON c.c_mktsegment = seg.segment
    """,
    doc="leave-one-out target encoding — the leakage-safe categorical feature: "
    "each order's market segment is encoded as the segment's mean order value "
    "EXCLUDING the order itself ((sum - self)/(n - 1)), so the feature never "
    "contains its own target — naive target encoding is the classic subtle "
    "leak LOO closes. Exact: money rides the decimal/int64 fixed-point path, "
    "the LOO subtraction is decimal, one double divide at the end. Plan: one "
    "per-segment partial-agg shuffle, then the (|segments|-row) stats and the "
    "customer dim broadcast back over a single fact scan — the fact table "
    "never re-shuffles (north-star pipeline / feature engineering)",
    tags=("pipeline", "agg"),
)
def feature_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    dim = t["customer"].select("c_custkey", "c_mktsegment")
    o = (
        t["orders"]
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey",
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        )
    )
    seg = o.groupBy("segment").agg(
        F.sum("v").cast("decimal(38,2)").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return o.join(F.broadcast(seg), "segment").select(
        F.col("o_orderkey").alias("orderkey"),
        "segment",
        F.round((F.col("s") - F.col("v")).cast("double") / (F.col("n") - 1), TENC_ROUND)
        .alias("loo_segment_mean"),
    )


# ----------------------------------------------- chi-square independence test


@query(
    "segment_chisquare",
    oracle="""
    WITH obs AS (
      SELECT c_mktsegment AS seg, o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS o
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM obs),
    rowt AS (SELECT seg, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
    colt AS (SELECT pri, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
    terms AS (
      SELECT CAST(round(
               (obs.o - (rowt.rt * colt.ct * 1.0 / tot.t))
             * (obs.o - (rowt.rt * colt.ct * 1.0 / tot.t))
             / (rowt.rt * colt.ct * 1.0 / tot.t), 6) AS DECIMAL(18,6)) AS term
      FROM obs JOIN rowt USING (seg) JOIN colt USING (pri) CROSS JOIN tot
    )
    SELECT CAST((SELECT count(*) FROM rowt) AS BIGINT)  AS n_rows_cat,
           CAST((SELECT count(*) FROM colt) AS BIGINT)  AS n_cols_cat,
           CAST(((SELECT count(*) FROM rowt) - 1)
              * ((SELECT count(*) FROM colt) - 1) AS BIGINT) AS dof,
           CAST(sum(term) AS DOUBLE)                    AS chi2
    FROM terms
    """,
    doc="chi-square independence test between market segment and order priority "
    "— the categorical-association audit a feature-selection / drift pipeline "
    "runs before trusting a crosstab: observed (seg, pri) counts vs "
    "expected = row_total*col_total/N, chi2 = sum((o-e)^2/e) with per-cell "
    "terms 6dp-quantized then decimal-summed (order-independent), dof emitted "
    "for the caller's p-value lookup. One partial-agg shuffle to the "
    "cells; the marginals are cell-bounded broadcasts; output is one row at "
    "any scale (north-star statistics)",
    tags=("pipeline", "agg"),
)
def segment_chisquare(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    dim = t["customer"].select("c_custkey", "c_mktsegment")
    obs = (
        t["orders"]
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        # seg x pri cells (~25 rows) feeding four branches; unpinned,
        # each re-derived the orders scan (6x).
        .transform(pin)
    )
    tot = obs.agg(F.sum("o").cast("bigint").alias("t"))
    rowt = obs.groupBy("seg").agg(F.sum("o").cast("bigint").alias("rt"))
    colt = obs.groupBy("pri").agg(F.sum("o").cast("bigint").alias("ct"))
    e = F.col("rt") * F.col("ct") * 1.0 / F.col("t")
    terms = (
        obs.join(F.broadcast(rowt), "seg")
        .join(F.broadcast(colt), "pri")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round((F.col("o") - e) * (F.col("o") - e) / e, 6)
            .cast("decimal(18,6)")
            .alias("term")
        )
    )
    nr = rowt.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows_cat"))
    ncol = colt.agg(F.count(F.lit(1)).cast("bigint").alias("n_cols_cat"))
    return (
        terms.agg(F.sum("term").cast("double").alias("chi2"))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(ncol))
        .select(
            "n_rows_cat",
            "n_cols_cat",
            ((F.col("n_rows_cat") - 1) * (F.col("n_cols_cat") - 1)).cast("bigint").alias("dof"),
            "chi2",
        )
    )


# -------------------------------------------------- 3-step journey paths

PATH_TOPK = 15


@query(
    "events_path_3gram",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      FROM events
    )
    SELECT e1, e2, e3,
           CAST(count(*) AS BIGINT)               AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1, e2, e3 LIMIT {PATH_TOPK}
    """,
    doc=f"top-{PATH_TOPK} 3-step journey paths: sliding window of three "
    "consecutive event types per user (double lead over the per-user "
    "event-time order) with path counts and distinct travellers — the Sankey/"
    "flow input one step beyond the first-order Markov matrix "
    "(events_markov_transitions), catching patterns the memoryless model "
    "can't (view->click->purchase vs view->click->view). One shuffle on "
    "user_id feeds both leads; the path agg is |types|^3-bounded; top-k "
    "fuses to TakeOrderedAndProject (north-star events / journey modeling)",
    tags=("events", "window"),
)
def events_path_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load_tables(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(PATH_TOPK)
    )


# ------------------------------------------------ percentile winsorization


@query(
    "feature_winsorize",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice AS v,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rk,
             count(*) OVER () AS n
      FROM orders
    ),
    cuts AS (
      SELECT min(CASE WHEN rk = CAST(ceil(0.01 * n) AS BIGINT) THEN v END) AS p01,
             min(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT) THEN v END) AS p99
      FROM ranked
    )
    SELECT CAST(count(*) AS BIGINT)                                   AS n_rows,
           CAST(sum(CASE WHEN v < p01 THEN 1 ELSE 0 END) AS BIGINT)   AS n_clipped_lo,
           CAST(sum(CASE WHEN v > p99 THEN 1 ELSE 0 END) AS BIGINT)   AS n_clipped_hi,
           round(CAST(sum(CAST(least(greatest(v, p01), p99)
                               AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS winsorized_mean,
           p01, p99
    FROM ranked CROSS JOIN cuts
    GROUP BY p01, p99
    """,
    doc="percentile winsorization — the robust-feature clip every tabular ML "
    "pipeline applies before scaling: exact p01/p99 cut points as rank-at-"
    "ceil(q*n) order statistics (engine-exact where interpolated percentiles "
    "are not), values clipped into [p01, p99], clipped-row counts and the "
    "winsorized mean (exact decimal sum) reported with the cuts. The cuts "
    "come from the DISTRIBUTED exact-rank plan (functions/ordstats.py: sketch "
    "boundaries -> bucket counts -> bucket-partitioned local rank) — no "
    "single-partition sort anywhere, plan-asserted; the clip itself is "
    "map-side against two literal scalars "
    "(north-star pipeline / feature engineering)",
    tags=("pipeline", "agg"),
)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from http_datafusion_spark.functions.ordstats import exact_rank_values

    o = load_tables(spark, sf_dir, "orders")["orders"]
    v = o.select(F.col("o_totalprice").alias("v"), F.col("o_orderkey").alias("k"))
    n = v.count()
    rk_lo, rk_hi = math.ceil(0.01 * n), math.ceil(0.99 * n)
    cuts = exact_rank_values(v, "v", "k", [rk_lo, rk_hi])
    p01, p99 = cuts[rk_lo], cuts[rk_hi]
    clipped = F.least(F.greatest(F.col("v"), F.lit(p01)), F.lit(p99))
    return v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum((F.col("v") < p01).cast("int")).cast("bigint").alias("n_clipped_lo"),
        F.sum((F.col("v") > p99).cast("int")).cast("bigint").alias("n_clipped_hi"),
        F.round(
            F.sum(clipped.cast("decimal(18,2)")).cast("double") / F.count(F.lit(1)), 4
        ).alias("winsorized_mean"),
        F.lit(p01).alias("p01"),
        F.lit(p99).alias("p99"),
    )


# ------------------------------------------------------ Benford digit audit


@query(
    "orders_benford_audit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM orders WHERE o_totalprice >= 1
      GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM digits)
    SELECT d, n,
           round(n * 1.0 / t, 6)              AS observed_freq,
           round(log10(1.0 + 1.0 / d), 6)     AS benford_freq,
           round(n * 1.0 / t - round(log10(1.0 + 1.0 / d), 6), 6) AS deviation
    FROM digits CROSS JOIN tot
    """,
    doc="Benford's-law first-digit audit of order values — the classic "
    "fabricated-data / corrupted-feed detector a data-quality pipeline runs on "
    "money columns: observed leading-digit frequencies vs log10(1 + 1/d), with "
    "per-digit deviations (a chi-square over these cells is segment_chisquare's "
    "shape). The digit extraction truncates to integer first so floating "
    "formatting can never leak into the digit (both engines take the same "
    "substr of the same integer string). One partial-agg shuffle to 9 cells; "
    "output digit-bounded (north-star statistics / data quality)",
    tags=("pipeline", "agg"),
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    d = F.substring(F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1).cast("bigint")
    digits = (
        o.filter(F.col("o_totalprice") >= 1)
        .groupBy(d.alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = digits.agg(F.sum("n").cast("bigint").alias("t"))
    benford = F.round(F.log10(1.0 + 1.0 / F.col("d")), 6)
    return (
        digits.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            F.round(F.col("n") * 1.0 / F.col("t"), 6).alias("observed_freq"),
            benford.alias("benford_freq"),
            F.round(F.col("n") * 1.0 / F.col("t") - benford, 6).alias("deviation"),
        )
    )


# ---------------------------------------- trailing-window features (PIT-safe)

TRAIL_DAYS = 90


@query(
    "feature_trailing_90d",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(epoch(o_orderdate) / 86400 AS BIGINT) AS day,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v
      FROM orders
    )
    SELECT o_orderkey AS orderkey,
           CAST(count(*) OVER w - 1 AS BIGINT)                 AS n_prior_orders_90d,
           CAST(round(CAST(sum(v) OVER w - v AS DOUBLE), 2) AS DOUBLE) AS prior_spend_90d
    FROM base
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                 RANGE BETWEEN {TRAIL_DAYS} PRECEDING AND CURRENT ROW)
    """,
    doc=f"trailing-{TRAIL_DAYS}-day point-in-time features: for every order, the "
    "customer's prior order count and spend within the trailing window — THE "
    "feature-store shape (recommendation/credit features), leakage-safe because "
    "the RANGE frame ends at the current row and the row's own contribution is "
    "subtracted (same-day siblings do remain visible — RANGE groups peers; a "
    "stricter variant keys the frame on a unique event sequence). Exact: money "
    "in decimal, day arithmetic in integers. One shuffle on customer feeding a "
    "single range-frame window — per-key state is the window buffer, never the "
    "history (north-star pipeline / feature engineering; SURVEY §2.5 RANGE "
    "frames applied)",
    tags=("pipeline", "window"),
)
def feature_trailing_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    o = load_tables(spark, sf_dir, "orders")["orders"]
    base = o.select(
        "o_orderkey",
        "o_custkey",
        (F.unix_timestamp("o_orderdate") / 86400).cast("bigint").alias("day"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-TRAIL_DAYS, 0)
    )
    return base.select(
        F.col("o_orderkey").alias("orderkey"),
        (F.count(F.lit(1)).over(w) - 1).cast("bigint").alias("n_prior_orders_90d"),
        F.round((F.sum("v").over(w) - F.col("v")).cast("double"), 2).alias(
            "prior_spend_90d"
        ),
    )


# ---------------------------------------------------- survival / retention

SURV_HORIZON = 12  # months


@query(
    "customer_survival_curve",
    oracle=f"""
    WITH life AS (
      SELECT o_custkey,
             least(max(year(o_orderdate) * 12 + month(o_orderdate))
                   - min(year(o_orderdate) * 12 + month(o_orderdate)),
                   {SURV_HORIZON}) AS lm
      FROM orders GROUP BY 1
    ),
    hist AS (SELECT lm, CAST(count(*) AS BIGINT) AS n FROM life GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM life),
    grid AS (SELECT CAST(k AS BIGINT) AS k FROM range({SURV_HORIZON + 1}) g(k))
    SELECT k AS month_k,
           CAST(sum(CASE WHEN h.lm >= g.k THEN h.n ELSE 0 END) AS BIGINT)
             AS n_surviving,
           round(sum(CASE WHEN h.lm >= g.k THEN h.n ELSE 0 END) * 1.0 / max(t.t), 6)
             AS survival_frac
    FROM grid g CROSS JOIN hist h CROSS JOIN tot t
    GROUP BY g.k
    """,
    doc=f"customer survival curve (Kaplan-Meier shape, no censoring in this "
    f"closed dataset): lifetime = months between first and last order, capped "
    f"at {SURV_HORIZON}; survival(k) = fraction of customers whose lifetime "
    "reaches month k — the retention curve a subscription/engagement team "
    "reads (orders_cohort_matrix is its per-cohort decomposition). One "
    "customer-keyed agg shuffle to lifetimes, then everything is months-"
    "bounded: the histogram x grid product is "
    f"~{SURV_HORIZON + 1}x{SURV_HORIZON + 1} rows at any corpus size "
    "(north-star statistics / retention)",
    tags=("pipeline", "agg"),
)
def customer_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    midx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    life = o.groupBy("o_custkey").agg(
        F.least(F.max(midx) - F.min(midx), F.lit(SURV_HORIZON)).alias("lm")
    )
    hist = life.groupBy("lm").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = life.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    grid = spark.range(SURV_HORIZON + 1).select(F.col("id").cast("bigint").alias("k"))
    surviving = F.sum(F.when(F.col("lm") >= F.col("k"), F.col("n")).otherwise(0))
    return (
        grid.crossJoin(F.broadcast(hist))
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            surviving.cast("bigint").alias("n_surviving"),
            F.round(surviving * 1.0 / F.max("t"), 6).alias("survival_frac"),
        )
        .select(F.col("k").alias("month_k"), "n_surviving", "survival_frac")
    )


# ---------------------------------------------------- price index (Laspeyres)

PRICE_INDEX_BASE_YEAR = 1995


@query(
    "orders_price_index",
    oracle=f"""
    WITH li AS (
      SELECT l_partkey,
             CAST(year(l_shipdate) AS BIGINT) AS yr,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qty,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice / l_quantity AS DECIMAL(18,6)))
                  AS DECIMAL(38,8)) AS spend
      FROM lineitem GROUP BY 1, 2
    ),
    base AS (
      SELECT l_partkey, qty AS q0,
             CAST(round(CAST(spend AS DOUBLE) / CAST(qty AS DOUBLE), 10)
                  AS DECIMAL(38,10)) AS p0
      FROM li WHERE yr = {PRICE_INDEX_BASE_YEAR} AND qty > 0
    ),
    cur AS (
      SELECT l.l_partkey, l.yr,
             CAST(round(CAST(l.spend AS DOUBLE) / CAST(l.qty AS DOUBLE), 10)
                  AS DECIMAL(38,10)) AS pt,
             b.q0, b.p0
      FROM li l JOIN base b ON l.l_partkey = b.l_partkey
      WHERE l.qty > 0
    )
    SELECT yr,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(pt * q0) AS DOUBLE) / CAST(sum(p0 * q0) AS DOUBLE), 6)
             AS laspeyres_index
    FROM cur GROUP BY yr
    """,
    doc=f"Laspeyres price index by ship year (base {PRICE_INDEX_BASE_YEAR}): "
    "sum(p_t*q_0)/sum(p_0*q_0) over the parts traded in both periods — the "
    "inflation-adjusted price tracking an assortment/procurement team runs. "
    "Unit prices are DOUBLE divisions rounded at 10dp then re-quantized to "
    "decimal — decimal '/' semantics differ between engines (DuckDB promotes "
    "to DOUBLE, Spark divides in decimal), so parity comes from IEEE division "
    "plus a fixed rounding grid, not from decimal semantics. Basket weights "
    "are the base year's quantities, and both index sums are exact decimals "
    "divided once at the end. One (part, year) rollup shuffle, then the "
    "part-keyed base join — parts-bounded relations only "
    "(north-star statistics / econ analytics)",
    tags=("agg", "join"),
)
def orders_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li_raw = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    li = (
        li_raw.groupBy(
            "l_partkey", F.year("l_shipdate").cast("bigint").alias("yr")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("qty"),
            F.sum(
                F.col("l_quantity").cast("decimal(18,2)")
                * (F.col("l_extendedprice") / F.col("l_quantity")).cast("decimal(18,6)")
            ).cast("decimal(38,8)").alias("spend"),
        )
    )
    unit_price = F.round(
        F.col("spend").cast("double") / F.col("qty").cast("double"), 10
    ).cast("decimal(38,10)")
    base = li.filter(
        (F.col("yr") == PRICE_INDEX_BASE_YEAR) & (F.col("qty") > 0)
    ).select(
        "l_partkey",
        F.col("qty").alias("q0"),
        unit_price.alias("p0"),
    )
    cur = (
        li.filter(F.col("qty") > 0)
        .join(base, "l_partkey")
        .select(
            "yr",
            unit_price.alias("pt"),
            "q0",
            "p0",
        )
    )
    return cur.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.round(
            F.sum(F.col("pt") * F.col("q0")).cast("double")
            / F.sum(F.col("p0") * F.col("q0")).cast("double"),
            6,
        ).alias("laspeyres_index"),
    )


# ----------------------------------------------- bot / automation detection

BOT_TYPES_REF = 5  # alphabet size for max-entropy normalization


@query(
    "events_bot_detection",
    oracle="""
    WITH per_event AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    ),
    type_counts AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    totals AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM type_counts GROUP BY 1),
    entropy AS (
      SELECT t.user_id,
             CAST(max(tt.n) AS BIGINT) AS n_events,
             round(CAST(sum(CAST(round(-(t.c * 1.0 / tt.n) * log2(t.c * 1.0 / tt.n), 6)
                       AS DECIMAL(18,6))) AS DOUBLE), 6) AS type_entropy
      FROM type_counts t JOIN totals tt USING (user_id)
      GROUP BY t.user_id
    ),
    regularity AS (
      SELECT user_id,
             round(CAST(sum(CAST(gap AS DECIMAL(18,0))) AS DOUBLE)
                   / count(gap), 4) AS mean_gap,
             CAST(count(DISTINCT CAST(round(gap / 60.0) AS BIGINT)) AS BIGINT)
               AS distinct_gap_minutes
      FROM per_event WHERE gap IS NOT NULL
      GROUP BY user_id
    )
    SELECT e.user_id, e.n_events, e.type_entropy,
           r.mean_gap, r.distinct_gap_minutes,
           (e.type_entropy > 2.2 AND r.distinct_gap_minutes <= 3) AS bot_suspect
    FROM entropy e JOIN regularity r ON e.user_id = r.user_id
    """,
    doc="bot/automation detection heuristics per user: behavioral type entropy "
    "(a scripted client cycling uniformly through event types maxes it out), "
    "mean inter-event gap and the DIVERSITY of gap minutes (a cron-like client "
    "has a near-constant gap -> few distinct values) — flag = high entropy AND "
    "low gap diversity, the two-signal rule that neither alone supports (a "
    "power user has high entropy but diverse gaps). Entropy terms quantize to "
    "decimals (order-independent); everything is per-user keyed — one lag "
    "window + two partial-agg shuffles on user_id, no global state "
    "(north-star events / abuse detection)",
    tags=("events", "window", "agg"),
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    # The shared 4-column events projection feeding the gap window +
    # type counts stays unpinned: a fact_scale persist measured sf5
    # 2.274 -> 2.183 s (-4%, noise), sf0.1 0.515 -> 0.771 s (+50%) on 32
    # cores — two pushed narrow scans beat cache build+read at every
    # measured scale.
    e = load_tables(spark, sf_dir, "events")["events"]
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(wseq)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    regularity = gaps.groupBy("user_id").agg(
        F.round(
            F.sum(F.col("gap").cast("decimal(18,0)")).cast("double") / F.count("gap"),
            4,
        ).alias("mean_gap"),
        F.countDistinct(F.round(F.col("gap") / 60.0).cast("bigint"))
        .cast("bigint")
        .alias("distinct_gap_minutes"),
    )
    tc = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wu = W.partitionBy("user_id")
    p = F.col("c") * 1.0 / F.sum("c").over(wu)
    terms = tc.select(
        "user_id",
        "c",
        F.round(-p * F.log2(p), 6).cast("decimal(18,6)").alias("term"),
    )
    entropy = terms.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.round(F.sum("term").cast("double"), 6).alias("type_entropy"),
    )
    return entropy.join(regularity, "user_id").select(
        "user_id",
        "n_events",
        "type_entropy",
        "mean_gap",
        "distinct_gap_minutes",
        (
            (F.col("type_entropy") > 2.2) & (F.col("distinct_gap_minutes") <= 3)
        ).alias("bot_suspect"),
    )


# ------------------------------------------------------- Gini coefficient


@query(
    "orders_gini_coefficient",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS rk FROM per_cust
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           round(
             2.0 * CAST(sum(CAST(rk AS DECIMAL(38,0)) * rev) AS DOUBLE)
               / (count(*) * CAST(sum(rev) AS DOUBLE))
             - (count(*) + 1.0) / count(*), 6) AS gini
    FROM ranked
    """,
    doc="Gini coefficient of customer revenue — the inequality scalar behind "
    "the Pareto report (orders_pareto_analysis shows the curve; this is its "
    "area statistic): G = 2*sum(i*x_(i))/(n*sum(x)) - (n+1)/n over ascending-"
    "ranked revenues. The rank comes from the DISTRIBUTED global-rank plan "
    "(functions/ordstats — no single-partition sort of the customer rollup); "
    "rank-weighted revenue sums are exact decimals, one double division at "
    "the end (north-star statistics / concentration)",
    tags=("agg", "window"),
)
def orders_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.ordstats import bucketed_global_rank

    o = load_tables(spark, sf_dir, "orders")["orders"]
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("rev")
        )
        .withColumn("rev_d", F.col("rev").cast("double"))
        .transform(pin)
    )
    ranked = bucketed_global_rank(per_cust, "rev_d", ["o_custkey"], "rk")
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(
            2.0
            * F.sum(F.col("rk").cast("decimal(38,0)") * F.col("rev")).cast("double")
            / (F.count(F.lit(1)) * F.sum("rev").cast("double"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------- attribution model compare

ATTR_WINDOW_SEC = 3600  # touches within the hour before a purchase


@query(
    "attribution_models_compare",
    oracle=f"""
    WITH purchases AS (
      SELECT user_id, event_id AS conv_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT p.conv_id, e.event_type AS channel,
             CAST(floor(epoch(e.ts)) AS BIGINT) AS tt, e.event_id
      FROM purchases p
      JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type IN ('view', 'click')
       AND CAST(floor(epoch(e.ts)) AS BIGINT) < p.pt
       AND p.pt - CAST(floor(epoch(e.ts)) AS BIGINT) <= {ATTR_WINDOW_SEC}
    ),
    ranked AS (
      SELECT conv_id, channel,
             row_number() OVER (PARTITION BY conv_id ORDER BY tt, event_id)       AS rk_first,
             row_number() OVER (PARTITION BY conv_id ORDER BY tt DESC, event_id DESC) AS rk_last,
             count(*)     OVER (PARTITION BY conv_id)                             AS n_touches
      FROM touches
    )
    SELECT channel,
           CAST(sum(CASE WHEN rk_first = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
           CAST(sum(CASE WHEN rk_last = 1 THEN 1 ELSE 0 END) AS BIGINT)  AS last_touch,
           round(CAST(sum(CAST(round(1.0 / n_touches, 6) AS DECIMAL(18,6)))
                 AS DOUBLE), 4)                                          AS linear_credit
    FROM ranked GROUP BY channel
    """,
    doc="multi-touch attribution model comparison: for every purchase, the "
    f"user's view/click touches in the prior {ATTR_WINDOW_SEC // 60} minutes "
    "are credited under FIRST-touch, LAST-touch, and LINEAR (1/n per touch) "
    "rules side by side — the report a marketing team reads before picking a "
    "model, and the input a Shapley method refines. Linear credits quantize "
    "to decimals (order-independent sums). Touch collection is a per-user "
    "co-keyed join windowed by the tolerance (the asof_join_click_purchase "
    "machinery generalized to many-per-conversion); ranking windows partition "
    "by conversion id — bounded by touches-per-purchase "
    "(north-star events / attribution)",
    tags=("events", "window", "join"),
)
def attribution_models_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load_tables(spark, sf_dir, "events")["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("conv_id"),
        F.unix_timestamp("ts").cast("bigint").alias("pt"),
    )
    touches = (
        e.filter(F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            F.col("event_type").alias("channel"),
            F.unix_timestamp("ts").cast("bigint").alias("tt"),
            "event_id",
        )
        .join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("tt") < F.col("pt"))
            & (F.col("pt") - F.col("tt") <= ATTR_WINDOW_SEC),
        )
    )
    wf = W.partitionBy("conv_id").orderBy("tt", "event_id")
    wl = W.partitionBy("conv_id").orderBy(F.desc("tt"), F.desc("event_id"))
    wc = W.partitionBy("conv_id")
    ranked = touches.select(
        "conv_id",
        "channel",
        F.row_number().over(wf).alias("rk_first"),
        F.row_number().over(wl).alias("rk_last"),
        F.count(F.lit(1)).over(wc).alias("n_touches"),
    )
    return ranked.groupBy("channel").agg(
        F.sum((F.col("rk_first") == 1).cast("int")).cast("bigint").alias("first_touch"),
        F.sum((F.col("rk_last") == 1).cast("int")).cast("bigint").alias("last_touch"),
        F.round(
            F.sum(F.round(1.0 / F.col("n_touches"), 6).cast("decimal(18,6)")).cast("double"),
            4,
        ).alias("linear_credit"),
    )


# ------------------------------------------- duplicate-invoice detection

DUPINV_DAYS = 30  # same customer, same amount band, within a month
DUPINV_BAND = 10_000  # amount band width


@query(
    "orders_duplicate_invoice_detect",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS amt,
             CAST(floor(o_totalprice / {DUPINV_BAND}) AS BIGINT) AS band,
             CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day
      FROM orders
    )
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           CAST(a.amt AS DOUBLE) AS amount_a,
           CAST(b.amt AS DOUBLE) AS amount_b,
           CAST(abs(b.day - a.day) AS BIGINT) AS days_apart
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.band = b.band
     AND a.o_orderkey < b.o_orderkey
     AND abs(b.day - a.day) <= {DUPINV_DAYS}
    """,
    doc=f"suspicious-invoice detection — the accounts-payable fraud/ops "
    f"control: pairs of orders from the SAME customer with amounts in the "
    f"same {DUPINV_BAND}-unit band within {DUPINV_DAYS} days (double "
    "submissions, retried or split charges). The self-join is BLOCKED on "
    "(customer, amount band) — an equi-join that shuffles by the compound "
    "key, so candidates are O(sum block^2) over same-band same-customer "
    "groups, never all-pairs; the day window is a residual predicate on the "
    "block. The fuzzy_join_blocked pattern applied to transactions; exact "
    "amounts ride along as decimals for the reviewer "
    "(north-star pipeline / financial controls)",
    tags=("join", "pipeline"),
)
def orders_duplicate_invoice_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).cast("decimal(18,2)").alias("amt"),
        F.floor(F.col("o_totalprice") / DUPINV_BAND).cast("bigint").alias("band"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("bigint").alias("day"),
    )
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.abs(F.col("b.day") - F.col("a.day")) <= DUPINV_DAYS),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.amt").cast("double").alias("amount_a"),
            F.col("b.amt").cast("double").alias("amount_b"),
            F.abs(F.col("b.day") - F.col("a.day")).cast("bigint").alias("days_apart"),
        )
    )


# ------------------------------------------------- HHI concentration


@query(
    "supplier_concentration_hhi",
    oracle="""
    WITH spend AS (
      SELECT p.p_type, l.l_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice, 2) AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS s
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT p_type, CAST(sum(s) AS DECIMAL(38,2)) AS t FROM spend GROUP BY 1),
    shares AS (
      SELECT sp.p_type,
             CAST(round(10000.0 * (CAST(sp.s AS DOUBLE) / CAST(tt.t AS DOUBLE))
                              * (CAST(sp.s AS DOUBLE) / CAST(tt.t AS DOUBLE)), 8)
                  AS DECIMAL(18,8)) AS term
      FROM spend sp JOIN tot tt ON sp.p_type = tt.p_type
    )
    SELECT p_type,
           CAST(count(*) AS BIGINT)              AS n_suppliers,
           round(CAST(sum(term) AS DOUBLE), 4)   AS hhi
    FROM shares GROUP BY p_type
    """,
    doc="supplier-concentration HHI per part category: the Herfindahl-"
    "Hirschman index (sum of squared market shares x 10000 — the antitrust/"
    "supply-chain-risk scale where >2500 is 'highly concentrated') over each "
    "supplier's spend share within the category. Spend sums are exact "
    "decimals; share-squared terms quantize then decimal-sum (order-"
    "independent). One (category, supplier) rollup shuffle; everything after "
    "is category-bounded (north-star statistics / supply-chain risk — the "
    "supplier-side dual of orders_gini_coefficient's customer view)",
    tags=("agg", "join"),
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    spend = (
        t["lineitem"]
        # part grows ~200k x SF — hint-free join, AQE decides at runtime
        .join(t["part"].select("p_partkey", "p_type"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "l_suppkey")
        .agg(
            F.sum(F.round("l_extendedprice", 2).cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("s")
        )
    )
    tot = spend.groupBy("p_type").agg(F.sum("s").cast("decimal(38,2)").alias("t"))
    share = F.col("s").cast("double") / F.col("t").cast("double")
    shares = spend.join(F.broadcast(tot), "p_type").select(
        "p_type",
        F.round(10000.0 * share * share, 8).cast("decimal(18,8)").alias("term"),
    )
    return shares.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.round(F.sum("term").cast("double"), 4).alias("hhi"),
    )


# ---------------------------------------------- Markov model evaluation


@query(
    "markov_next_event_eval",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    pairs AS (SELECT cur, nxt FROM seq WHERE nxt IS NOT NULL),
    trans AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2
    ),
    model AS (
      SELECT cur, nxt AS pred
      FROM (SELECT cur, nxt, row_number() OVER (PARTITION BY cur
                                                ORDER BY c DESC, nxt) AS rk
            FROM trans)
      WHERE rk = 1
    )
    SELECT p.cur AS state,
           CAST(count(*) AS BIGINT) AS n_transitions,
           m.pred AS predicted_next,
           CAST(sum(CASE WHEN p.nxt = m.pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           round(sum(CASE WHEN p.nxt = m.pred THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS accuracy
    FROM pairs p JOIN model m ON p.cur = m.cur
    GROUP BY p.cur, m.pred
    """,
    doc="first-order Markov model EVALUATION — closing the journey-modeling arc "
    "(events_markov_transitions trains the matrix; this grades it): the argmax "
    "next-event prediction per state is scored against every observed "
    "transition, yielding per-state accuracy — the baseline every sequence "
    "model must beat, and the readout that says whether user behavior is "
    "predictable at all. In-sample by design (the harness has one corpus); a "
    "production eval swaps the pairs relation for a held-out split "
    "(train_split_temporal provides it). The model is states-bounded and "
    "broadcasts; transitions shuffle once on user_id for the lead, once on "
    "state for the score (north-star events / model evaluation)",
    tags=("events", "window", "agg"),
)
def markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load_tables(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .select("cur", "nxt")
    )
    trans = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wm = W.partitionBy("cur").orderBy(F.desc("c"), "nxt")
    model = (
        trans.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("pred"))
    )
    hit = F.sum((F.col("nxt") == F.col("pred")).cast("int"))
    return (
        pairs.join(F.broadcast(model), "cur")
        .groupBy(F.col("cur").alias("state"), F.col("pred").alias("predicted_next"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            hit.cast("bigint").alias("n_correct"),
            F.round(hit * 1.0 / F.count(F.lit(1)), 6).alias("accuracy"),
        )
        .select("state", "n_transitions", "predicted_next", "n_correct", "accuracy")
    )


# ------------------------------------------------ discount elasticity

DISC_BAND = 0.02  # discount bands of 2 percentage points


@query(
    "discount_elasticity",
    oracle=f"""
    WITH banded AS (
      SELECT CAST(floor(l_discount / {DISC_BAND}) AS BIGINT) AS band,
             CAST(round(l_quantity, 2) AS DECIMAL(18,2)) AS q
      FROM lineitem
    ),
    cells AS (
      SELECT band,
             CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(q) AS DOUBLE) / count(*), 6) AS avg_qty
      FROM banded GROUP BY band
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             round((count(*) * sum(CAST(round(band * avg_qty, 6) AS DECIMAL(28,6)))
                    - sum(band) * sum(CAST(round(avg_qty, 6) AS DECIMAL(28,6))))
                   / (count(*) * sum(CAST(band * band AS DECIMAL(28,0)))
                      - sum(band) * sum(band)), 6) AS slope
      FROM cells
    )
    SELECT c.band, c.n, c.avg_qty, f.slope AS qty_per_band_slope
    FROM cells c CROSS JOIN fit f
    """,
    doc=f"discount elasticity: average line quantity per {DISC_BAND:.0%}-wide "
    "discount band plus the least-squares slope of avg quantity vs band — the "
    "does-discounting-move-volume readout a pricing team checks before deeper "
    "modeling (the closed-form regression is the text_zipf_fit discipline on "
    "an econ axis). Quantities sum as exact decimals; the regression runs over "
    "the bands-bounded cell table; slope is broadcast back onto each band row "
    "(north-star statistics / pricing analytics)",
    tags=("agg",),
)
def discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    banded = li.select(
        F.floor(F.col("l_discount") / DISC_BAND).cast("bigint").alias("band"),
        F.round("l_quantity", 2).cast("decimal(18,2)").alias("q"),
    )
    cells = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("q").cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
    )
    k = F.count(F.lit(1))
    sxy = F.sum(F.round(F.col("band") * F.col("avg_qty"), 6).cast("decimal(28,6)"))
    sy = F.sum(F.round(F.col("avg_qty"), 6).cast("decimal(28,6)"))
    sx = F.sum("band")
    sxx = F.sum((F.col("band") * F.col("band")).cast("decimal(28,0)"))
    fit = cells.agg(
        F.round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6).alias("slope")
    )
    return cells.crossJoin(F.broadcast(fit)).select(
        "band", "n", "avg_qty", F.col("slope").alias("qty_per_band_slope")
    )


# ------------------------------------------------ price-volume-mix bridge

PVM_Y0, PVM_Y1 = 1996, 1997


@query(
    "revenue_bridge_pvm",
    oracle=f"""
    WITH yearly AS (
      SELECT p.p_type,
             CAST(year(l.l_shipdate) AS BIGINT) AS yr,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qty,
             CAST(sum(CAST(round(l.l_extendedprice, 2) AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE year(l.l_shipdate) IN ({PVM_Y0}, {PVM_Y1})
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT p_type,
             max(CASE WHEN yr = {PVM_Y0} THEN qty END) AS q0,
             max(CASE WHEN yr = {PVM_Y0} THEN rev END) AS r0,
             max(CASE WHEN yr = {PVM_Y1} THEN qty END) AS q1,
             max(CASE WHEN yr = {PVM_Y1} THEN rev END) AS r1
      FROM yearly GROUP BY p_type
      HAVING max(CASE WHEN yr = {PVM_Y0} THEN qty END) IS NOT NULL
         AND max(CASE WHEN yr = {PVM_Y1} THEN qty END) IS NOT NULL
    )
    SELECT p_type,
           CAST(r1 - r0 AS DOUBLE)                               AS delta_rev,
           round((CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))
                 * (CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)), 4) AS volume_effect,
           round((CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                  - CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE))
                 * CAST(q1 AS DOUBLE), 4)                        AS price_effect
    FROM wide
    """,
    doc=f"revenue bridge (price-volume decomposition), {PVM_Y0} -> {PVM_Y1} per "
    "part category: delta revenue split into the volume effect (quantity change "
    "at old unit price) and price effect (unit-price change at new volume) — "
    "the waterfall every finance review opens with; the two effects sum to the "
    "delta by construction. Yearly quantity/revenue are exact decimals; unit "
    "prices divide identically on both engines; one (category, year) rollup "
    "shuffle, category-bounded after (north-star statistics / finance bridge)",
    tags=("agg", "join"),
)
def revenue_bridge_pvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    yearly = (
        t["lineitem"]
        .filter(F.year("l_shipdate").isin(PVM_Y0, PVM_Y1))
        # part grows ~200k x SF — hint-free join, AQE decides at runtime
        .join(
            t["part"].select("p_partkey", "p_type"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_type", F.year("l_shipdate").cast("bigint").alias("yr"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)").alias("qty"),
            F.sum(F.round("l_extendedprice", 2).cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("rev"),
        )
    )
    pick = lambda yr, c: F.max(F.when(F.col("yr") == yr, F.col(c)))  # noqa: E731
    wide = (
        yearly.groupBy("p_type")
        .agg(
            pick(PVM_Y0, "qty").alias("q0"),
            pick(PVM_Y0, "rev").alias("r0"),
            pick(PVM_Y1, "qty").alias("q1"),
            pick(PVM_Y1, "rev").alias("r1"),
        )
        .filter(F.col("q0").isNotNull() & F.col("q1").isNotNull())
    )
    q0d, q1d = F.col("q0").cast("double"), F.col("q1").cast("double")
    r0d, r1d = F.col("r0").cast("double"), F.col("r1").cast("double")
    return wide.select(
        "p_type",
        (F.col("r1") - F.col("r0")).cast("double").alias("delta_rev"),
        F.round((q1d - q0d) * (r0d / q0d), 4).alias("volume_effect"),
        F.round((r1d / q1d - r0d / q0d) * q1d, 4).alias("price_effect"),
    )


# ------------------------------------------- attribution window sensitivity

ATTR_SWEEP_WINDOWS = (300, 900, 1800, 3600)  # candidate windows, seconds


@query(
    "attribution_window_sweep",
    oracle=f"""
    WITH clicks AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS pid, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    first_purchase AS (
      SELECT c.event_id, min(p.pt - c.t) AS delta
      FROM clicks c JOIN purchases p
        ON c.user_id = p.user_id AND p.pt > c.t
      GROUP BY c.event_id
    ),
    windows AS (SELECT CAST(unnest(ARRAY{list(ATTR_SWEEP_WINDOWS)}) AS BIGINT) AS w),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_clicks FROM clicks)
    SELECT w.w AS window_sec,
           CAST(count(CASE WHEN f.delta <= w.w THEN 1 END) AS BIGINT) AS n_attributed,
           round(count(CASE WHEN f.delta <= w.w THEN 1 END) * 1.0 / max(t.n_clicks), 6)
             AS attribution_rate
    FROM windows w CROSS JOIN first_purchase f CROSS JOIN tot t
    GROUP BY w.w
    """,
    doc="attribution-window sensitivity sweep: for each candidate window "
    f"{ATTR_SWEEP_WINDOWS}, the fraction of clicks whose first later purchase "
    "falls inside it — the calibration curve that justifies the tolerance "
    "asof_join_click_purchase hardcodes (the dedup_minhash_threshold_sweep "
    "discipline applied to attribution: compute the per-click delta ONCE, "
    "read every window off it for free). The click->purchase join is "
    "per-user co-keyed; deltas reduce to one row per click before the "
    "windows-bounded sweep (north-star events / calibration)",
    tags=("events", "join", "agg", "bench_extra"),
)
def attribution_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")["events"]
    # clicks feed the as-of match and the denominator count. A
    # fact_scale persist of the click frame was TRIED and
    # A/B-measured SLOWER at sf0.1 and sf1 (1.41->1.63 s sf1): both
    # re-scans are pushed event_type filters over 3 pruned columns —
    # cheaper than building and reading the cache. Measured-negative
    # disposition; the re-scan stays.
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_timestamp("ts").cast("bigint").alias("t")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_timestamp("ts").cast("bigint").alias("pt")
    )
    # min(pt - t | pt > t) per click IS a forward-strict as-of match:
    # the first later purchase's time minus t. The former per-user
    # inequality join exploded pairwise (clicks x purchases per user —
    # 64 s at sf5 where replication multiplies per-user density; guide
    # §2.4 exploding joins); the union-merge as-of (operators/asof.py,
    # oracle-tested in this exact forward/strict mode by
    # asof_join_click_purchase) is one shuffle on user_id + one window,
    # O(n log n) at any density. Clicks with no later purchase drop out
    # (asof NULL), exactly like the inner join they replace.
    from http_datafusion_spark.operators.asof import asof_join

    fp = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="t",
        right_time="pt",
        payload_cols=("pt",),
        direction="forward",
        strict=True,
    )
    first_purchase = fp.filter(F.col("asof_pt").isNotNull()).select(
        "event_id", (F.col("asof_pt") - F.col("t")).alias("delta")
    )
    windows = spark.createDataFrame(
        [(w,) for w in ATTR_SWEEP_WINDOWS], "w bigint"
    )
    tot = clicks.agg(F.count(F.lit(1)).cast("bigint").alias("n_clicks"))
    hit = F.count(F.when(F.col("delta") <= F.col("w"), 1))
    return (
        F.broadcast(windows)
        .crossJoin(first_purchase)
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("w").alias("window_sec"))
        .agg(
            hit.cast("bigint").alias("n_attributed"),
            F.round(hit * 1.0 / F.max("n_clicks"), 6).alias("attribution_rate"),
        )
    )


# ------------------------------------------------- price dispersion audit

DISPERSION_TOPK = 15
DISPERSION_MIN_LINES = 5


@query(
    "part_price_dispersion",
    oracle=f"""
    WITH lines AS (
      SELECT l_partkey,
             CAST(l_extendedprice / l_quantity AS DECIMAL(18,6)) AS unit_price
      FROM lineitem WHERE l_quantity > 0
    ),
    stats AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(unit_price) AS DOUBLE)                        AS s,
             CAST(sum(CAST(round(CAST(unit_price AS DOUBLE)
                                 * CAST(unit_price AS DOUBLE), 4)
                           AS DECIMAL(28,4))) AS DOUBLE) AS ss
      FROM lines GROUP BY 1 HAVING count(*) >= {DISPERSION_MIN_LINES}
    )
    SELECT l_partkey AS partkey, n_lines,
           round(s / n_lines, 4) AS mean_unit_price,
           round(sqrt(greatest(ss - s * s / n_lines, 0) / (n_lines - 1))
                 / (s / n_lines), 6) AS price_cv
    FROM stats
    ORDER BY round(sqrt(greatest(ss - s * s / n_lines, 0) / (n_lines - 1))
                   / (s / n_lines), 6)
             DESC, l_partkey
    LIMIT {DISPERSION_TOPK}
    """,
    doc=f"unit-price dispersion audit: coefficient of variation of per-line "
    f"unit price per part (>= {DISPERSION_MIN_LINES} lines), top-"
    f"{DISPERSION_TOPK} most dispersed — the pricing-consistency / data-entry-"
    "error detector a procurement audit runs (a part selling at wildly "
    "different unit prices is a discount-policy hole or a keying mistake). "
    "Unit prices are fixed-scale decimal divisions (identical on both "
    "engines); sum/sum-of-squares are exact decimals so mean/CV are "
    "engine-identical (the ts_zscore_outliers discipline per part). One "
    "partial-agg shuffle on partkey, TakeOrdered top-k "
    "(north-star statistics / pricing audit)",
    tags=("agg",),
)
def part_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    lines = li.filter(F.col("l_quantity") > 0).select(
        "l_partkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).cast("decimal(18,6)").alias("up"),
    )
    stats = (
        lines.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("up").cast("double").alias("s"),
            F.sum(
                F.round(F.col("up").cast("double") * F.col("up").cast("double"), 4)
                .cast("decimal(28,4)")
            ).cast("double").alias("ss"),
        )
        .filter(F.col("n_lines") >= DISPERSION_MIN_LINES)
    )
    mean = F.col("s") / F.col("n_lines")
    # greatest(..., 0): ss is built from 4dp-quantized squares while s*s/n
    # is unquantized, so a (near-)constant-price part can drive the numerator
    # slightly NEGATIVE -> sqrt = NaN, and the top-k order would then hinge on
    # both engines sorting NaN identically. Clamp on both sides.
    cv = F.round(
        F.sqrt(
            F.greatest(
                F.col("ss") - F.col("s") * F.col("s") / F.col("n_lines"), F.lit(0.0)
            )
            / (F.col("n_lines") - 1)
        )
        / mean,
        6,
    )
    return (
        stats.select(
            F.col("l_partkey").alias("partkey"),
            "n_lines",
            F.round(mean, 4).alias("mean_unit_price"),
            cv.alias("price_cv"),
        )
        .orderBy(F.desc("price_cv"), "partkey")
        .limit(DISPERSION_TOPK)
    )


# -------------------------------------------- transition coverage report


@query(
    "events_transition_coverage",
    oracle="""
    WITH types AS (SELECT DISTINCT event_type AS t FROM events),
    seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    observed AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    )
    SELECT a.t AS from_type, b.t AS to_type,
           CAST(coalesce(o.n, 0) AS BIGINT) AS n_observed,
           (o.n IS NULL) AS never_observed
    FROM types a CROSS JOIN types b
    LEFT JOIN observed o ON o.cur = a.t AND o.nxt = b.t
    """,
    doc="transition coverage report: the FULL event-type x event-type grid with "
    "observed counts and a never-observed flag — the absence view the Markov "
    "matrix (events_markov_transitions) cannot show, and the one that catches "
    "both instrumentation gaps (a transition that should fire but never does) "
    "and state-machine violations when a 'never' cell suddenly lights up in "
    "the next run (diff two of these with table_snapshot_diff). The grid is "
    "types²-bounded; observed counts come from one per-user lead pass "
    "(north-star events / instrumentation QA)",
    tags=("events", "window", "agg"),
)
def events_transition_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load_tables(spark, sf_dir, "events")["events"]
    # This |types|-bounded distinct stays unpinned: a pin measured
    # SLOWER at both scales on 32 cores (sf0.1 0.41 -> 0.85 s, sf5
    # 1.12 -> 1.25 s) — the eager pin job costs more than the two
    # pushed ONE-COLUMN events scans it removes.
    types = e.select(F.col("event_type").alias("t")).distinct()
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    observed = (
        e.select(F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    a = types.select(F.col("t").alias("from_type"))
    b = types.select(F.col("t").alias("to_type"))
    return (
        a.crossJoin(F.broadcast(b))
        .join(
            observed,
            (F.col("from_type") == F.col("cur")) & (F.col("to_type") == F.col("nxt")),
            "left",
        )
        .select(
            "from_type",
            "to_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_observed"),
            F.col("n").isNull().alias("never_observed"),
        )
    )


# ------------------------------------------------ ABC-XYZ classification

ABC_A, ABC_B = 0.5, 0.8  # cumulative-revenue class boundaries
XYZ_X, XYZ_Y = 0.05, 0.15  # demand-CV class boundaries


@query(
    "parts_abc_xyz",
    oracle=f"""
    WITH monthly AS (
      SELECT l_partkey,
             CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS midx,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS q,
             CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS n_months,
             CAST(sum(rev) AS DECIMAL(38,2)) AS total_rev,
             CAST(sum(q) AS DOUBLE) / count(*) AS mean_q,
             CAST(sum(CAST(round(CAST(q AS DOUBLE) * CAST(q AS DOUBLE), 4)
                           AS DECIMAL(28,4))) AS DOUBLE) AS ssq
      FROM monthly GROUP BY 1 HAVING count(*) >= 6
    ),
    ranked AS (
      SELECT l_partkey, n_months, total_rev, mean_q, ssq,
             CAST(sum(total_rev) OVER (ORDER BY total_rev DESC, l_partkey
                                       ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_rev,
             CAST(sum(total_rev) OVER () AS DOUBLE) AS all_rev
      FROM per_part
    ),
    classed AS (
      SELECT l_partkey,
             CASE WHEN cum_rev <= {ABC_A} * all_rev THEN 'A'
                  WHEN cum_rev <= {ABC_B} * all_rev THEN 'B'
                  ELSE 'C' END AS abc,
             CASE WHEN sqrt(greatest(ssq / n_months - mean_q * mean_q, 0)
                            * n_months / (n_months - 1)) / mean_q <= {XYZ_X} THEN 'X'
                  WHEN sqrt(greatest(ssq / n_months - mean_q * mean_q, 0)
                            * n_months / (n_months - 1)) / mean_q <= {XYZ_Y} THEN 'Y'
                  ELSE 'Z' END AS xyz,
             total_rev
      FROM ranked
    )
    SELECT abc, xyz,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(total_rev) AS DOUBLE) AS class_revenue
    FROM classed GROUP BY 1, 2
    """,
    doc=f"ABC-XYZ inventory classification: parts classed by cumulative-revenue "
    f"share (A <= {ABC_A:.0%}, B <= {ABC_B:.0%} of total, else C — the Pareto "
    f"cut) crossed with monthly-demand variability (CV <= {XYZ_X} X, <= "
    f"{XYZ_Y} Y, else Z) — the 9-cell grid that decides stocking policy per "
    "part (AX = automate, CZ = make-to-order). Monthly rollups are exact "
    "decimals; the revenue rank/cumsum runs through functions/ordstats' "
    "distributed two-phase prefix sum (no Exchange SinglePartition even "
    "though part is merely SF-linear); CV moments quantize-then-sum "
    "(north-star statistics / inventory management)",
    tags=("agg", "window", "bench_extra"),
)
def parts_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    monthly = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("bigint").alias("midx"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)").alias("q"),
        F.sum(F.round("l_extendedprice", 2).cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("rev"),
    )
    per_part = (
        monthly.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_months"),
            F.sum("rev").cast("decimal(38,2)").alias("total_rev"),
            (F.sum("q").cast("double") / F.count(F.lit(1))).alias("mean_q"),
            F.sum(
                F.round(F.col("q").cast("double") * F.col("q").cast("double"), 4)
                .cast("decimal(28,4)")
            ).cast("double").alias("ssq"),
        )
        .filter(F.col("n_months") >= 6)
        # part-grain profile: the two-phase global rank (bucket sketch
        # + per-bucket window + offsets) and the total-revenue agg each
        # re-derived the lineitem monthly aggregation unpinned
        # (3 executed scans). One pass now.
        .transform(pin)
    )
    # Global revenue cumsum WITHOUT an Exchange SinglePartition: the
    # naive `sum() OVER (ORDER BY total_rev DESC)` serializes every part
    # through one task — fine for a dim-sized part table, wrong at 100x.
    # functions/ordstats' two-phase rank (bucket sketch + per-bucket
    # window + 32-row offset broadcast) computes the identical exact
    # DECIMAL prefix sums distributed; all_rev is a 1-row broadcast agg.
    from http_datafusion_spark.functions.ordstats import bucketed_global_rank

    ranked_d = bucketed_global_rank(
        per_part,
        "total_rev",
        ["l_partkey"],
        "grk",
        descending=True,
        cumsum_of="total_rev",
        cumsum_name="cum_rev_dec",
    )
    all_row = per_part.agg(
        F.sum("total_rev").cast("decimal(38,2)").alias("all_rev_dec")
    )
    ranked = ranked_d.crossJoin(F.broadcast(all_row)).select(
        "l_partkey",
        "n_months",
        "total_rev",
        "mean_q",
        "ssq",
        F.col("cum_rev_dec").cast("double").alias("cum_rev"),
        F.col("all_rev_dec").cast("double").alias("all_rev"),
    )
    # greatest(..., 0): quantized ssq minus unquantized mean^2 can go
    # slightly negative for constant-demand parts -> NaN (see
    # part_price_dispersion). Clamp on both sides.
    cv = (
        F.sqrt(
            F.greatest(
                F.col("ssq") / F.col("n_months") - F.col("mean_q") * F.col("mean_q"),
                F.lit(0.0),
            )
            * F.col("n_months")
            / (F.col("n_months") - 1)
        )
        / F.col("mean_q")
    )
    classed = ranked.select(
        F.when(F.col("cum_rev") <= ABC_A * F.col("all_rev"), "A")
        .when(F.col("cum_rev") <= ABC_B * F.col("all_rev"), "B")
        .otherwise("C")
        .alias("abc"),
        F.when(cv <= XYZ_X, "X").when(cv <= XYZ_Y, "Y").otherwise("Z").alias("xyz"),
        "total_rev",
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("total_rev").cast("double").alias("class_revenue"),
    )


# -------------------------------------------- order-interval regularity

REGULARITY_MIN_ORDERS = 5


@query(
    "customer_order_regularity",
    oracle=f"""
    WITH gaps AS (
      SELECT o_custkey,
             CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
               - lag(CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS g
      FROM orders
    ),
    stats AS (
      SELECT o_custkey,
             CAST(count(g) AS BIGINT) AS n_gaps,
             CAST(sum(CAST(g AS DECIMAL(18,0))) AS DOUBLE) AS s,
             CAST(sum(CAST(g * g AS DECIMAL(28,0))) AS DOUBLE) AS ss
      FROM gaps WHERE g IS NOT NULL
      GROUP BY 1 HAVING count(g) >= {REGULARITY_MIN_ORDERS - 1}
    )
    SELECT o_custkey AS custkey, n_gaps,
           round(s / n_gaps, 4) AS mean_gap_days,
           round(sqrt((ss - s * s / n_gaps) / (n_gaps - 1)) / (s / n_gaps), 6)
             AS gap_cv,
           (sqrt((ss - s * s / n_gaps) / (n_gaps - 1)) / (s / n_gaps) < 0.5)
             AS subscription_like
    FROM stats
    """,
    doc=f"order-interval regularity per customer (>= {REGULARITY_MIN_ORDERS} "
    "orders): mean inter-order gap and its coefficient of variation — CV well "
    "below 1 means clock-like reordering (subscription-like, safe to forecast "
    "per customer), CV >= 1 is memoryless/sporadic (forecast only in "
    "aggregate) — the segmentation a replenishment or CRM pipeline keys on "
    "(events_bot_detection's gap-regularity signal applied to commerce). One "
    "per-customer lag pass + exact integer-day moment sums "
    "(north-star statistics / demand segmentation)",
    tags=("agg", "window"),
)
def customer_order_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    o = load_tables(spark, sf_dir, "orders")["orders"]
    day = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("bigint")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select("o_custkey", (day - F.lag(day).over(w)).alias("g")).filter(
        F.col("g").isNotNull()
    )
    stats = (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("g").cast("bigint").alias("n_gaps"),
            F.sum(F.col("g").cast("decimal(18,0)")).cast("double").alias("s"),
            F.sum((F.col("g") * F.col("g")).cast("decimal(28,0)")).cast("double").alias("ss"),
        )
        .filter(F.col("n_gaps") >= REGULARITY_MIN_ORDERS - 1)
    )
    mean = F.col("s") / F.col("n_gaps")
    cv = (
        F.sqrt((F.col("ss") - F.col("s") * F.col("s") / F.col("n_gaps")) / (F.col("n_gaps") - 1))
        / mean
    )
    return stats.select(
        F.col("o_custkey").alias("custkey"),
        "n_gaps",
        F.round(mean, 4).alias("mean_gap_days"),
        F.round(cv, 6).alias("gap_cv"),
        (cv < 0.5).alias("subscription_like"),
    )


# ----------------------------------------- held-out LM evaluation


@query(
    "text_heldout_perplexity",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ),
    train_uni AS (
      SELECT unnest(words) AS word FROM w WHERE doc_id % 2 = 0
    ),
    uc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM train_uni GROUP BY word),
    vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uc),
    train_bi AS (
      SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(list_transform(range(1, len(words)),
                          i -> {{'w1': words[i], 'w2': words[i+1]}})) AS bg
            FROM w WHERE doc_id % 2 = 0 AND len(words) >= 2)
      GROUP BY 1, 2
    ),
    eval_bi AS (
      SELECT source, bg.w1 AS w1, bg.w2 AS w2
      FROM (SELECT source,
                   unnest(list_transform(range(1, len(words)),
                          i -> {{'w1': words[i], 'w2': words[i+1]}})) AS bg
            FROM w WHERE doc_id % 2 = 1 AND len(words) >= 2)
    ),
    scored AS (
      SELECT e.source,
             CAST(round(-ln((coalesce(tb.c, 0) + {BIGRAM_ADD_K})
                            / (coalesce(uc.c, 0) + {BIGRAM_ADD_K} * vsize.v)), 6)
                  AS DECIMAL(18,6)) AS nll,
             (tb.c IS NULL) AS unseen
      FROM eval_bi e
      LEFT JOIN train_bi tb ON tb.w1 = e.w1 AND tb.w2 = e.w2
      LEFT JOIN uc ON uc.word = e.w1
      CROSS JOIN vsize
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                             AS n_bigrams,
           round(CAST(sum(nll) AS DOUBLE) / count(*), 4)        AS avg_heldout_nll,
           round(sum(CASE WHEN unseen THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS unseen_bigram_frac
    FROM scored GROUP BY source
    """,
    doc=f"HELD-OUT bigram-LM evaluation per source: the model trains on even "
    "doc_ids only and scores the odd half — the train/test discipline the "
    "in-sample text_bigram_logprob deliberately lacks (in-sample NLL always "
    "flatters; this is the number a data-selection paper would report), with "
    f"add-k={BIGRAM_ADD_K} smoothing giving unseen bigrams the principled "
    "fallback mass and the unseen-bigram fraction reported as the "
    "generalization-gap readout per source. Train count tables grow with the "
    "train corpus, so both score joins are hint-free (AQE decides); eval "
    "bigrams stream through one left-join pass; "
    "per-token NLLs quantize then decimal-sum (north-star text / LM "
    "evaluation)",
    tags=("text", "pipeline"),
)
def text_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    # partitioned_docs: text crosses the window's exchange raw;
    # tokenize runs post-exchange at full width. Measured on 32 cores:
    # sf5 6.89 -> 3.35 s; sf0.1 0.98 -> 1.62 s (floor cost).
    dw = partitioned_docs(d, "source").select(
        "doc_id", "source", F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "w1")
    )
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    bi = (
        dw.withColumn("w2", F.lead("w1", 1).over(wdoc))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "source", "w1", "w2")
    )
    train_bi = (
        bi.filter(F.col("doc_id") % 2 == 0)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    )
    train_uc = (
        dw.filter(F.col("doc_id") % 2 == 0)
        .groupBy(F.col("w1").alias("word"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cu"))
    )
    vsize = train_uc.count()
    ev = bi.filter(F.col("doc_id") % 2 == 1)
    nll = F.round(
        -F.log(
            (F.coalesce(F.col("cb"), F.lit(0)) + BIGRAM_ADD_K)
            / (F.coalesce(F.col("cu"), F.lit(0)) + BIGRAM_ADD_K * F.lit(vsize))
        ),
        6,
    ).cast("decimal(18,6)")
    # train_bi/train_uc are train-corpus n-gram count tables — they grow
    # with the data, so no forced broadcast. Plain left joins: AQE
    # broadcasts at small scale, shuffle-joins co-keyed at 100 TB.
    scored = (
        ev.join(train_bi, ["w1", "w2"], "left")
        .join(train_uc.select(F.col("word").alias("w1"), "cu"), "w1", "left")
        .select("source", nll.alias("nll"), F.col("cb").isNull().alias("unseen"))
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 4).alias("avg_heldout_nll"),
        F.round(
            F.sum(F.col("unseen").cast("int")) * 1.0 / F.count(F.lit(1)), 6
        ).alias("unseen_bigram_frac"),
    )


# ------------------------------------------------ exact weighted median


@query(
    "weighted_median_price",
    oracle="""
    WITH lines AS (
      SELECT l_extendedprice AS v, l_orderkey * 8 + l_linenumber AS tb,
             CAST(l_quantity AS DECIMAL(18,2)) AS wt
      FROM lineitem
    ),
    tot AS (SELECT CAST(sum(wt) AS DECIMAL(38,2)) AS t FROM lines),
    ranked AS (
      SELECT v, wt,
             CAST(sum(wt) OVER (ORDER BY v, tb ROWS UNBOUNDED PRECEDING)
                  AS DECIMAL(38,2)) AS cum
      FROM lines
    )
    SELECT CAST((SELECT count(*) FROM lines) AS BIGINT)       AS n_lines,
           CAST(max(t.t) AS DOUBLE)                           AS total_weight,
           round(min(CASE WHEN CAST(cum AS DOUBLE) * 2 >= CAST(t.t AS DOUBLE)
                          THEN v END), 2)                     AS weighted_median,
           round(min(CASE WHEN CAST(cum AS DOUBLE) * 10 >= CAST(t.t AS DOUBLE) * 9
                          THEN v END), 2)                     AS weighted_p90
    FROM ranked CROSS JOIN tot t
    """,
    doc="EXACT weighted percentiles — an aggregate neither engine ships "
    "natively: the quantity-weighted median and p90 of line price (each "
    "line counts by units sold, not once — 'the price at which half the "
    "VOLUME trades', which the unweighted median misrepresents whenever "
    "cheap items move in bulk). The first value whose cumulative weight "
    "crosses the quantile of total weight; weights accumulate as exact "
    "decimals, the crossing test multiplies instead of divides (no "
    "rounding anywhere). The Spark side runs the prefix sum through the "
    "DISTRIBUTED global-rank plan (functions/ordstats cumsum — no single-"
    "partition sort of the fact table); the oracle's naive window agrees "
    "because decimal addition is associative "
    "(north-star statistics / weighted aggregates)",
    tags=("agg", "window"),
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.ordstats import bucketed_global_rank

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # No localCheckpoint: the parquet source is deterministic, so
    # bucketed_global_rank's two passes re-scan it exactly. Eagerly
    # materializing a fact-table-sized 3-column projection to executor
    # storage undercuts the no-materialization story at 100 TB; a
    # re-scan is a cheap columnar read.
    lines = li.select(
        F.col("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("tb"),
        F.col("l_quantity").cast("decimal(18,2)").alias("wt"),
    )
    tot = lines.agg(F.sum("wt").cast("decimal(38,2)").alias("t"))
    ranked = bucketed_global_rank(
        lines, "v", ["tb"], "rk", cumsum_of="wt", cumsum_name="cum"
    ).crossJoin(F.broadcast(tot))
    cum_d = F.col("cum").cast("double")
    t_d = F.col("t").cast("double")
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.max("t").cast("double").alias("total_weight"),
        F.round(F.min(F.when(cum_d * 2 >= t_d, F.col("v"))), 2).alias("weighted_median"),
        F.round(F.min(F.when(cum_d * 10 >= t_d * 9, F.col("v"))), 2).alias("weighted_p90"),
    )


# ------------------------------------------ quality-filter ablation

# The four cheap C4/Gopher-family gates, ablated jointly: every doc
# gets a 4-bit pass mask and the matrix reports survival per mask —
# the readout that tells a curation team WHICH rule does the cutting
# and how the rules overlap, before any of them ships.
ABLATION_MIN_WORDS = 5
ABLATION_WORDLEN_LO = 2.0
ABLATION_WORDLEN_HI = 12.0
ABLATION_STOP_MIN = 0.02
ABLATION_PUNCT_MAX = 0.10


@query(
    "quality_ablation_matrix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> ''))
                  AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                  w -> list_contains({{stops}}, lower(w)))) AS DOUBLE) AS n_stop
      FROM documents
    ), f AS (
      SELECT doc_id, n_words,
             CAST(n_words >= {ABLATION_MIN_WORDS} AS INT) AS r_len,
             CAST(n_chars / greatest(CAST(n_words AS DOUBLE), 1)
                  BETWEEN {ABLATION_WORDLEN_LO} AND {ABLATION_WORDLEN_HI} AS INT) AS r_shape,
             CAST(n_stop / greatest(CAST(n_words AS DOUBLE), 1)
                  >= {ABLATION_STOP_MIN} AS INT) AS r_stop,
             CAST(n_punct / greatest(n_chars, 1) <= {ABLATION_PUNCT_MAX} AS INT) AS r_punct
      FROM t
    ), m AS (
      SELECT r_len * 8 + r_shape * 4 + r_stop * 2 + r_punct AS mask,
             r_len, r_shape, r_stop, r_punct, n_words
      FROM f
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m)
    SELECT CAST(mask AS INT) AS mask,
           CAST(r_len AS BOOLEAN) AS pass_len,
           CAST(r_shape AS BOOLEAN) AS pass_shape,
           CAST(r_stop AS BOOLEAN) AS pass_stop,
           CAST(r_punct AS BOOLEAN) AS pass_punct,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS sum_words,
           round(count(*) * 1.0 / (SELECT n FROM tot), 6) AS frac_docs
    FROM m GROUP BY 1, 2, 3, 4, 5
    ORDER BY mask
    """.replace("{stops}", repr(list(_EN_STOPWORDS))),
    doc=f"quality-filter ablation matrix: the four cheap rule-filter gates "
    f"(>= {ABLATION_MIN_WORDS} words; avg word length in "
    f"[{ABLATION_WORDLEN_LO}, {ABLATION_WORDLEN_HI}]; stopword ratio >= "
    f"{ABLATION_STOP_MIN}; punctuation ratio <= {ABLATION_PUNCT_MAX} — the "
    f"C4/Gopher rule family) evaluated JOINTLY: every doc gets a 4-bit "
    f"pass mask, the matrix reports docs/words/corpus-fraction per mask — "
    f"which rule cuts, and how the rules overlap, measured before any "
    f"ships (mask 15 = survives all four). ONE map-side pass: flags are "
    f"projections, the aggregate keys on a 16-value mask "
    f"(north-star pipeline / curation)",
    tags=("pipeline", "text", "agg"),
)
def quality_ablation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.text import _EN_STOPWORDS as STOPS

    d = load_tables(spark, sf_dir, "documents")["documents"]
    stop_arr = F.array(*[F.lit(w) for w in STOPS])
    d = d.select("doc_id", "text", whitespace_tokens(F.col("text")).alias("toks"))
    n_chars = F.length("text").cast("double")
    n_words = F.size("toks").cast("bigint")
    n_words_d = n_words.cast("double")
    n_punct = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[.!?,;:]"), F.lit(0))
    ).cast("double")
    n_stop = F.size(
        F.filter(F.col("toks"), lambda w: F.array_contains(stop_arr, F.lower(w)))
    ).cast("double")
    r_len = (n_words >= ABLATION_MIN_WORDS).cast("int")
    r_shape = (
        (n_chars / F.greatest(n_words_d, F.lit(1.0))).between(
            ABLATION_WORDLEN_LO, ABLATION_WORDLEN_HI
        )
    ).cast("int")
    r_stop = (
        n_stop / F.greatest(n_words_d, F.lit(1.0)) >= ABLATION_STOP_MIN
    ).cast("int")
    r_punct = (n_punct / F.greatest(n_chars, F.lit(1.0)) <= ABLATION_PUNCT_MAX).cast(
        "int"
    )
    m = d.select(
        (r_len * 8 + r_shape * 4 + r_stop * 2 + r_punct).alias("mask"),
        r_len.alias("r_len"),
        r_shape.alias("r_shape"),
        r_stop.alias("r_stop"),
        r_punct.alias("r_punct"),
        n_words.alias("n_words"),
    )
    # corpus total reconstructed from the 16-row grouped relation via an
    # unpartitioned window — 16 rows through one task, not a second
    # corpus text scan (the flags projection is the expensive part here)
    return (
        m.groupBy("mask", "r_len", "r_shape", "r_stop", "r_punct")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("sum_words"),
        )
        .withColumn("n", F.sum("n_docs").over(Window.partitionBy()))
        .select(
            F.col("mask").cast("int").alias("mask"),
            F.col("r_len").cast("boolean").alias("pass_len"),
            F.col("r_shape").cast("boolean").alias("pass_shape"),
            F.col("r_stop").cast("boolean").alias("pass_stop"),
            F.col("r_punct").cast("boolean").alias("pass_punct"),
            "n_docs",
            "sum_words",
            F.round(F.col("n_docs") * 1.0 / F.col("n"), 6).alias("frac_docs"),
        )
        .orderBy("mask")
    )


# ------------------------------------------- Kneser-Ney bigram LM

KN_DISCOUNT = 0.75  # Chen & Goodman 1998's fixed absolute discount


@query(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ),
    uni AS (SELECT unnest(words) AS word FROM w),
    uc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY word),
    bi AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(words)),
                    i -> {{'w1': words[i], 'w2': words[i+1]}})) AS bg
      FROM w WHERE len(words) >= 2
    ),
    bc AS (
      SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(count(*) AS BIGINT) AS c
      FROM bi GROUP BY 1, 2
    ),
    fw AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1f FROM bc GROUP BY w1),
    pc AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p FROM bc GROUP BY w2),
    t AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bc),
    scored AS (
      SELECT bi.doc_id, bi.source,
             CAST(round(-ln((greatest(bc.c - {KN_DISCOUNT}, 0)
                             + {KN_DISCOUNT} * fw.n1f * (pc.n1p * 1.0 / t.t))
                            / uc.c), 6) AS DECIMAL(18,6)) AS nll
      FROM bi
      JOIN bc ON bc.w1 = bi.bg.w1 AND bc.w2 = bi.bg.w2
      JOIN uc ON uc.word = bi.bg.w1
      JOIN fw ON fw.w1 = bi.bg.w1
      JOIN pc ON pc.w2 = bi.bg.w2
      CROSS JOIN t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(nll) AS DOUBLE) / count(*), 4) AS avg_kn_nll
    FROM scored GROUP BY source ORDER BY source
    """,
    doc=f"interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen & "
    f"Goodman 1998, public — the KenLM-family smoothing CCNet-style "
    f"quality filtering perplexes with): P(w2|w1) = [max(c(w1w2)-D,0) "
    f"+ D*N1+(w1,.)*Pcont(w2)] / c(w1) with Pcont(w2) = N1+(.,w2)/"
    f"N1+(.,.) and fixed D={KN_DISCOUNT} — the CONTINUATION counts "
    f"(how many distinct contexts a word follows/precedes) are what "
    f"distinguishes KN from the add-k family (text_bigram_logprob): "
    f"'Francisco' is frequent but nearly always follows 'San', so its "
    f"continuation probability is tiny. Per-token NLL rounds to 6dp "
    f"then sums in exact DECIMAL (partial-order independent); reported "
    f"as per-source mean NLL. All five count tables are corpus-growing "
    f"-> hint-free joins (AQE broadcasts when runtime-small); the "
    f"type-count scalar is a 1-row cross join "
    f"(north-star text analysis / quality filtering)",
    tags=("text",),
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    # partitioned_docs: one raw-text exchange feeds the bigram
    # window AND the unigram stream; tokenize runs at full width.
    # Measured on 32 cores: sf5 9.83 -> 5.00 s; sf0.1 1.13 -> 2.21 s
    # (floor cost).
    dp = partitioned_docs(d, "source")
    dw = dp.select(
        "doc_id", "source", F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "w1")
    )
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    bi = (
        dw.withColumn("w2", F.lead("w1", 1).over(wdoc))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "source", "w1", "w2")
    )
    uni = dp.select(F.explode(whitespace_tokens(F.col("text"))).alias("word"))
    uc = uni.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("cu"))
    # bc feeds four consumers (fw, pcn, t, the score join) as an
    # IDENTICAL subtree, which Spark's exchange reuse dedupes at
    # runtime — an eager localCheckpoint here was tried and MEASURED
    # SLOWER at sf5 (12.1 -> 18.5 s: it serializes the materialization
    # and pays the store/read where the reused shuffle was free).
    # A lazy fact_scale persist instead of the eager store measured
    # sf5 15.3 -> 14.5 s (-6%) but sf0.1 1.15 -> 1.73 s (+50%) on 32
    # cores — the columnar cache build of the bigram table still loses
    # to exchange reuse.
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    fw = bc.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("n1f"))
    pcn = bc.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1p"))
    t = bc.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    D = F.lit(KN_DISCOUNT)
    p_kn = (
        F.greatest(F.col("cb") - D, F.lit(0.0))
        + D * F.col("n1f") * (F.col("n1p") * 1.0 / F.col("t"))
    ) / F.col("cu")
    nll = F.round(-F.log(p_kn), 6).cast("decimal(18,6)")
    return (
        bi.join(bc, ["w1", "w2"])
        .join(uc.select(F.col("word").alias("w1"), "cu"), "w1")
        .join(fw, "w1")
        .join(pcn, "w2")
        .crossJoin(F.broadcast(t))
        .select("doc_id", "source", nll.alias("nll"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 4).alias("avg_kn_nll"),
        )
        .orderBy("source")
    )


# ------------------------------------------- G^2 keyness (Dunning)

KEYNESS_TOP_K = 5  # keywords reported per source
KEYNESS_MIN_COUNT = 5  # a word must appear this often in the source


@query(
    "text_keyness_g2",
    oracle=f"""
    WITH w AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '')) AS word
      FROM documents
    ),
    sc AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS a
      FROM w GROUP BY source, word
    ),
    wt AS (SELECT word, CAST(count(*) AS BIGINT) AS wtot FROM w GROUP BY word),
    st AS (SELECT source, CAST(count(*) AS BIGINT) AS stot FROM w GROUP BY source),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w),
    cells AS (
      SELECT sc.source, sc.word,
             sc.a                                  AS a,
             wt.wtot - sc.a                        AS b,
             st.stot - sc.a                        AS c,
             n.n - wt.wtot - st.stot + sc.a        AS d,
             st.stot, wt.wtot, n.n
      FROM sc JOIN wt USING (word) JOIN st USING (source) CROSS JOIN n
    ),
    scored AS (
      SELECT source, word, a,
             round(2.0 * (
               CASE WHEN a > 0 THEN a * ln(a * 1.0 * n / (wtot * 1.0 * stot)) ELSE 0.0 END
             + CASE WHEN b > 0 THEN b * ln(b * 1.0 * n / (wtot * 1.0 * (n - stot))) ELSE 0.0 END
             + CASE WHEN c > 0 THEN c * ln(c * 1.0 * n / ((n - wtot) * 1.0 * stot)) ELSE 0.0 END
             + CASE WHEN d > 0 THEN d * ln(d * 1.0 * n / ((n - wtot) * 1.0 * (n - stot))) ELSE 0.0 END
             ), 4) AS g2
      FROM cells
      WHERE a >= {KEYNESS_MIN_COUNT}
        AND a * 1.0 * (n - stot) > b * 1.0 * stot
    )
    SELECT source, word, CAST(a AS BIGINT) AS n_in_source, g2,
           CAST(rk AS BIGINT) AS rank
    FROM (
      SELECT source, word, a, g2,
             row_number() OVER (PARTITION BY source ORDER BY g2 DESC, word) AS rk
      FROM scored) WHERE rk <= {KEYNESS_TOP_K}
    ORDER BY source, rank
    """,
    doc=f"keyword extraction by G^2 keyness (Dunning 1993 log-likelihood "
    f"ratio, public — the corpus-linguistics standard for 'what words "
    f"characterize source A against the rest'): per (source, word) the "
    f"2x2 contingency (word-in-source vs rest) scored with the "
    f"signed-filtered LLR — only over-represented words (a*(N-stot) > "
    f"b*stot, an INTEGER cross-multiplication, no float boundary) with "
    f"count >= {KEYNESS_MIN_COUNT} rank, top-{KEYNESS_TOP_K} per "
    f"source by G^2 rounded to 4dp BEFORE ranking so a <=1-ulp libm "
    f"ln() divergence between engines cannot flip an order (ties to "
    f"word ASC). Complements RAKE (within-doc phrases) with corpus-"
    f"contrastive single-word keyness. Plan: one token explode feeds "
    f"three count tables (word-, source-, corpus-marginal) joined "
    f"hint-free; ranking carries a LITERAL top-{KEYNESS_TOP_K} "
    f"(WindowGroupLimit map-side) (north-star text analysis)",
    tags=("text",),
)
def text_keyness_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    w = spread_docs(d.select("doc_id", "source", "text")).select(
        "source", F.explode(whitespace_tokens(F.col("text"))).alias("word")
    )
    # (source, word) counts — all three marginals derive from sc by
    # summation, so the whole contingency hangs off ONE identical
    # sc subtree that Spark's runtime exchange reuse dedupes (an eager
    # checkpoint was tried: measured no gain at sf5, dropped)
    sc = w.groupBy("source", "word").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    wt = sc.groupBy("word").agg(F.sum("a").cast("bigint").alias("wtot"))
    st = sc.groupBy("source").agg(F.sum("a").cast("bigint").alias("stot"))
    n = sc.agg(F.sum("a").cast("bigint").alias("n"))
    cells = (
        sc.join(wt, "word")
        .join(st, "source")
        .crossJoin(F.broadcast(n))
        .withColumn("b", F.col("wtot") - F.col("a"))
        .withColumn("c", F.col("stot") - F.col("a"))
        .withColumn("d", F.col("n") - F.col("wtot") - F.col("stot") + F.col("a"))
    )

    def term(x, num, den):
        return F.when(
            x > 0, x * F.log(x * 1.0 * F.col("n") / (num * 1.0 * den))
        ).otherwise(0.0)

    rest = F.col("n") - F.col("stot")
    nonw = F.col("n") - F.col("wtot")
    g2 = F.round(
        2.0
        * (
            term(F.col("a"), F.col("wtot"), F.col("stot"))
            + term(F.col("b"), F.col("wtot"), rest)
            + term(F.col("c"), nonw, F.col("stot"))
            + term(F.col("d"), nonw, rest)
        ),
        4,
    )
    scored = cells.filter(
        (F.col("a") >= KEYNESS_MIN_COUNT)
        & (F.col("a") * 1.0 * rest > F.col("b") * 1.0 * F.col("stot"))
    ).select("source", "word", "a", g2.alias("g2"))
    rk = F.row_number().over(W.partitionBy("source").orderBy(F.desc("g2"), F.asc("word")))
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= KEYNESS_TOP_K)
        .select(
            "source",
            "word",
            F.col("a").alias("n_in_source"),
            "g2",
            F.col("rk").cast("bigint").alias("rank"),
        )
        .orderBy("source", "rank")
    )


# ------------------------------------------- Markov entropy rate

@query(
    "events_markov_entropy_rate",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type AS cur, next_type AS nxt, CAST(count(*) AS BIGINT) AS c
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(DISTINCT cur) AS BIGINT) AS n_states
            FROM trans),
    rowsums AS (SELECT cur, CAST(sum(c) AS BIGINT) AS rc FROM trans GROUP BY cur),
    terms AS (
      SELECT CAST(round(-(t.c * 1.0 / tot.n) * ln(t.c * 1.0 / r.rc), 6)
                  AS DECIMAL(18,6)) AS term
      FROM trans t JOIN rowsums r USING (cur) CROSS JOIN tot
    )
    SELECT tot.n                                  AS n_transitions,
           tot.n_states                           AS n_states,
           round(CAST(sum(term) AS DOUBLE), 4)    AS entropy_rate_nats,
           round(ln(tot.n_states), 4)             AS max_entropy_nats,
           round(CAST(sum(term) AS DOUBLE) / ln(tot.n_states), 4) AS efficiency
    FROM terms CROSS JOIN tot
    GROUP BY tot.n, tot.n_states
    """,
    doc="entropy rate of the per-user event-sequence Markov chain "
    "(Shannon): H = -sum_ij pi_i P_ij ln P_ij with the empirical "
    "stationary weight pi_i = row mass / total transitions — how "
    "predictable the next user action is given the current one, in "
    "nats, beside the ln(K) ceiling and their ratio (the sequence-"
    "compressibility readout behind journey models; a rate near the "
    "ceiling means first-order structure carries no signal). Per-term "
    "contributions round to 6dp DECIMAL before the sum (order-"
    "independent, and a <=1-ulp libm ln() divergence cannot survive "
    "the quantization), final stats at 4dp. One user-keyed lead() "
    "window, then everything is |event types|^2-bounded "
    "(SURVEY §2.5 extension / north-star events)",
    tags=("events", "agg"),
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    # |event types|^2-row transition table; three consumers (totals,
    # row sums, term join) would each re-run the user-keyed window
    trans = (
        ordered.groupBy(
            F.col("event_type").alias("cur"), F.col("next_type").alias("nxt")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(pin)
    )
    tot = trans.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.countDistinct("cur").cast("bigint").alias("n_states"),
    )
    rowsums = trans.groupBy("cur").agg(F.sum("c").cast("bigint").alias("rc"))
    term = F.round(
        -(F.col("c") * 1.0 / F.col("n")) * F.log(F.col("c") * 1.0 / F.col("rc")), 6
    ).cast("decimal(18,6)")
    terms = (
        trans.join(rowsums, "cur").crossJoin(F.broadcast(tot)).select(
            term.alias("term"), "n", "n_states"
        )
    )
    h = F.sum("term").cast("double")
    return terms.groupBy("n", "n_states").agg(
        F.round(h, 4).alias("entropy_rate_nats"),
        F.round(F.log(F.col("n_states").cast("double")), 4).alias("max_entropy_nats"),
        F.round(h / F.log(F.col("n_states").cast("double")), 4).alias("efficiency"),
    ).select(
        F.col("n").alias("n_transitions"),
        "n_states",
        "entropy_rate_nats",
        "max_entropy_nats",
        "efficiency",
    )


@query(
    "cms_error_audit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    cells AS (
      SELECT cell.d AS d, cell.bucket AS bucket, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT unnest([{", ".join(f"{{'d': {d}, 'bucket': {_cms_bucket_sql(d)}}}" for d in range(CMS_DEPTH))}]) AS cell
        FROM toks
      )
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS true_count FROM toks GROUP BY tok
    ),
    probes AS (
      SELECT tok, true_count, cell.d AS d, cell.bucket AS bucket
      FROM (
        SELECT tok, true_count,
               unnest([{", ".join(f"{{'d': {d}, 'bucket': {_cms_bucket_sql(d)}}}" for d in range(CMS_DEPTH))}]) AS cell
        FROM truth
      )
    ),
    est AS (
      SELECT p.tok, max(p.true_count) AS true_count, min(c.c) AS est_count
      FROM probes p JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
      GROUP BY p.tok
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS stream_n FROM toks)
    SELECT CAST(count(*) AS BIGINT) AS n_tokens,
           max(n.stream_n) AS stream_n,
           round(CAST(sum(CASE WHEN est_count = true_count THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS frac_exact,
           round(CAST(sum(est_count - true_count) AS DOUBLE) / count(*), 6)
             AS mean_overestimate,
           CAST(max(est_count - true_count) AS BIGINT) AS max_overestimate,
           round(2.0 * max(n.stream_n) / {CMS_WIDTH}, 6) AS eps_bound,
           round(CAST(sum(CASE WHEN est_count - true_count
                               <= 2.0 * n.stream_n / {CMS_WIDTH} THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS frac_within_bound
    FROM est CROSS JOIN n
    """,
    doc=f"count-min sketch accuracy audit against EXACT token counts: per-"
    f"vocab-term overestimate est-true (>=0 by construction, checked), the "
    f"fraction estimated exactly, and observed error vs the Cormode-"
    f"Muthukrishnan additive bound eps*N with eps = 2/w = 2/{CMS_WIDTH} "
    f"(each term within the bound w.p. >= 1 - 2^-{CMS_DEPTH} per the "
    f"pairwise-independence analysis) — the sketch-sizing measurement that "
    f"tells a pipeline whether {CMS_DEPTH}x{CMS_WIDTH} suffices for its "
    f"vocabulary skew BEFORE it trusts cms_heavy_hitters at 100 TB (the "
    f"exact side is affordable at audit scale; the sketch is what ships). "
    f"One token-stream scan feeds both the d*w-cell partial agg and the "
    f"exact vocab counts; the estimate join broadcasts the {CMS_DEPTH}x"
    f"{CMS_WIDTH}-row sketch; all errors are integers until the final "
    f"ratios (north-star text analysis / sketch)",
    tags=("text", "sketch"),
)
def cms_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = spread_docs(d.select("doc_id", "text")).select(
        F.explode(whitespace_tokens(F.col("text"))).alias("tok")
    )
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dd).alias("d"),
                        (salted_hash(F.col("tok"), CMS_SALT + dd) % CMS_WIDTH).alias("bucket"),
                    )
                    for dd in range(CMS_DEPTH)
                ]
            )
        ).alias("cell")
    ).groupBy(F.col("cell.d").alias("d"), F.col("cell.bucket").alias("bucket")).agg(
        F.count(F.lit(1)).alias("c")
    )
    truth = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    probes = truth.select(
        "tok",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dd).alias("d"),
                        (salted_hash(F.col("tok"), CMS_SALT + dd) % CMS_WIDTH).alias("bucket"),
                    )
                    for dd in range(CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("tok", "true_count", "cell.d", "cell.bucket")
    est = (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("tok")
        .agg(
            F.max("true_count").alias("true_count"),
            F.min("c").alias("est_count"),
        )
    )
    n = toks.agg(F.count(F.lit(1)).cast("bigint").alias("stream_n"))
    err = F.col("est_count") - F.col("true_count")
    bound = F.lit(2.0) * F.col("stream_n") / CMS_WIDTH
    return est.crossJoin(F.broadcast(n)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.max("stream_n").alias("stream_n"),
        F.round(
            F.sum(F.when(err == 0, 1).otherwise(0)).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("frac_exact"),
        F.round(F.sum(err).cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_overestimate"
        ),
        F.max(err).cast("bigint").alias("max_overestimate"),
        F.round(F.lit(2.0) * F.max("stream_n") / CMS_WIDTH, 6).alias("eps_bound"),
        F.round(
            F.sum(F.when(err <= bound, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("frac_within_bound"),
    )


# ------------------------------------------- naive-split leakage audit

# The per-document split whose leakage this audits — train_val_split's
# exact assignment (salt 'split|', 90/5/5).
_NAIVE_TRAIN_PCT = 90
_NAIVE_VAL_PCT = 95


def _naive_split_sql(doc_col: str) -> str:
    h = md5_int_sql(f"concat('split|', CAST({doc_col} AS VARCHAR))")
    return (
        f"CASE WHEN {h} % 100 < {_NAIVE_TRAIN_PCT} THEN 'train' "
        f"WHEN {h} % 100 < {_NAIVE_VAL_PCT} THEN 'val' "
        f"ELSE 'test' END"
    )


@query(
    "split_leakage_audit",
    oracle=f"""
    WITH pairs AS ({_minhash_pairs_sql()}),
    labeled AS (
      SELECT {_naive_split_sql('doc_a')} AS split_a,
             {_naive_split_sql('doc_b')} AS split_b
      FROM pairs
    ),
    cells AS (
      SELECT least(split_a, split_b) AS split_lo,
             greatest(split_a, split_b) AS split_hi,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM labeled GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n FROM cells)
    SELECT c.split_lo, c.split_hi, c.n_pairs,
           c.split_lo <> c.split_hi AS leaked,
           round(CAST(c.n_pairs AS DOUBLE) / t.n, 6) AS pair_share
    FROM cells c CROSS JOIN tot t
    ORDER BY c.split_lo, c.split_hi
    """,
    doc=f"near-duplicate leakage audit of the NAIVE per-document split "
    f"(train_val_split's exact salt and {_NAIVE_TRAIN_PCT}/"
    f"{_NAIVE_VAL_PCT - _NAIVE_TRAIN_PCT}/{100 - _NAIVE_VAL_PCT} "
    f"percentages): every MinHash-LSH near-dup pair is labeled with its "
    f"two sides' splits and counted per unordered split cell — the "
    f"off-diagonal cells ARE eval contamination (a train/test near-dup "
    f"pair means the benchmark is memorizable; Lee et al. 2022, "
    f"Kandpal et al. 2022 measure exactly this). Under independent "
    f"hashing ~{2 * (_NAIVE_TRAIN_PCT * (100 - _NAIVE_TRAIN_PCT)) / 100}% "
    f"of pairs leak, so a nonzero reading is EXPECTED — this audit "
    f"quantifies what split_leakage_safe's cluster-atomic assignment "
    f"eliminates by construction. Cost: the LSH pair set (already "
    f"sub-quadratic and df-bounded) with two map-side hashes and a "
    f"<=6-cell aggregate — no join back to documents, the pair table "
    f"carries everything",
    tags=("pipeline", "dedup", "sampling"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_pairs(spark, sf_dir)

    def naive_split(c: str):
        bucket = (
            md5_int(F.concat(F.lit("split|"), F.col(c).cast("string"))) % 100
        )
        return (
            F.when(bucket < _NAIVE_TRAIN_PCT, "train")
            .when(bucket < _NAIVE_VAL_PCT, "val")
            .otherwise("test")
        )

    labeled = pairs.select(
        naive_split("doc_a").alias("split_a"),
        naive_split("doc_b").alias("split_b"),
    )
    cells = labeled.groupBy(
        F.least("split_a", "split_b").alias("split_lo"),
        F.greatest("split_a", "split_b").alias("split_hi"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    tot = cells.agg(F.sum("n_pairs").cast("bigint").alias("n"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (F.col("split_lo") != F.col("split_hi")).alias("leaked"),
            F.round(F.col("n_pairs").cast("double") / F.col("n"), 6).alias(
                "pair_share"
            ),
        )
        .orderBy("split_lo", "split_hi")
    )


# ------------------------------ mergeable quantile-sketch error audit

QS_SHARDS = 128  # parallel summary shards; scales with the cluster
QS_K = 32  # summary points per shard (the accuracy knob)
QS_SALT = 9400  # shard-assignment hash salt
QS_TARGETS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

_QS_SHARD_SQL = (
    f"{salted_hash_sql('concat(CAST(l_orderkey AS VARCHAR), chr(45), CAST(l_linenumber AS VARCHAR))', QS_SALT)}"
    f" % {QS_SHARDS}"
)


@query(
    "quantile_sketch_audit",
    oracle=f"""
    WITH rows_v AS (
      SELECT {_QS_SHARD_SQL} AS shard, l_extendedprice AS v
      FROM lineitem
    ),
    ranked AS (
      SELECT shard, v,
             row_number() OVER (PARTITION BY shard ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY shard) AS n_s
      FROM rows_v
    ),
    blocks AS (
      SELECT shard, v, rn,
             CAST(floor((rn - 1) * {QS_K} * 1.0 / n_s) AS BIGINT) AS blk,
             CAST(floor((CAST(floor((rn - 1) * {QS_K} * 1.0 / n_s) AS BIGINT)
                         * n_s + {QS_K} - 1) * 1.0 / {QS_K}) AS BIGINT) AS lo,
             CAST(floor(((CAST(floor((rn - 1) * {QS_K} * 1.0 / n_s) AS BIGINT)
                          + 1) * n_s + {QS_K} - 1) * 1.0 / {QS_K}) AS BIGINT)
               AS hi
      FROM ranked
    ),
    summ AS (
      SELECT shard, blk, v AS rep, CAST(hi - lo AS BIGINT) AS w
      FROM blocks
      WHERE rn = lo + 1 + CAST(floor((hi - lo - 1) / 2.0) AS BIGINT)
    ),
    merged AS (
      SELECT rep, w,
             sum(w) OVER (ORDER BY rep, shard, blk
                          ROWS UNBOUNDED PRECEDING) AS cumw
      FROM summ
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rows_v),
    tq AS (
      SELECT q, CAST(ceil(q * t.n) AS BIGINT) AS t_rank, t.n
      FROM (SELECT unnest([{", ".join(str(q) for q in QS_TARGETS)}]) AS q)
      CROSS JOIN tot t
    ),
    est AS (
      SELECT tq.q, tq.t_rank, tq.n, min(m.rep) AS est_value
      FROM tq JOIN merged m ON m.cumw >= tq.t_rank
      GROUP BY 1, 2, 3
    ),
    truth AS (
      SELECT e.q, e.t_rank, e.n, e.est_value,
             CAST(sum(CASE WHEN r.v <= e.est_value THEN 1 ELSE 0 END)
                  AS BIGINT) AS true_rank
      FROM est e CROSS JOIN rows_v r
      GROUP BY 1, 2, 3, 4
    )
    SELECT q AS quantile, est_value, t_rank AS target_rank, true_rank,
           round(CAST(abs(true_rank - t_rank) AS DOUBLE) / n, 6)
             AS rank_err_frac,
           round(2.0 / {QS_K} + 2.0 * {QS_SHARDS} / n, 6) AS eps_bound,
           CAST(abs(true_rank - t_rank) AS DOUBLE) / n
             <= 2.0 / {QS_K} + 2.0 * {QS_SHARDS} / n AS within_bound
    FROM truth ORDER BY quantile
    """,
    doc=f"mergeable quantile-sketch accuracy audit against EXACT ranks, the "
    f"quantile member of the sketch-audit arc beside cms_error_audit "
    f"(frequencies) and hll_sketch_union (cardinality). The sketch is the "
    f"deterministic one-level member of the KLL/MRL family (Karnin-Lang-"
    f"Liberty FOCS 2016; Manku-Rajagopalan-Lindsay SIGMOD 1998): each of "
    f"{QS_SHARDS} hash-assigned shards sorts locally and keeps {QS_K} "
    f"equi-depth block minima with their block weights (fixed {QS_K}-point "
    f"summary per shard regardless of shard size — the property the sf1/sf5 "
    f"spot checks pin), and estimation merges the {QS_SHARDS}x{QS_K} "
    f"weighted points by value. Per-shard unseen mass between kept points "
    f"is <= ceil(n_s/{QS_K}), so the merged additive rank error is "
    f"<= n/{QS_K} + {QS_SHARDS}, and the query-side step adds at most one "
    f"more block: guaranteed |true_rank - target| <= 2(n/{QS_K} + "
    f"{QS_SHARDS}), the eps_bound column the audit checks every target "
    f"quantile against. Scale shape: the per-shard window is the "
    f"train_shuffle_shards two-phase pattern (contents = corpus/{QS_SHARDS}, "
    f"{QS_SHARDS} is the parallelism knob); the merge is a global window "
    f"over the {QS_SHARDS * QS_K}-row summary (constant-bounded); the "
    f"truth pass broadcasts {len(QS_TARGETS)} probe rows over one pruned "
    f"column scan, map-side combinable. Values are only compared and "
    f"min'd, never arithmetically combined — both engines see identical "
    f"parquet doubles, so every output is exact",
    tags=("sketch", "pipeline"),
)
def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    rows = li.select(
        (
            salted_hash(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("l_linenumber").cast("string"),
                ),
                QS_SALT,
            )
            % QS_SHARDS
        ).alias("shard"),
        F.col("l_extendedprice").alias("v"),
    )
    w = Window.partitionBy("shard").orderBy("v")
    wn = Window.partitionBy("shard")
    ranked = rows.select(
        "shard",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_s"),
    )
    # mid-rank representative per equi-depth block, block weight in
    # CLOSED FORM (block b of a shard covers local ranks
    # ceil(b*n_s/K)+1 .. ceil((b+1)*n_s/K)) — no per-block aggregate
    # at all, just a filter to one row per block. Mid-rank centers the
    # estimate inside its block: block MINIMA make every target's true
    # rank undershoot one-sidedly; same provable
    # bound, ~half the observed error.
    blk = F.floor((F.col("rn") - 1) * QS_K / F.col("n_s")).cast("bigint")
    lo = F.floor((blk * F.col("n_s") + QS_K - 1) / QS_K).cast("bigint")
    hi = F.floor(((blk + 1) * F.col("n_s") + QS_K - 1) / QS_K).cast("bigint")
    blocks = ranked.select(
        "shard", "v", "rn", blk.alias("blk"), lo.alias("lo"), hi.alias("hi")
    )
    summ = blocks.filter(
        F.col("rn")
        == F.col("lo") + 1 + F.floor((F.col("hi") - F.col("lo") - 1) / 2.0).cast("bigint")
    ).select(
        "shard",
        "blk",
        F.col("v").alias("rep"),
        (F.col("hi") - F.col("lo")).cast("bigint").alias("w"),
    )
    merged = summ.select(
        "rep",
        "w",
        F.sum("w")
        .over(
            Window.orderBy("rep", "shard", "blk").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("cumw"),
    )
    tot = rows.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tq = tot.select(
        F.explode(F.array(*[F.lit(q) for q in QS_TARGETS])).alias("q"), "n"
    ).select("q", F.ceil(F.col("q") * F.col("n")).cast("bigint").alias("t_rank"), "n")
    est = (
        F.broadcast(tq)
        .join(merged, merged["cumw"] >= tq["t_rank"])
        .groupBy("q", "t_rank", "n")
        .agg(F.min("rep").alias("est_value"))
    )
    truth = (
        rows.crossJoin(F.broadcast(est))
        .groupBy("q", "t_rank", "n", "est_value")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("est_value"), 1).otherwise(0))
            .cast("bigint")
            .alias("true_rank")
        )
    )
    err = F.abs(F.col("true_rank") - F.col("t_rank")).cast("double") / F.col("n")
    bound = F.lit(2.0) / QS_K + F.lit(2.0) * QS_SHARDS / F.col("n")
    return truth.select(
        F.col("q").alias("quantile"),
        "est_value",
        F.col("t_rank").alias("target_rank"),
        "true_rank",
        F.round(err, 6).alias("rank_err_frac"),
        F.round(bound, 6).alias("eps_bound"),
        (err <= bound).alias("within_bound"),
    ).orderBy("quantile")



# --------------------------- Kaplan-Meier survival WITH censoring

KM_CENSOR_GAP_DAYS = 90  # no order for this long before corpus end => churned
KM_MONTH_DAYS = 30  # month grain for durations
# Sentinel ln-factor for the d == n_risk month (survival drops to 0):
# ln(0) is -inf — DuckDB raises, Spark returns NULL that the window sum
# skips. -1e6 fits DECIMAL(18,9) and exp() of any cumsum containing it
# underflows to exactly 0.0 on both engines.
KM_LN_ZERO = -1000000.0

_Q9KM = "CAST(round({x}, 9) AS DECIMAL(18,9))"
_KM_LN_FACTOR = (
    f"CASE WHEN d = n_risk THEN {KM_LN_ZERO!r} "
    f"ELSE ln(1.0 - CAST(d AS DOUBLE) / n_risk) END"
)


@query(
    "customer_survival_km",
    oracle=f"""
    WITH horizon AS (SELECT max(o_orderdate) AS t_end FROM orders),
    cust AS (
      SELECT o_custkey,
             min(o_orderdate) AS first_o,
             max(o_orderdate) AS last_o
      FROM orders GROUP BY o_custkey
    ),
    obs AS (
      SELECT CASE WHEN date_diff('day', last_o, h.t_end)
                       > {KM_CENSOR_GAP_DAYS} THEN 1 ELSE 0 END AS churned,
             CAST(floor(date_diff('day', first_o,
                    CASE WHEN date_diff('day', last_o, h.t_end)
                              > {KM_CENSOR_GAP_DAYS}
                         THEN last_o ELSE h.t_end END)
                  / {KM_MONTH_DAYS}.0) AS BIGINT) AS m
      FROM cust CROSS JOIN horizon h
    ),
    per_m AS (
      SELECT m,
             CAST(sum(churned) AS BIGINT) AS d,
             CAST(sum(1 - churned) AS BIGINT) AS c
      FROM obs GROUP BY m
    ),
    risk AS (
      SELECT m, d, c,
             sum(d + c) OVER (ORDER BY m
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
      FROM per_m
    ),
    surv AS (
      SELECT m, d, c, n_risk,
             sum({_Q9KM.format(x=_KM_LN_FACTOR)})
               OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS cum_ln
      FROM risk
    )
    SELECT m AS month, CAST(n_risk AS BIGINT) AS n_at_risk,
           d AS n_churned, c AS n_censored,
           round(exp(CAST(cum_ln AS DOUBLE)), 6) AS survival
    FROM surv ORDER BY month
    """,
    doc=f"Kaplan-Meier survival estimator WITH right-censoring (Kaplan & "
    f"Meier 1958 JASA) over customer order lifetimes — the censored "
    f"completion of customer_survival_curve, whose docstring flags its own "
    f"no-censoring simplification: a customer whose last order is within "
    f"{KM_CENSOR_GAP_DAYS} days of the corpus horizon is CENSORED (still "
    f"alive, at risk up to the horizon), not counted as churned — naive "
    f"retention curves biased low precisely because they treat those as "
    f"deaths. S(t) = prod over event months (1 - d_t/n_t) with n_t from "
    f"one reverse cumulative sum; the month grain is calendar-bounded so "
    f"every window runs over a tiny table after one customer-keyed "
    f"aggregate. The product is exp(sum(9dp-quantized ln factors)) — the "
    f"ln terms are exact-rational inputs on both engines and the decimal "
    f"cumsum is order-exact (exp-then-round-6 follows the A&S tail "
    f"precedent, stream_srm_check)",
    tags=("curation", "stats", "pipeline"),
)
def customer_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    # ONE orders scan (was 2): the corpus horizon is
    # the max of the per-customer maxes, so it folds off the
    # checkpointed customer aggregate instead of a second fact scan.
    cust = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_o"),
        F.max("o_orderdate").alias("last_o"),
    ).transform(pin)
    horizon = cust.agg(F.max("last_o").alias("t_end"))
    gap = F.datediff(F.col("t_end"), F.col("last_o"))
    churned = F.when(gap > KM_CENSOR_GAP_DAYS, 1).otherwise(0)
    t_obs = F.when(gap > KM_CENSOR_GAP_DAYS, F.col("last_o")).otherwise(
        F.col("t_end")
    )
    obs = cust.crossJoin(F.broadcast(horizon)).select(
        churned.alias("churned"),
        F.floor(
            F.datediff(t_obs, F.col("first_o")) / float(KM_MONTH_DAYS)
        ).cast("bigint").alias("m"),
    )
    per_m = obs.groupBy("m").agg(
        F.sum("churned").cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col("churned")).cast("bigint").alias("c"),
    )
    w_rev = Window.orderBy("m").rowsBetween(0, Window.unboundedFollowing)
    risk = per_m.select(
        "m", "d", "c", F.sum(F.col("d") + F.col("c")).over(w_rev).alias("n_risk")
    )
    w_fwd = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    # d == n_risk (everyone still at risk churns this month — only
    # possible at the maximal month, since n_risk counts all m' >= m)
    # would be ln(0): DuckDB raises out-of-range while Spark's F.log
    # returns NULL that the window sum silently SKIPS, leaving survival
    # at the prior level instead of 0. Both engines take
    # the same finite sentinel instead; exp(-1e6 + bounded terms)
    # underflows to exactly 0.0, so survival lands at 0 on both.
    ln_f = F.round(
        F.when(F.col("d") == F.col("n_risk"), F.lit(KM_LN_ZERO)).otherwise(
            F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"))
        ),
        9,
    ).cast("decimal(18,9)")
    surv = risk.select(
        "m", "d", "c", "n_risk", F.sum(ln_f).over(w_fwd).alias("cum_ln")
    )
    return surv.select(
        F.col("m").alias("month"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("n_churned"),
        F.col("c").alias("n_censored"),
        F.round(F.exp(F.col("cum_ln").cast("double")), 6).alias("survival"),
    ).orderBy("month")


# ------------------------- feature-hashing collision-rate audit

FH_SALT = 9500  # per-k salts: FH_SALT + k
FH_BITS = (10, 12, 14, 16)  # hashed feature-space sizes 2^k


def _fh_bucket_sql(k: int) -> str:
    return f"{salted_hash_sql('tok', FH_SALT + k)} % {1 << k}"


@query(
    "feature_hash_collision_audit",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS words
      FROM documents
    ),
    toks AS (
      SELECT lower(words[i]) || ' ' || lower(words[i + 1]) AS tok
      FROM w, unnest(range(1, len(words))) AS t(i)
      WHERE len(words) >= 2
    ),
    vocab AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    ),
    hashed AS (
      SELECT kb.k, kb.bucket, cnt
      FROM (
        SELECT cnt, unnest([{", ".join(f"{{'k': {k}, 'bucket': {_fh_bucket_sql(k)}}}" for k in FH_BITS)}]) AS kb
        FROM vocab
      )
    ),
    buckets AS (
      SELECT k, bucket, CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(cnt) AS BIGINT) AS mass
      FROM hashed GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(cnt) AS BIGINT) AS t
      FROM vocab
    )
    SELECT k, CAST(1 << k AS BIGINT) AS n_buckets, tot.v AS vocab_size,
           round(CAST(sum(CASE WHEN n_terms >= 2 THEN n_terms ELSE 0 END)
                      AS DOUBLE) / tot.v, 6) AS colliding_term_frac,
           round(CAST(sum(CASE WHEN n_terms >= 2 THEN mass ELSE 0 END)
                      AS DOUBLE) / tot.t, 6) AS colliding_mass_frac,
           round(1.0 - exp((tot.v - 1.0) * ln(1.0 - 1.0 / (1 << k))), 6)
             AS expected_term_frac
    FROM buckets CROSS JOIN tot
    GROUP BY k, tot.v, tot.t ORDER BY k
    """,
    doc=f"hashing-trick collision audit (Weinberger et al. ICML 2009): the "
    f"corpus BIGRAM vocabulary (the hashed feature space practice ships, "
    f"cf. corpus_dsir_importance's hashed-bigram multinomials; unigram "
    f"vocab here is ~31 terms — degenerate) hashed into 2^k buckets for "
    f"k in {FH_BITS}, "
    f"reporting the fraction of vocab TERMS that share a bucket and the "
    f"fraction of token MASS sitting in collided buckets, against the "
    f"birthday-bound expectation 1 - (1 - 1/B)^(V-1) — the dimensioning "
    f"measurement a pipeline runs before fixing its hashed-feature width "
    f"(mass matters more than terms: colliding two hapaxes is harmless, "
    f"colliding a stopword into a content word is not). Completes the "
    f"sketch-SIZING arc beside cms_error_audit (count width), "
    f"hll_sketch_union (cardinality), quantile_sketch_audit (rank "
    f"error). One token scan -> vocab agg; everything after is "
    f"vocab-bounded x {len(FH_BITS)} literal widths, map-side-combinable "
    f"integer counts; the only float is the final three ratios (the "
    f"expectation follows the exp-then-round A&S-tail precedent)",
    tags=("text", "sketch", "pipeline"),
)
def feature_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    # partitioned_docs: text crosses the window's exchange raw;
    # tokenize runs post-exchange at full width (sf5 7.01 -> 1.69 s).
    toks = (
        partitioned_docs(d)
        .select("doc_id", F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "w"))
        .withColumn("w1", F.lead("w", 1).over(wdoc))
        .filter(F.col("w1").isNotNull())
        .select(F.concat_ws(" ", F.lower("w"), F.lower("w1")).alias("tok"))
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    hashed = vocab.select(
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        (salted_hash(F.col("tok"), FH_SALT + k) % (1 << k)).alias(
                            "bucket"
                        ),
                    )
                    for k in FH_BITS
                ]
            )
        ).alias("kb"),
    ).select(F.col("kb.k").alias("k"), F.col("kb.bucket").alias("bucket"), "cnt")
    buckets = hashed.groupBy("k", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("cnt").cast("bigint").alias("mass"),
    )
    tot = vocab.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("cnt").cast("bigint").alias("t"),
    )
    collided = F.col("n_terms") >= 2
    # Python-API shiftleft wants a literal bit count; the SQL form
    # accepts a column
    nb = F.expr("shiftleft(1, k)").cast("bigint")
    return (
        buckets.crossJoin(F.broadcast(tot))
        .groupBy("k", "v", "t")
        .agg(
            F.sum(F.when(collided, F.col("n_terms")).otherwise(0))
            .cast("double")
            .alias("ct"),
            F.sum(F.when(collided, F.col("mass")).otherwise(0))
            .cast("double")
            .alias("cm"),
        )
        .select(
            "k",
            nb.alias("n_buckets"),
            F.col("v").alias("vocab_size"),
            F.round(F.col("ct") / F.col("v"), 6).alias("colliding_term_frac"),
            F.round(F.col("cm") / F.col("t"), 6).alias("colliding_mass_frac"),
            F.round(
                F.lit(1.0)
                - F.exp(
                    (F.col("v") - F.lit(1.0))
                    * F.log(F.lit(1.0) - F.lit(1.0) / nb)
                ),
                6,
            ).alias("expected_term_frac"),
        )
        .orderBy("k")
    )

