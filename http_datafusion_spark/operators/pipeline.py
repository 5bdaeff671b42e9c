"""Training-data pipeline primitives over ``documents``/``embeddings``
— north-star extensions beyond the dedup/similarity families:

- **chunking**: split documents into fixed-size overlapping word
  windows (the pre-tokenization unit of an LLM data pipeline). Pure
  built-ins: sequence of chunk starts -> posexplode -> slice — the
  explode is map-side, so chunking 100 TB is scan-shaped work with no
  shuffle at all.
- **deterministic sampling**: hash-gated per-source sampling. NEVER
  ``rand()`` in a pipeline that must be re-runnable: the md5-derived
  gate gives every row a stable keep/drop decision, so a resumed/partial job
  samples the same rows, at any parallelism (functions/hashing.py is
  reproduced bit-for-bit by the DuckDB oracle).
- **quantization**: per-vector symmetric int8 scalar quantization of
  embeddings (the storage layout ANN serving uses). scale = max|x|/127
  and the rounding is IEEE-identical on both engines, so the oracle
  checks exact quantized values, not approximations.
- **product quantization**: the vector is split into M subspaces and
  each subvector is replaced by the id of its nearest codebook
  centroid — the memory layout of IVF-PQ indexes (D floats -> M
  bytes). Expressed relationally (vector x subspace x centroid
  cross join against a broadcast codebook, argmin by (dist, k)), so
  encoding 100 TB of embeddings is a broadcast join + one partial
  aggregation — no all-pairs shuffle, no driver materialization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_datafusion_spark.functions.fixedpoint import dsum, i100, quantize, unscale
from http_datafusion_spark.functions.hashing import (
    md5_int,
    md5_int_sql,
    salted_hash,
    salted_hash_sql,
)
from http_datafusion_spark.functions.pinning import pin
from http_datafusion_spark.functions.tokens import token_count, whitespace_tokens
from http_datafusion_spark.plans.registry import REGISTRY, query
from http_datafusion_spark.plans.tables import derived_dir, load_tables, spread

CHUNK_WORDS = 50
CHUNK_STRIDE = 40  # 10-word overlap between consecutive chunks

_WORDS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"


@query(
    "doc_chunking",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, {_WORDS_SQL} AS words FROM documents
    ), starts AS (
      SELECT doc_id, source, words, unnest(range(0, len(words), {CHUNK_STRIDE})) AS start
      FROM w WHERE len(words) > 0
    )
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(len(words[start + 1 : start + {CHUNK_WORDS}]) AS BIGINT) AS n_chunk_words,
           md5(array_to_string(words[start + 1 : start + {CHUNK_WORDS}], ' ')) AS chunk_md5
    FROM starts
    """,
    doc=f"document chunking: {CHUNK_WORDS}-word windows, stride {CHUNK_STRIDE} (10-word overlap), map-side explode only — no shuffle (north-star pipeline)",
    tags=("pipeline", "text"),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = whitespace_tokens("text")
    base = d.select("doc_id", words.alias("words")).filter(F.size("words") > 0)
    starts = base.select(
        "doc_id",
        "words",
        F.posexplode(F.sequence(F.lit(0), F.size("words") - 1, F.lit(CHUNK_STRIDE))).alias(
            "chunk_id", "start"
        ),
    )
    chunk = F.slice("words", F.col("start") + 1, CHUNK_WORDS)
    return starts.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_chunk_words"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


SAMPLE_PCT = 10  # keep ~10% of documents


@query(
    "sample_deterministic",
    oracle=f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(sum(n_chars) AS BIGINT) AS sampled_chars
    FROM documents
    WHERE {md5_int_sql("CAST(doc_id AS VARCHAR)")} % 100 < {SAMPLE_PCT}
    GROUP BY source
    """,
    doc=f"deterministic hash-gated {SAMPLE_PCT}% sample per source — re-runnable (no rand()), parallelism-independent (north-star pipeline)",
    tags=("pipeline", "sampling"),
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    gate = md5_int(F.col("doc_id").cast("string")) % 100 < SAMPLE_PCT
    return (
        d.filter(gate)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
            F.sum("n_chars").cast("bigint").alias("sampled_chars"),
        )
    )


# ----------------------- weighted sampling (sequential Poisson / priority)

PRIO_SALT = 9600  # independent of sample_deterministic's unsalted gate
PRIO_K = 100  # sample size k; the (k+1)-th priority is the DLT threshold
_U60 = 1 << 60  # md5_int range: u = (h+1)/2^60 in (0, 1]


@query(
    "sample_weighted_priority",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, n_chars,
             greatest(n_chars, 1) AS w,
             ({salted_hash_sql("CAST(doc_id AS VARCHAR)", PRIO_SALT)} + 1)
               * 1.0 / {_U60} AS u
      FROM documents
    ),
    p AS (
      SELECT doc_id, source, n_chars, w, u, w / u AS prio
      FROM s ORDER BY prio DESC, doc_id LIMIT {PRIO_K + 1}
    ),
    t AS (SELECT *,
                 CASE WHEN count(*) OVER () <= {PRIO_K}
                      THEN 0.0 ELSE min(prio) OVER () END AS tau
          FROM p)
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           round(u, 9) AS u_draw,
           round(greatest(w * 1.0, tau), 6) AS est_weight
    FROM t WHERE prio > tau ORDER BY doc_id
    """,
    doc=f"weighted sampling WITHOUT replacement via priority / sequential "
    f"Poisson sampling (Ohlsson 1998; Duffield, Lund & Thorup 2007 "
    f"JACM): each document draws a deterministic uniform u = "
    f"(md5_60(salt|doc_id)+1)/2^60 and gets priority w/u with w = "
    f"n_chars (length-weighted corpus sampling — the mixing weight a "
    f"training pipeline actually uses), the top {PRIO_K} priorities are "
    f"the sample and the ({PRIO_K + 1})-th is the DLT threshold tau; "
    f"est_weight = max(w, tau) is the UNBIASED subset-sum estimator "
    f"(sum over the sample estimates total corpus chars). The "
    f"deterministic-u trick makes the 'random' sample re-runnable and "
    f"parallelism-independent, and — unlike the Efraimidis-Spirakis "
    f"u^(1/w) key — the priority needs NO transcendental, so both "
    f"engines compute bit-identical IEEE keys and the sample SET "
    f"matches exactly (a last-ULP ln() divergence could flip the k-th "
    f"boundary member); populations of <= {PRIO_K} docs are kept whole "
    f"with est_weight = w (tau = 0, the DLT small-population case). An "
    f"EXACT k-th/(k+1)-th priority tie (impossible under distinct "
    f"doc_ids: u differs per doc, so prio collisions need a w/u "
    f"coincidence) would drop both tied rows — documented, not "
    f"special-cased. Scale shape: one scan, codegen'd md5 + "
    f"arithmetic, TakeOrderedAndProject(k+1) — per-partition heaps, "
    f"no global sort, no shuffle beyond the k+1-row gather; the "
    f"complement of sample_deterministic (unweighted hash-gate %) and "
    f"corpus_dsir_importance (importance RESAMPLING to a target "
    f"distribution)",
    tags=("pipeline", "sampling"),
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    w = F.greatest(F.col("n_chars"), F.lit(1))
    u = (salted_hash(F.col("doc_id").cast("string"), PRIO_SALT) + 1) * F.lit(
        1.0
    ) / F.lit(float(_U60))
    p = (
        d.select("doc_id", "source", "n_chars", w.alias("w"), u.alias("u"))
        .select("*", (F.col("w") / F.col("u")).alias("prio"))
        .orderBy(F.desc("prio"), "doc_id")
        .limit(PRIO_K + 1)
    )
    wall = W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    # n <= k populations keep EVERY row with est_weight = w (tau = 0 —
    # standard DLT priority sampling): the k+1-limit frame
    # then holds the whole population and no threshold exists. prio is
    # always > 0 (w >= 1, u in (0,1]), so the tau filter passes all.
    tau = F.when(
        F.count(F.lit(1)).over(wall) <= PRIO_K, F.lit(0.0)
    ).otherwise(F.min("prio").over(wall))
    t = p.select("*", tau.alias("tau"))
    return (
        t.filter(F.col("prio") > F.col("tau"))
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.round(F.col("u"), 9).alias("u_draw"),
            F.round(F.greatest(F.col("w") * F.lit(1.0), F.col("tau")), 6).alias(
                "est_weight"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
      FROM embeddings
    )
    SELECT vec_id,
           round(scale, 8) AS scale_r,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT))) AS BIGINT) AS q_sum,
           CAST(list_max(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT))) AS BIGINT) AS q_max
    FROM s
    """,
    doc="symmetric int8 scalar quantization per vector (scale=max|x|/127): exact-value oracle because both engines do identical IEEE divide+round (north-star pipeline / ANN storage layout)",
    tags=("pipeline", "similarity"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x))) / 127
    q = F.transform(F.col("emb"), lambda x: F.round(x / F.col("scale")).cast("bigint"))
    return (
        e.select("vec_id", emb.alias("emb"), scale.alias("scale"))
        .select(
            "vec_id",
            F.round("scale", 8).alias("scale_r"),
            F.aggregate(
                q, F.lit(0).cast("bigint"), lambda acc, x: acc + x
            ).alias("q_sum"),
            F.array_max(q).alias("q_max"),
        )
    )


DECON_MOD = 29  # benchmark set = doc_id % 29 == 0 (deterministic holdout)
DECON_MIN_SHINGLES = 2  # >=2 shared 3-grams => contaminated


@query(
    "decontaminate_corpus",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(words) - 1),
                    i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))) AS shingle
      FROM w WHERE len(words) >= 3
    ), bench AS (
      SELECT doc_id AS bench_doc, shingle FROM sh WHERE doc_id % {DECON_MOD} = 0
    ), corpus AS (
      SELECT doc_id, shingle FROM sh WHERE doc_id % {DECON_MOD} <> 0
    )
    SELECT c.doc_id,
           CAST(count(DISTINCT c.shingle) AS BIGINT)   AS n_shared_shingles,
           CAST(count(DISTINCT b.bench_doc) AS BIGINT) AS n_bench_docs
    FROM corpus c JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.doc_id
    HAVING count(DISTINCT c.shingle) >= {DECON_MIN_SHINGLES}
    """,
    doc=f"benchmark decontamination: flag corpus docs sharing >={DECON_MIN_SHINGLES} word-3-grams with the held-out benchmark set (doc_id % {DECON_MOD} = 0) — the leakage check every LLM training corpus runs; benchmark shingles broadcast, so the contamination join is map-side at 100 TB (north-star pipeline)",
    tags=("pipeline", "dedup"),
)
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import shingled_docs

    sh = shingled_docs(spark, sf_dir)  # (doc_id, shingle), distinct
    is_bench = F.col("doc_id") % DECON_MOD == 0
    bench = sh.filter(is_bench).select(F.col("doc_id").alias("bench_doc"), "shingle")
    corpus = sh.filter(~is_bench)
    return (
        # Benchmark sets are tiny next to the corpus: broadcast makes
        # the contamination check a map-side join over the corpus scan.
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").alias("n_shared_shingles"),
            F.count_distinct("bench_doc").alias("n_bench_docs"),
        )
        .filter(F.col("n_shared_shingles") >= DECON_MIN_SHINGLES)
    )


BLOOM_M = 8192  # bits
BLOOM_K = 4  # hash functions per shingle


def _bloom_pos_sql(expr: str, i: int) -> str:
    salted = "concat('b" + str(i) + "|', " + expr + ")"
    return f"({md5_int_sql(salted)} % {BLOOM_M})"


def _bloom_oracle() -> str:
    bench_pos_union = " UNION ALL ".join(
        f"SELECT {_bloom_pos_sql('shingle', i)} AS pos FROM sh WHERE doc_id % {DECON_MOD} = 0"
        for i in range(BLOOM_K)
    )
    probe_union = " UNION ALL ".join(
        f"SELECT doc_id, shingle, {_bloom_pos_sql('shingle', i)} AS pos "
        f"FROM sh WHERE doc_id % {DECON_MOD} <> 0"
        for i in range(BLOOM_K)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, {_WORDS_SQL} AS words FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(words) - 1),
                    i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))) AS shingle
      FROM w WHERE len(words) >= 3
    ), bench_pos AS (
      SELECT DISTINCT pos FROM ({bench_pos_union})
    ), probes AS (
      SELECT doc_id, shingle, pos FROM ({probe_union})
    ), per_shingle AS (
      SELECT p.doc_id, p.shingle,
             CAST(count(DISTINCT p.pos)
                  = count(DISTINCT CASE WHEN b.pos IS NOT NULL THEN p.pos END) AS BOOLEAN)
               AS bloom_positive
      FROM probes p LEFT JOIN bench_pos b ON p.pos = b.pos
      GROUP BY p.doc_id, p.shingle
    ), truth AS (
      SELECT c.doc_id, c.shingle,
             CAST(c.shingle IN (SELECT shingle FROM sh WHERE doc_id % {DECON_MOD} = 0)
                  AS BOOLEAN) AS shared
      FROM sh c WHERE c.doc_id % {DECON_MOD} <> 0
    ), per_doc AS (
      SELECT s.doc_id,
             bool_or(s.bloom_positive) AS candidate,
             bool_or(t.shared)         AS truly_shared
      FROM per_shingle s JOIN truth t ON s.doc_id = t.doc_id AND s.shingle = t.shingle
      GROUP BY s.doc_id
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN candidate THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN truly_shared THEN 1 ELSE 0 END) AS BIGINT) AS n_truly_shared,
           CAST(sum(CASE WHEN candidate AND NOT truly_shared THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_positive_docs,
           CAST(sum(CASE WHEN truly_shared AND NOT candidate THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_negative_docs
    FROM per_doc JOIN documents d ON per_doc.doc_id = d.doc_id
    GROUP BY d.source
    """


@query(
    "dedup_bloom_prefilter",
    oracle=_bloom_oracle(),
    doc=f"Bloom-filter decontamination PREFILTER, built relationally: the held-out set's "
    f"word-3-gram shingles set {BLOOM_K} md5-derived bit positions in an m={BLOOM_M} "
    f"filter whose sparse representation is a DISTINCT position table (<= m rows, "
    f"broadcastable at ANY corpus size — unlike the exact bench shingle set, which grows "
    f"with the holdout); a corpus shingle is bloom-positive iff ALL its positions hit, a "
    f"doc is a decontamination CANDIDATE iff any shingle is. Deterministic md5 positions "
    f"mean both engines compute the IDENTICAL filter, so per-source candidate and "
    f"false-positive-doc counts are value-checked exactly and the zero-false-negative "
    f"guarantee is asserted. At 100 TB only candidates proceed to the exact shingle join "
    f"(decontaminate_corpus) — the probe itself is a map-side broadcast join "
    f"(north-star pipeline / dedup)",
    tags=("pipeline", "dedup"),
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import shingled_docs

    d = load_tables(spark, sf_dir, "documents")["documents"]
    sh = shingled_docs(spark, sf_dir)  # (doc_id, shingle), distinct
    is_bench = F.col("doc_id") % DECON_MOD == 0

    def pos(i: int):
        return md5_int(F.concat(F.lit(f"b{i}|"), F.col("shingle"))) % BLOOM_M

    pos_arr = F.array(*[pos(i) for i in range(BLOOM_K)])
    # The filter: DISTINCT bit positions over the benchmark shingles —
    # the sparse bloom representation, <= BLOOM_M rows at any scale.
    bench_pos = (
        sh.filter(is_bench)
        .select(F.explode(pos_arr).alias("pos"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    per_shingle = (
        sh.filter(~is_bench)
        .select("doc_id", "shingle", F.explode(F.array_distinct(pos_arr)).alias("pos"))
        .join(F.broadcast(bench_pos), "pos", "left")
        .groupBy("doc_id", "shingle")
        .agg(
            (
                F.count(F.lit(1)) == F.sum(F.when(F.col("_hit"), 1).otherwise(0))
            ).alias("bloom_positive")
        )
    )
    bench_sh = sh.filter(is_bench).select("shingle").distinct().withColumn("_s", F.lit(True))
    per_doc = (
        per_shingle.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.max("bloom_positive").alias("candidate"),
            F.max(F.col("_s").isNotNull()).alias("truly_shared"),
        )
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("candidate").cast("int")).cast("bigint").alias("n_candidates"),
            F.sum(F.col("truly_shared").cast("int")).cast("bigint").alias("n_truly_shared"),
            F.sum((F.col("candidate") & ~F.col("truly_shared")).cast("int"))
            .cast("bigint")
            .alias("n_false_positive_docs"),
            F.sum((F.col("truly_shared") & ~F.col("candidate")).cast("int"))
            .cast("bigint")
            .alias("n_false_negative_docs"),
        )
    )


TRAIN_PCT = 90  # hash buckets 0-89 -> train
VAL_PCT = 95  # 90-94 -> val, 95-99 -> test


@query(
    "train_val_split",
    oracle=f"""
    WITH assigned AS (
      SELECT source, n_chars,
             CASE WHEN {md5_int_sql("concat('split|', CAST(doc_id AS VARCHAR))")} % 100 < {TRAIN_PCT} THEN 'train'
                  WHEN {md5_int_sql("concat('split|', CAST(doc_id AS VARCHAR))")} % 100 < {VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT source, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
    FROM assigned GROUP BY source, split
    """,
    doc=f"deterministic {TRAIN_PCT}/{VAL_PCT - TRAIN_PCT}/{100 - VAL_PCT} train/val/test split: the salted doc-id hash gives every row a stable assignment, so a re-run (or a resumed partial job, at any parallelism) splits identically — the property rand() cannot give (north-star pipeline)",
    tags=("pipeline", "sampling"),
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    bucket = md5_int(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(bucket < TRAIN_PCT, "train").when(bucket < VAL_PCT, "val").otherwise("test")
    )
    return (
        d.select("source", "n_chars", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars_total"),
        )
    )


BALANCE_CAP = 3  # max docs kept per source


@query(
    "balance_sources",
    oracle=f"""
    SELECT source, doc_id
    FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {md5_int_sql("concat('bal|', CAST(doc_id AS VARCHAR))")}, doc_id
             ) AS rk
      FROM documents
    )
    WHERE rk <= {BALANCE_CAP}
    """,
    doc=f"source balancing: keep at most {BALANCE_CAP} docs per source, selected by hash rank (deterministic, re-runnable) — the downsample-the-head-domains stage of a corpus mix; one shuffle on source, rank is partial per partition (north-star pipeline)",
    tags=("pipeline", "sampling"),
)
def balance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    rank_key = md5_int(F.concat(F.lit("bal|"), F.col("doc_id").cast("string")))
    w = W.partitionBy("source").orderBy(rank_key.asc(), F.col("doc_id").asc())
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= BALANCE_CAP)
        .select("source", "doc_id")
    )


MIX_SCALE = 1_000_000  # hash-gate resolution for per-source keep rates


@query(
    "mix_sources_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source
    ), rates AS (
      SELECT source, n,
             sqrt(CAST((SELECT min(n) FROM counts) AS DOUBLE) / n) AS q
      FROM counts
    ), gated AS (
      SELECT d.source, r.n, r.q
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE {md5_int_sql("concat('mix|', CAST(d.doc_id AS VARCHAR))")} % {MIX_SCALE}
            < CAST(round(r.q * {MIX_SCALE}) AS BIGINT)
    )
    SELECT source,
           CAST(max(n) AS BIGINT)       AS n_docs,
           CAST(count(*) AS BIGINT)     AS n_kept,
           round(max(q), 6)             AS keep_rate
    FROM gated GROUP BY source
    """,
    doc=f"temperature-based source mixing (alpha=0.5): per-source keep rate sqrt(min_n/n_s) flattens the source distribution toward the smallest source — the corpus-mixing stage of multi-source training sets; sqrt is IEEE-correctly-rounded so the rates (and the hash gate at 1/{MIX_SCALE} resolution) are engine-exact (north-star pipeline)",
    tags=("pipeline", "sampling", "bench_extra"),
)
def mix_sources_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # |sources| count table: the min agg and the rate join both
    # consumed it; unpinned each re-derived the documents scan
    # (3 executed scans). The remaining 2 passes
    # (count pass + gate-filter pass) are the shape's floor.
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).transform(pin)
    min_n = counts.agg(F.min("n").alias("mn"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "source", "n", F.sqrt(F.col("mn").cast("double") / F.col("n")).alias("q")
    )
    gate = md5_int(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))) % MIX_SCALE
    thr = F.round(F.col("q") * MIX_SCALE).cast("bigint")
    return (
        d.join(F.broadcast(rates), "source")
        .filter(gate < thr)
        .groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.max("q"), 6).alias("keep_rate"),
        )
    )


PQ_M = 4  # subspaces (64-dim vector -> 4 x 16-dim subvectors)
PQ_K = 8  # centroids per subspace; codebook = the PQ_K seed vectors
PQ_SUB = 16  # dims per subspace


# Shared oracle CTEs: per-subspace distance pairs -> argmin codes.
# Composed by embedding_quantize_pq (encode) and sim_pq_adc_topk
# (ADC search) so the two oracles can never drift apart.
PQ_CODES_SQL = f"""cb AS (
      SELECT vec_id AS k, embedding AS c FROM embeddings WHERE vec_id < {PQ_K}
    ), pairs AS (
      SELECT e.vec_id, m.m, cb.k,
             list_sum(list_transform(generate_series(1, {PQ_SUB}),
                i -> (CAST(e.embedding[m.m*{PQ_SUB}+i] AS DOUBLE) - CAST(cb.c[m.m*{PQ_SUB}+i] AS DOUBLE))
                   * (CAST(e.embedding[m.m*{PQ_SUB}+i] AS DOUBLE) - CAST(cb.c[m.m*{PQ_SUB}+i] AS DOUBLE)))) AS dist
      FROM embeddings e
      CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) m
      CROSS JOIN cb
    ), codes AS (
      SELECT vec_id, m, (min({{'d': dist, 'k': k}})).k AS code, min(dist) AS dist
      FROM pairs GROUP BY vec_id, m
    )"""


@query(
    "embedding_quantize_pq",
    oracle=f"""
    WITH {PQ_CODES_SQL}
    SELECT vec_id,
           CAST(max(CASE WHEN m = 0 THEN code END) AS BIGINT) AS code_0,
           CAST(max(CASE WHEN m = 1 THEN code END) AS BIGINT) AS code_1,
           CAST(max(CASE WHEN m = 2 THEN code END) AS BIGINT) AS code_2,
           CAST(max(CASE WHEN m = 3 THEN code END) AS BIGINT) AS code_3,
           CAST(round(sum(CAST(round(dist, 6) AS DECIMAL(18,6))), 6) AS DOUBLE) AS q_err
    FROM codes GROUP BY vec_id
    """,
    doc=f"product quantization encode: {PQ_M}x{PQ_SUB}-dim subspaces, nearest of {PQ_K} codebook centroids each (argmin by (dist,k) — deterministic ties), plus total reconstruction error. Codebook = the first {PQ_K} vectors, so the oracle is static SQL; a trained codebook swaps in without changing the plan shape (north-star pipeline / IVF-PQ storage layout)",
    tags=("pipeline", "similarity"),
)
def embedding_quantize_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    codes = pq_codes(spark, e)
    code_m = lambda i: F.max(F.when(F.col("m") == i, F.col("code"))).cast("bigint")  # noqa: E731
    return codes.groupBy("vec_id").agg(
        code_m(0).alias("code_0"),
        code_m(1).alias("code_1"),
        code_m(2).alias("code_2"),
        code_m(3).alias("code_3"),
        F.round(F.sum(quantize("dist", 6)), 6).cast("double").alias("q_err"),
    )


def pq_codes(spark: SparkSession, e: DataFrame) -> DataFrame:
    """Per-subspace PQ code assignment -> (vec_id, m, code, dist).

    Distances fold dim-by-dim left-to-right on both engines (Spark
    F.aggregate == DuckDB list_sum, bit-identical), so the argmin
    compares identical doubles; (dist, k) struct-min makes ties
    deterministic. The codebook (PQ_K rows) broadcasts; the per-row
    argmin is a partial-aggregable groupBy — scan-shaped at scale.
    Shared by the encode (embedding_quantize_pq) and ADC-search
    (sim_pq_adc_topk) operators."""
    emb = F.col("embedding").cast("array<double>")
    cb = e.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k"), F.col("embedding").cast("array<double>").alias("c")
    )
    ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    off = F.col("m") * PQ_SUB + 1
    sub_x = F.slice(F.col("x"), off, PQ_SUB)
    sub_c = F.slice(F.col("c"), off, PQ_SUB)
    dist = F.aggregate(
        F.zip_with(sub_x, sub_c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    # spread: the 256-fold ADC distance grid per vector runs at full
    # width, not inside the one-row-group scan task.
    return (
        spread(e.select("vec_id", emb.alias("x")), "vec_id")
        .crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(cb))
        .select("vec_id", "m", "k", dist.alias("dist"))
        .groupBy("vec_id", "m")
        .agg(
            F.min(F.struct(F.col("dist").alias("d"), F.col("k").alias("k"))).alias("mk"),
            F.min("dist").alias("dist"),
        )
        .select("vec_id", "m", F.col("mk.k").alias("code"), "dist")
    )


SEG_WORDS = 20  # non-overlapping segment width (the "line" unit)


@query(
    "dedup_segments",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS_SQL} AS words FROM documents
    ), seg AS (
      SELECT doc_id,
             CAST(start / {SEG_WORDS} AS BIGINT) AS seg_id,
             md5(array_to_string(words[start + 1 : start + {SEG_WORDS}], ' ')) AS h
      FROM (SELECT doc_id, words, unnest(range(0, len(words), {SEG_WORDS})) AS start
            FROM w WHERE len(words) > 0)
    ), rk AS (
      SELECT doc_id, seg_id,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_id) AS rk
      FROM seg
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)                      AS n_segments,
           CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS kept_frac
    FROM rk GROUP BY doc_id
    """,
    doc=f"segment-level dedup (CCNet/RefinedWeb line-dedup shape): split every doc into "
    f"non-overlapping {SEG_WORDS}-word segments (the fixture's docs are single-line, so "
    f"fixed word windows stand in for lines), hash each, keep only the globally-first "
    f"occurrence (rank by (doc_id, seg_id) within hash), report per-doc survival. The "
    f"segment explode is map-side; the rank is one shuffle on the segment hash — duplicate "
    f"groups are the only skew and boilerplate hashes are bounded by corpus repetition "
    f"(north-star pipeline)",
    tags=("pipeline", "dedup"),
)
def dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = whitespace_tokens("text")
    base = d.select("doc_id", words.alias("words")).filter(F.size("words") > 0)
    segs = base.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), F.size("words") - 1, F.lit(SEG_WORDS))).alias(
            "seg_id", "start"
        ),
        F.col("words"),
    ).select(
        "doc_id",
        F.col("seg_id").cast("bigint").alias("seg_id"),
        F.md5(F.array_join(F.slice("words", F.col("start") + 1, SEG_WORDS), " ")).alias("h"),
    )
    rk = F.row_number().over(W.partitionBy("h").orderBy("doc_id", "seg_id"))
    kept = F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
    return (
        segs.withColumn("rk", rk)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            kept.cast("bigint").alias("n_kept"),
            F.round(kept / F.count(F.lit(1)), 6).alias("kept_frac"),
        )
    )


PACK_BUDGET = 256  # whitespace-token budget per packed training sequence


@query(
    "doc_packing",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ), placed AS (
      SELECT source, n_tokens,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                        / {PACK_BUDGET}) AS BIGINT) AS bin_id
      FROM t
    )
    SELECT source, bin_id,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(CAST(sum(n_tokens) AS DOUBLE) / {PACK_BUDGET}, 6) AS fill_frac
    FROM placed GROUP BY source, bin_id
    """,
    doc=f"sequence packing: concatenate docs (deterministic doc_id order) into "
    f"{PACK_BUDGET}-token training sequences per source — the packing stage that turns a "
    f"deduped corpus into fixed-length LM batches. bin = floor(running-prefix/budget), a "
    f"per-source window cumsum, so each source shard packs independently (partitionBy "
    f"source — no global single-partition window) and a 100 TB corpus packs shard-parallel "
    f"(north-star pipeline)",
    tags=("pipeline", "text"),
)
def doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = whitespace_tokens("text")
    t = d.select("source", "doc_id", F.size(words).cast("bigint").alias("n_tokens"))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    bin_id = F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET)
    return (
        t.select("source", "n_tokens", bin_id.cast("bigint").alias("bin_id"))
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.sum("n_tokens") / F.lit(float(PACK_BUDGET)), 6).alias("fill_frac"),
        )
    )


@query(
    "embedding_pq_train",
    oracle=f"""
    WITH ms AS (
      SELECT unnest(range({PQ_M})) AS m
    ), sub AS (
      SELECT vec_id, m,
             list_transform(generate_series(1, {PQ_SUB}),
                            i -> CAST(embedding[m * {PQ_SUB} + i] AS DOUBLE)) AS sx
      FROM embeddings CROSS JOIN ms
    ), cb0 AS (
      SELECT m, vec_id AS k, sx AS cv FROM sub WHERE vec_id < {PQ_K}
    ), a0 AS (
      SELECT vec_id, m, sx, k AS cluster FROM (
        SELECT s.vec_id, s.m, s.sx, c.k,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY list_sum(list_transform(generate_series(1, {PQ_SUB}),
                          i -> (s.sx[i] - c.cv[i]) * (s.sx[i] - c.cv[i]))), c.k
               ) AS rn
        FROM sub s JOIN cb0 c ON s.m = c.m
      ) WHERE rn = 1
    ), dims AS (
      SELECT unnest(range(1, {PQ_SUB} + 1)) AS dim
    ), upd AS (
      SELECT m, cluster, dim,
             CAST(sum(CAST(round(sx[dim], 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS cval
      FROM a0 CROSS JOIN dims GROUP BY m, cluster, dim
    ), cb1 AS (
      SELECT m, cluster AS k, list(cval ORDER BY dim) AS cv FROM upd GROUP BY m, cluster
    ), a1 AS (
      SELECT vec_id, m, k AS cluster FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY list_sum(list_transform(generate_series(1, {PQ_SUB}),
                          i -> (s.sx[i] - c.cv[i]) * (s.sx[i] - c.cv[i]))), c.k
               ) AS rn
        FROM sub s JOIN cb1 c ON s.m = c.m
      ) WHERE rn = 1
    ), before AS (
      SELECT m, cluster, CAST(count(*) AS BIGINT) AS n_before FROM a0 GROUP BY m, cluster
    ), after AS (
      SELECT m, cluster, CAST(count(*) AS BIGINT) AS n_after FROM a1 GROUP BY m, cluster
    )
    SELECT b.m, b.cluster,
           b.n_before,
           CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after,
           c.cv[1] AS c_dim1,
           c.cv[2] AS c_dim2
    FROM before b
    LEFT JOIN after a ON b.m = a.m AND b.cluster = a.cluster
    JOIN cb1 c ON b.m = c.m AND b.cluster = c.k
    """,
    doc=f"PQ codebook TRAINING: one exact Lloyd iteration independently in each of the "
    f"{PQ_M} subspaces (assign subvectors to the {PQ_K} seed centroids, refit centroids as "
    f"decimal-exact per-dim means, reassign) — the k-means step that turns "
    f"embedding_quantize_pq's static codebook into a trained one. Distances fold "
    f"dim-by-dim identically on both engines and means route through DECIMAL(18,6), so "
    f"the trained codebook and both assignment rounds are value-exact, not tolerance-"
    f"banded. Codebooks broadcast; each round is one scan + partial-agg shuffle per "
    f"subspace — scan-shaped at 100 TB (north-star pipeline / IVF-PQ training)",
    tags=("pipeline", "similarity"),
)
def embedding_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    ms = F.broadcast(spark.range(PQ_M).select(F.col("id").cast("int").alias("m")))
    # Subvectors feed BOTH assignment rounds, and the first assignment
    # feeds both the refit and the before-counts — cache them so each
    # Lloyd stage is computed once (the standard iterative-algorithm
    # pattern; at cluster scale this is the per-iteration checkpoint).
    sub = (
        spread(e.select("vec_id", emb.alias("x")), "vec_id")
        .crossJoin(ms)
        .select("vec_id", "m", F.slice("x", F.col("m") * PQ_SUB + 1, PQ_SUB).alias("sx"))
        .cache()
    )
    cb0 = sub.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("k"), F.col("sx").alias("cv")
    )

    def assign(points: DataFrame, cents: DataFrame) -> DataFrame:
        d2 = F.aggregate(
            F.zip_with(F.col("sx"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (
            points.join(F.broadcast(cents), "m")
            .select("vec_id", "m", "sx", "k", d2.alias("d2"))
            .groupBy("vec_id", "m")
            .agg(
                F.min(F.struct(F.col("d2").alias("d"), F.col("k").alias("k"))).alias("mk"),
                F.first("sx").alias("sx"),
            )
            .select("vec_id", "m", "sx", F.col("mk.k").alias("cluster"))
        )

    a0 = assign(sub, cb0).cache()
    dims = F.broadcast(spark.range(1, PQ_SUB + 1).select(F.col("id").cast("int").alias("dim")))
    upd = (
        a0.crossJoin(dims)
        .select(
            "m",
            "cluster",
            "dim",
            quantize(F.element_at("sx", F.col("dim")), 6).alias("v6"),
        )
        .groupBy("m", "cluster", "dim")
        .agg((F.sum("v6").cast("double") / F.count(F.lit(1))).alias("cval"))
    )
    cb1 = (
        upd.groupBy("m", "cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))), lambda s: s["cval"]
            ).alias("cv")
        )
        .select("m", F.col("cluster").alias("k"), "cv")
    )
    a1 = assign(sub, cb1)
    before = a0.groupBy("m", "cluster").agg(F.count(F.lit(1)).alias("n_before"))
    after = a1.groupBy("m", "cluster").agg(F.count(F.lit(1)).alias("n_after"))
    # The result-side relations are bounded by the PQ_M*PQ_K constant
    # (32 rows at any data scale) — broadcast them so the final joins
    # never plan a shuffle.
    return (
        before.join(F.broadcast(after), ["m", "cluster"], "left")
        .join(F.broadcast(cb1.withColumnRenamed("k", "cluster")), ["m", "cluster"])
        .select(
            "m",
            "cluster",
            "n_before",
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
            # The refit means are bit-identical by construction (exact
            # DECIMAL sum -> correctly-rounded double divide), so they
            # ship raw: re-rounding here would reintroduce the
            # round()-vs-round() half-boundary divergence between
            # engines that the decimal routing exists to avoid.
            F.element_at("cv", 1).alias("c_dim1"),
            F.element_at("cv", 2).alias("c_dim2"),
        )
    )


@query(
    "corpus_filter_pipeline",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, text,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len({_WORDS_SQL}) AS BIGINT) AS n_words,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ), surv AS (
      SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM base
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(w.words) - 1),
                    i -> concat(w.words[i], ' ', w.words[i+1], ' ', w.words[i+2]))) AS shingle
      FROM (SELECT doc_id, {_WORDS_SQL} AS words FROM documents) w
      WHERE len(w.words) >= 3
    ), contaminated AS (
      SELECT c.doc_id
      FROM (SELECT doc_id, shingle FROM sh WHERE doc_id % {DECON_MOD} <> 0) c
      JOIN (SELECT shingle FROM sh WHERE doc_id % {DECON_MOD} = 0) b ON c.shingle = b.shingle
      GROUP BY c.doc_id
      HAVING count(DISTINCT c.shingle) >= {DECON_MIN_SHINGLES}
    ), verdicts AS (
      SELECT source, n_chars,
             CASE WHEN doc_id % {DECON_MOD} = 0 THEN 'drop_holdout'
                  WHEN doc_id <> keep_id THEN 'drop_duplicate'
                  WHEN doc_id IN (SELECT doc_id FROM contaminated) THEN 'drop_contaminated'
                  WHEN NOT (n_words >= 5 AND n_chars / greatest(CAST(n_words AS DOUBLE), 1) BETWEEN 2 AND 12)
                       THEN 'drop_quality'
                  ELSE 'kept' END AS verdict
      FROM surv
    )
    SELECT source, verdict,
           CAST(count(*) AS BIGINT)          AS n_docs,
           CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars_total
    FROM verdicts GROUP BY source, verdict
    """,
    doc=f"the end-to-end corpus cleaning pipeline (C4/RefinedWeb shape) as ONE declarative "
    f"plan: benchmark-holdout exclusion, exact-dedup survivorship (min-id per normalized "
    f"fingerprint), n-gram decontamination (>={DECON_MIN_SHINGLES} shared 3-grams with the "
    f"holdout), and the Gopher-style quality gate, applied in precedence order with a "
    f"per-source audit of every drop reason. Each stage is the registry operator it reuses "
    f"(dedup_exact, decontaminate_corpus, text_quality_score); composing them in one query "
    f"lets Catalyst share the scan and prune columns across all four — at 100 TB the "
    f"pipeline is one pass over the corpus plus the dedup window and the broadcast "
    f"contamination join (north-star pipeline capstone)",
    tags=("pipeline", "dedup", "text"),
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from http_datafusion_spark.operators.dedup import shingled_docs

    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = whitespace_tokens("text")
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    base = d.select(
        "doc_id",
        "source",
        F.length("text").cast("double").alias("n_chars"),
        F.size(words).cast("bigint").alias("n_words"),
        fp.alias("fp"),
    )
    surv = base.withColumn("keep_id", F.min("doc_id").over(W.partitionBy("fp")))

    sh = shingled_docs(spark, sf_dir)
    is_bench = F.col("doc_id") % DECON_MOD == 0
    contaminated = (
        sh.filter(~is_bench)
        .join(F.broadcast(sh.filter(is_bench).select("shingle").distinct()), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_SHINGLES)
        .select("doc_id", F.lit(True).alias("is_contaminated"))
    )

    quality_ok = (F.col("n_words") >= 5) & (
        (F.col("n_chars") / F.greatest(F.col("n_words").cast("double"), F.lit(1.0))).between(2, 12)
    )
    verdict = (
        F.when(F.col("doc_id") % DECON_MOD == 0, "drop_holdout")
        .when(F.col("doc_id") != F.col("keep_id"), "drop_duplicate")
        .when(F.col("is_contaminated"), "drop_contaminated")
        .when(~quality_ok, "drop_quality")
        .otherwise("kept")
    )
    return (
        surv.join(contaminated, "doc_id", "left")
        .select("source", "n_chars", verdict.alias("verdict"))
        .groupBy("source", "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("n_chars_total"),
        )
    )


def _index_build_oracle() -> str:
    from http_datafusion_spark.operators.similarity import _IVF_ASSIGN_SQL

    pq_oracle = REGISTRY["embedding_quantize_pq"].oracle
    return f"""
    WITH {_IVF_ASSIGN_SQL}, pq AS ({pq_oracle})
    SELECT a.bucket,
           CAST(count(*) AS BIGINT)                 AS n_vectors,
           CAST(count(DISTINCT pq.code_0) AS BIGINT) AS n_code0_used,
           CAST(sum(CAST(pq.q_err AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_q_err
    FROM assigned a JOIN pq ON a.vec_id = pq.vec_id
    GROUP BY a.bucket
    """


@query(
    "embedding_index_build",
    oracle=_index_build_oracle(),
    doc="ANN index build capstone: IVF bucket assignment (broadcast centroids, Arrow-batched "
    "fold-exact scorer) joined with the PQ codes of every vector — the IVF-PQ layout an "
    "embedding store ships to serving, summarized per bucket (size, codebook utilization, "
    "exact-decimal mean reconstruction error). Both stages are single scans against "
    "broadcast codebooks; the join is on vec_id and the rollup is one partial-agg shuffle "
    "on bucket — at 100 TB the build is two passes over the vectors, no all-pairs work "
    "(north-star pipeline / similarity capstone)",
    tags=("pipeline", "similarity"),
)
def embedding_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.similarity import ivf_assignments

    ivf = ivf_assignments(spark, sf_dir).select("vec_id", "bucket")
    codes = embedding_quantize_pq(spark, sf_dir).select("vec_id", "code_0", "q_err")
    return (
        ivf.join(codes, "vec_id")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count_distinct("code_0").alias("n_code0_used"),
            (
                F.sum(F.col("q_err").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_q_err"),
        )
    )


def write_embedding_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the IVF-PQ index PARTITIONED BY bucket — the serving
    layout: a probe of nprobe buckets becomes a partition-pruned scan
    that reads only those directories, never the full index. At 100 TB
    this is the difference between an ANN query touching ~nprobe/K of
    the store and touching all of it."""
    from http_datafusion_spark.operators.similarity import ivf_assignments

    ivf = ivf_assignments(spark, sf_dir).select("vec_id", "bucket")
    codes = embedding_quantize_pq(spark, sf_dir)
    ivf.join(codes, "vec_id").write.mode("overwrite").partitionBy("bucket").parquet(path)


def embedding_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """The IVF-PQ index of ``sf_dir``'s embeddings, written once per
    session and source fingerprint (plans/tables.derived_dir)."""
    return derived_dir(
        spark, "index", sf_dir, ("embeddings",), lambda p: write_embedding_index(spark, sf_dir, p)
    )


def _index_roundtrip_oracle() -> str:
    from http_datafusion_spark.operators.similarity import (
        _IVF_ASSIGN_SQL,
        N_PROBE,
        QUERY_VEC_ID,
    )

    pq_oracle = REGISTRY["embedding_quantize_pq"].oracle
    return f"""
    WITH {_IVF_ASSIGN_SQL}, pq AS ({pq_oracle}),
    q AS (
      SELECT embedding AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}
    ), probe AS (
      SELECT cid
      FROM cents, q
      ORDER BY list_sum(list_transform(range(1, len(cv) + 1),
               i -> (CAST(cv[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))
                  * (CAST(cv[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE)))), cid
      LIMIT {N_PROBE}
    )
    SELECT a.bucket,
           CAST(count(*) AS BIGINT)                  AS n_vectors,
           CAST(count(DISTINCT pq.code_0) AS BIGINT) AS n_code0_used,
           CAST(sum(CAST(pq.q_err AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_q_err
    FROM assigned a JOIN pq ON a.vec_id = pq.vec_id
    WHERE a.bucket IN (SELECT cid FROM probe)
    GROUP BY a.bucket
    """


@query(
    "embedding_index_roundtrip",
    oracle=_index_roundtrip_oracle(),
    doc="materialized ANN serving layout end-to-end: the IVF-PQ index is WRITTEN partitioned "
    "by bucket (write_embedding_index), then a query's nprobe probe set is read back as a "
    "PARTITION-PRUNED scan (PartitionFilters on the bucket directories — asserted by "
    "tests/test_plans.py) and summarized per probed bucket. The oracle recomputes the same "
    "stats from the raw tables, proving the round-trip preserved every row and value. At "
    "100 TB the serving read touches nprobe/K of the store (north-star similarity scale path)",
    tags=("pipeline", "similarity"),
)
def embedding_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from http_datafusion_spark.operators.similarity import (
        CENTROID_VEC_IDS,
        N_PROBE,
        QUERY_VEC_ID,
        _fetch_vectors,
        fold_sqdist,
    )

    path = embedding_index_dir(spark, sf_dir)
    # Probe selection: driver arithmetic over the K cached centroids
    # (an ANN client holds its codebook) — same rule as sim_ivf_topk.
    vecs = _fetch_vectors(spark, sf_dir, (QUERY_VEC_ID, *CENTROID_VEC_IDS))
    qv = vecs[QUERY_VEC_ID]
    cids = sorted(CENTROID_VEC_IDS)
    C = np.stack([vecs[c] for c in cids])
    qd2 = fold_sqdist(C, qv[None, :])[:, 0]
    order = sorted(range(len(cids)), key=lambda i: (qd2[i], cids[i]))
    probe_ids = [cids[i] for i in order[:N_PROBE]]
    idx = spark.read.parquet(path).filter(F.col("bucket").isin(probe_ids))
    return (
        idx.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count_distinct("code_0").alias("n_code0_used"),
            (
                F.sum(F.col("q_err").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_q_err"),
        )
    )


# Deterministic epoch shuffle: every epoch is a pure function of
# (seed, doc_id), so a training run can be resumed or re-sharded with
# no stored state. Shard count is the parallelism unit at scale — each
# shard sorts only its own hash range.
N_SHARDS = 16
SHUFFLE_EPOCH_SEED = "ep1"
# Sub-buckets per shard for the two-phase within-shard rank (window
# guard): md5_int is <= 60 bits, so hb = h >> 54 yields 64 buckets
# that are ORDER-ALIGNED with h (hb monotone in h; equal h -> equal
# hb), letting the within-shard position telescope from per-(shard,hb)
# counts + a bucket-local row_number. Sort parallelism becomes
# N_SHARDS x N_SHARD_SUBBUCKETS instead of N_SHARDS.
N_SHARD_SUBBUCKETS = 64
_SUBBUCKET_SHIFT = 54


@query(
    "train_shuffle_shards",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             {md5_int_sql(f"concat('{SHUFFLE_EPOCH_SEED}|', CAST(doc_id AS VARCHAR))")} AS h
      FROM documents
    ), p AS (
      SELECT doc_id, n_chars, h,
             h % {N_SHARDS} AS shard,
             row_number() OVER (PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id) AS pos
      FROM h
    )
    SELECT CAST(shard AS BIGINT)                              AS shard,
           CAST(count(*) AS BIGINT)                           AS n_docs,
           CAST(sum(n_chars) AS BIGINT)                       AS sum_chars,
           CAST(max(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT) AS first_doc,
           CAST(sum(pos * doc_id) AS BIGINT)                  AS perm_checksum
    FROM p GROUP BY shard
    """,
    doc=f"deterministic global shuffle for training epochs: md5('{SHUFFLE_EPOCH_SEED}|'||doc_id) "
    f"orders the corpus, docs land in {N_SHARDS} hash shards, and within-shard position is a "
    f"TWO-PHASE rank: per-(shard, h>>{_SUBBUCKET_SHIFT}) counts telescope "
    f"into exclusive offsets over the {N_SHARDS}x{N_SHARD_SUBBUCKETS}-row count table, and "
    f"pos = offset + bucket-local row_number — bit-identical to the single per-shard window "
    f"the oracle runs, but the sort parallelism is {N_SHARDS}x{N_SHARD_SUBBUCKETS} keys "
    f"instead of {N_SHARDS} constant reducers each sorting corpus/{N_SHARDS}. Rerunnable "
    f"(no rand()), parallelism-independent, and the permutation is PROVEN to the oracle via "
    f"sum(pos*doc_id) per shard (an order-sensitive checksum), not just counts "
    f"(north-star pipeline)",
    tags=("pipeline", "sampling"),
)
def train_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    h = md5_int(F.concat(F.lit(f"{SHUFFLE_EPOCH_SEED}|"), F.col("doc_id").cast("string")))
    base = (
        d.select("doc_id", "n_chars", h.alias("h"))
        .withColumn("shard", (F.col("h") % N_SHARDS).cast("bigint"))
        .withColumn("hb", F.shiftright(F.col("h"), _SUBBUCKET_SHIFT))
    )
    counts = base.groupBy("shard", "hb").agg(F.count(F.lit(1)).alias("cnt"))
    off = F.coalesce(
        F.sum("cnt").over(
            W.partitionBy("shard").orderBy("hb").rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    offsets = counts.select("shard", "hb", off.alias("off"))
    local = F.row_number().over(W.partitionBy("shard", "hb").orderBy("h", "doc_id"))
    return (
        # hint-free: the offsets side is <= N_SHARDS x N_SHARD_SUBBUCKETS
        # rows by key-domain construction, but it is fact-DERIVED, so per
        # repo convention AQE decides the broadcast at runtime
        base.join(offsets, ["shard", "hb"])
        .withColumn("pos", F.col("off") + local)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.max(F.when(F.col("pos") == 1, F.col("doc_id"))).cast("bigint").alias("first_doc"),
            F.sum(F.col("pos") * F.col("doc_id")).cast("bigint").alias("perm_checksum"),
        )
    )


SEQ_BUCKET_W = 64  # length-bucket width (tokens): bucket cap = ceil(len/W)*W


@query(
    "sequence_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> ''))
                  AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT CAST(CAST(ceil(CAST(n_tok AS DOUBLE) / {SEQ_BUCKET_W}) AS BIGINT) * {SEQ_BUCKET_W}
                AS BIGINT) AS bucket_cap,
           CAST(count(*) AS BIGINT)  AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           CAST(CAST(ceil(CAST(n_tok AS DOUBLE) / {SEQ_BUCKET_W}) AS BIGINT) * {SEQ_BUCKET_W}
                AS BIGINT) * CAST(count(*) AS BIGINT) - CAST(sum(n_tok) AS BIGINT)
             AS padding_waste,
           round(CAST(sum(n_tok) AS DOUBLE)
                 / (CAST(CAST(ceil(CAST(n_tok AS DOUBLE) / {SEQ_BUCKET_W}) AS BIGINT)
                    * {SEQ_BUCKET_W} AS BIGINT) * count(*)), 6) AS pack_efficiency
    FROM t WHERE n_tok > 0
    GROUP BY 1
    """,
    doc=f"length-bucketed batching audit: docs grouped into {SEQ_BUCKET_W}-token "
    f"length buckets (bucket cap = ceil(len/{SEQ_BUCKET_W})*{SEQ_BUCKET_W}) with "
    f"padding-waste and pack-efficiency per bucket — the stats that drive bucket "
    f"boundaries for padded batching (complement of doc_packing's exact packing). "
    f"Map-side token count, one bounded-cardinality keyed aggregation "
    f"(north-star pipeline: batch-shape planning)",
    tags=("pipeline", "text", "bench"),
)
def sequence_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    n_tok = token_count(F.col("text")).cast("bigint")
    cap = (F.ceil(n_tok.cast("double") / SEQ_BUCKET_W) * SEQ_BUCKET_W).cast("bigint")
    base = d.select(n_tok.alias("n_tok"), cap.alias("bucket_cap")).filter(F.col("n_tok") > 0)
    return base.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        (F.col("bucket_cap") * F.count(F.lit(1)) - F.sum("n_tok"))
        .cast("bigint")
        .alias("padding_waste"),
        F.round(
            F.sum("n_tok").cast("double") / (F.col("bucket_cap") * F.count(F.lit(1))), 6
        ).alias("pack_efficiency"),
    )


# Fixed training-sequence length for the packing audit (the usual
# pre-training context shape; the audit compares strategies, so the
# absolute value only scales the numbers).
PACK_SEQ_LEN = 512
_PACK_TOKS_SQL = (
    "CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> ''))"
    " AS BIGINT)"
)


@query(
    "sequence_packing_audit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, n,
             {md5_int_sql("concat('pack|', CAST(doc_id AS VARCHAR))")} AS h
      FROM (SELECT doc_id, source, {_PACK_TOKS_SQL} AS n FROM documents)
      WHERE n > 0
    ), c AS (
      SELECT source, doc_id, n,
             sum(n) OVER (PARTITION BY source ORDER BY h, doc_id
                          ROWS UNBOUNDED PRECEDING) - n AS start
      FROM t
    ), persrc AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS docs_s,
             CAST(sum(n) AS BIGINT) AS tot_s,
             CAST(sum((n + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN}) AS BIGINT) AS ceil_l_s,
             CAST(sum(((n + {SEQ_BUCKET_W - 1}) // {SEQ_BUCKET_W}) * {SEQ_BUCKET_W})
                  AS BIGINT) AS slots_w_s,
             CAST(sum(CASE WHEN start // {PACK_SEQ_LEN}
                           <> (start + n - 1) // {PACK_SEQ_LEN}
                      THEN 1 ELSE 0 END) AS BIGINT) AS bnd_s
      FROM c GROUP BY source
    ), pad AS (
      SELECT 'pad_each' AS strategy,
             CAST(sum(ceil_l_s) AS BIGINT) AS n_seqs,
             CAST(sum(tot_s) AS BIGINT) AS total_tokens,
             CAST({PACK_SEQ_LEN} * sum(ceil_l_s) AS BIGINT) AS padded_slots,
             CAST(0 AS BIGINT) AS boundary_docs
      FROM persrc
    ), cat AS (
      SELECT 'concat_stream',
             CAST(sum((tot_s + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN}) AS BIGINT),
             CAST(sum(tot_s) AS BIGINT),
             CAST({PACK_SEQ_LEN}
                  * sum((tot_s + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN}) AS BIGINT),
             CAST(sum(bnd_s) AS BIGINT)
      FROM persrc
    ), buck AS (
      SELECT 'bucket_pad',
             CAST(sum(docs_s) AS BIGINT),
             CAST(sum(tot_s) AS BIGINT),
             CAST(sum(slots_w_s) AS BIGINT),
             CAST(0 AS BIGINT)
      FROM persrc
    )
    SELECT strategy, n_seqs, total_tokens, padded_slots,
           padded_slots - total_tokens AS padding_waste,
           round(total_tokens * 1.0 / padded_slots, 6) AS fill_rate,
           boundary_docs
    FROM (SELECT * FROM pad UNION ALL SELECT * FROM cat UNION ALL SELECT * FROM buck)
    ORDER BY strategy
    """,
    doc=f"sequence-packing efficiency audit: the corpus binned into "
    f"{PACK_SEQ_LEN}-token training sequences under the three production "
    f"strategies — pad_each (one doc per sequence, long docs split), "
    f"concat_stream (per-source document stream concatenated then split at "
    f"{PACK_SEQ_LEN} — the GPT-style default, with boundary_docs counting "
    f"docs straddling a sequence boundary, the attention-contamination "
    f"proxy), bucket_pad (pad to the {SEQ_BUCKET_W}-token length bucket, "
    f"the sequence_length_buckets arc) — emitting sequences, padded slots, "
    f"waste and fill-rate per strategy; completes the curriculum -> mixture "
    f"-> packing arc. ONE corpus pass: the stream "
    f"offsets use the train_shuffle_shards two-phase shape (per-(source, "
    f"h>>{_SUBBUCKET_SHIFT}) sums telescope into exclusive offsets, then a "
    f"bucket-local cumsum), so no per-source reducer ever sorts more than "
    f"corpus/(sources x {N_SHARD_SUBBUCKETS}) rows; everything after is a "
    f"|sources|-row partial table (north-star pipeline / batch-shape "
    f"planning)",
    tags=("pipeline", "text"),
)
def sequence_packing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    L, Wd = PACK_SEQ_LEN, SEQ_BUCKET_W
    d = load_tables(spark, sf_dir, "documents")["documents"]
    h = md5_int(F.concat(F.lit("pack|"), F.col("doc_id").cast("string")))
    t = (
        d.select(
            "source",
            "doc_id",
            token_count(F.col("text")).cast("bigint").alias("n"),
            h.alias("h"),
        )
        .filter(F.col("n") > 0)
        .withColumn("hb", F.shiftright(F.col("h"), _SUBBUCKET_SHIFT))
    )
    counts = t.groupBy("source", "hb").agg(F.sum("n").alias("bsum"))
    off = F.coalesce(
        F.sum("bsum").over(
            W.partitionBy("source").orderBy("hb").rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    offsets = counts.select("source", "hb", off.alias("off"))
    lcum = F.sum("n").over(
        W.partitionBy("source", "hb").orderBy("h", "doc_id").rowsBetween(
            W.unboundedPreceding, 0
        )
    )
    # hint-free offsets join: <= |sources| x N_SHARD_SUBBUCKETS rows by
    # key-domain construction but fact-derived, so AQE decides
    start = (F.col("off") + lcum - F.col("n")).alias("start")
    ceil_l = F.floor((F.col("n") + (L - 1)) / L).cast("bigint")
    slots_w = (F.floor((F.col("n") + (Wd - 1)) / Wd) * Wd).cast("bigint")
    straddle = (
        F.floor(F.col("start") / L) != F.floor((F.col("start") + F.col("n") - 1) / L)
    ).cast("long")
    persrc = (
        t.join(offsets, ["source", "hb"])
        .select("source", "n", start)
        .select("source", "n", "start", ceil_l.alias("cl"), slots_w.alias("sw"),
                straddle.alias("bd"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs_s"),
            F.sum("n").cast("bigint").alias("tot_s"),
            F.sum("cl").cast("bigint").alias("ceil_l_s"),
            F.sum("sw").cast("bigint").alias("slots_w_s"),
            F.sum("bd").cast("bigint").alias("bnd_s"),
        )
    )
    # ONE corpus pass: the three strategy branches below each aggregate
    # this |sources|-row partial — checkpoint it so the union does not
    # re-derive the token scan 3x (same trade as curriculum_stage_plan)
    persrc = persrc.transform(pin)
    pad = persrc.agg(
        F.lit("pad_each").alias("strategy"),
        F.sum("ceil_l_s").cast("bigint").alias("n_seqs"),
        F.sum("tot_s").cast("bigint").alias("total_tokens"),
        (F.lit(L) * F.sum("ceil_l_s")).cast("bigint").alias("padded_slots"),
        F.lit(0).cast("bigint").alias("boundary_docs"),
    )
    cat = persrc.agg(
        F.lit("concat_stream").alias("strategy"),
        F.sum(F.floor((F.col("tot_s") + (L - 1)) / L)).cast("bigint").alias("n_seqs"),
        F.sum("tot_s").cast("bigint").alias("total_tokens"),
        (F.lit(L) * F.sum(F.floor((F.col("tot_s") + (L - 1)) / L)))
        .cast("bigint")
        .alias("padded_slots"),
        F.sum("bnd_s").cast("bigint").alias("boundary_docs"),
    )
    buck = persrc.agg(
        F.lit("bucket_pad").alias("strategy"),
        F.sum("docs_s").cast("bigint").alias("n_seqs"),
        F.sum("tot_s").cast("bigint").alias("total_tokens"),
        F.sum("slots_w_s").cast("bigint").alias("padded_slots"),
        F.lit(0).cast("bigint").alias("boundary_docs"),
    )
    return (
        pad.unionAll(cat)
        .unionAll(buck)
        .select(
            "strategy",
            "n_seqs",
            "total_tokens",
            "padded_slots",
            (F.col("padded_slots") - F.col("total_tokens")).alias("padding_waste"),
            F.round(F.col("total_tokens") * 1.0 / F.col("padded_slots"), 6).alias(
                "fill_rate"
            ),
            "boundary_docs",
        )
        .orderBy("strategy")
    )


@query(
    "data_quality_audit",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations,
           CAST(count(*) - count(DISTINCT o_orderkey) = 0 AS BOOLEAN) AS passed
    FROM orders
    UNION ALL
    SELECT 'lineitem_orders_fk',
           CAST(count(*) AS BIGINT),
           CAST(count(*) = 0 AS BOOLEAN)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'customer_acctbal_complete',
           CAST(count(*) - count(c_acctbal) AS BIGINT),
           CAST(count(*) - count(c_acctbal) = 0 AS BOOLEAN)
    FROM customer
    UNION ALL
    SELECT 'lineitem_qty_in_range',
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0 AS BOOLEAN)
    FROM lineitem
    UNION ALL
    SELECT 'documents_text_nonempty',
           CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) = 0 AS BOOLEAN)
    FROM documents
    """,
    doc="data-quality audit (Deequ-style constraint suite as one declarative plan): "
    "PK uniqueness, referential integrity (anti-join), completeness, value-range, "
    "and non-empty-text checks, each one aggregate scan emitting (check, violations, "
    "passed) — the pre-training-ingest validation gate; every check is a partial "
    "aggregate or broadcast-anti-join, nothing row-materializes",
    tags=("pipeline",),
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint checks a 100 TB ingest runs before accepting a drop:
    independent aggregates over tiny outputs a scheduler can gate on.
    The two lineitem checks (FK integrity + quantity range) are FUSED
    into one pass: a single scan left-joins the DISTINCT order keys and
    one aggregate counts both unmatched rows and out-of-range
    quantities — the big table is read once (plan-asserted by
    tests/test_plans.py). Joining distinct keys (not raw orders) keeps
    lineitem row multiplicity intact even when orders carries duplicate
    PKs, so the qty-range count stays independent of the PK-uniqueness
    check's outcome (it must match a raw-lineitem count regardless)."""
    t = load_tables(spark, sf_dir, "orders", "lineitem", "customer", "documents")

    def check(name: str, violations):
        return (F.lit(name).alias("check_name"),
                violations.cast("bigint").alias("violations"),
                (violations == 0).alias("passed"))

    pk = t["orders"].agg(*check(
        "orders_pk_unique",
        F.count(F.lit(1)) - F.countDistinct("o_orderkey"),
    ))
    li_row = (
        t["lineitem"]
        .select("l_orderkey", "l_quantity")
        .join(
            t["orders"].select("o_orderkey").distinct(),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.sum(F.col("o_orderkey").isNull().cast("int")).cast("bigint").alias("fk"),
            F.sum(((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("int"))
            .cast("bigint")
            .alias("rng"),
        )
    )
    li_checks = li_row.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem_orders_fk").alias("check_name"),
                    F.col("fk").alias("violations"),
                ),
                F.struct(
                    F.lit("lineitem_qty_in_range").alias("check_name"),
                    F.col("rng").alias("violations"),
                ),
            )
        ).alias("c")
    ).select(
        "c.check_name", "c.violations", (F.col("c.violations") == 0).alias("passed")
    )
    complete = t["customer"].agg(*check(
        "customer_acctbal_complete",
        F.count(F.lit(1)) - F.count("c_acctbal"),
    ))
    nonempty = t["documents"].agg(*check(
        "documents_text_nonempty",
        F.sum((F.col("text").isNull() | (F.length("text") == 0)).cast("int")),
    ))
    return pk.unionAll(li_checks).unionAll(complete).unionAll(nonempty)


PSI_BIN_W = 50  # n_chars histogram width for the drift comparison


@query(
    "quality_drift_psi",
    oracle=f"""
    WITH b AS (
      SELECT source, CAST(floor(n_chars / {PSI_BIN_W}) AS BIGINT) AS bin FROM documents
    ), sb AS (
      SELECT source, bin, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY source, bin
    ), st AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sb GROUP BY source
    ), qb AS (
      SELECT bin, CAST(sum(c) AS BIGINT) AS cb FROM sb GROUP BY bin
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS total FROM documents
    ), terms AS (
      SELECT sb.source,
             CAST(round((sb.c * 1.0 / st.ns - qb.cb * 1.0 / n.total)
                        * ln((sb.c * 1.0 / st.ns) / (qb.cb * 1.0 / n.total)), 6)
                  AS DECIMAL(18,6)) AS term
      FROM sb JOIN st USING (source) JOIN qb USING (bin) CROSS JOIN n
    )
    SELECT source,
           round(CAST(sum(term) AS DOUBLE), 4) AS psi,
           CAST(count(*) AS BIGINT)            AS n_bins
    FROM terms
    GROUP BY source
    """,
    doc=f"population-stability-index drift monitor: each source's doc-length "
    f"histogram ({PSI_BIN_W}-char bins) vs the corpus baseline, "
    f"PSI = sum (p-q)*ln(p/q) over the source's occupied bins (absent-bin terms "
    f"omitted on both sides — same convention both engines). PSI > 0.2 is the "
    f"classic re-train/investigate trigger; 6dp-round-then-DECIMAL-sum keeps it "
    f"order-independent, and the shuffles carry only (source, bin) groups",
    tags=("pipeline",),
)
def quality_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift gates run on every recurring ingest: a source whose length
    (or score) distribution walks away from the corpus baseline gets
    flagged before it pollutes training mixes. All aggregation is on
    bounded (source, bin) keys — nothing scales with row count."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    b = d.select("source", F.floor(F.col("n_chars") / PSI_BIN_W).cast("bigint").alias("bin"))
    # (source, bin)-bounded cell table: pin it and derive BOTH marginals
    # AND the grand total from the cells instead of re-scanning the
    # corpus per consumer (4 documents scans) —
    # the plan is one corpus pass.
    sb = b.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).transform(pin)
    st = sb.groupBy("source").agg(F.sum("c").cast("bigint").alias("ns"))
    qb = sb.groupBy("bin").agg(F.sum("c").cast("bigint").alias("cb"))
    n = sb.agg(F.sum("c").cast("bigint").alias("total"))
    p = F.col("c") * 1.0 / F.col("ns")
    q = F.col("cb") * 1.0 / F.col("total")
    term = quantize((p - q) * F.log(p / q), 6)
    return (
        sb.join(st, "source")
        .join(qb, "bin")
        .crossJoin(F.broadcast(n))
        .select("source", term.alias("term"))
        .groupBy("source")
        .agg(
            F.round(F.sum("term").cast("double"), 4).alias("psi"),
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        )
    )


CORPUS_SHARDS = 8


@query(
    "corpus_build_roundtrip",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             CAST(length(text) AS BIGINT) AS n_chars,
             len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_words,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ), surv AS (
      SELECT b.doc_id, b.source, b.n_chars,
             {md5_int_sql("concat('cshard|', CAST(b.doc_id AS VARCHAR))")} % {CORPUS_SHARDS} AS shard
      FROM base b
      JOIN (SELECT fp, min(doc_id) AS keep_id FROM base GROUP BY fp) k
        ON b.fp = k.fp AND b.doc_id = k.keep_id
      WHERE b.doc_id % {DECON_MOD} <> 0
        AND b.n_words >= 5
        AND CAST(b.n_chars AS DOUBLE) / greatest(CAST(b.n_words AS DOUBLE), 1.0) BETWEEN 2 AND 12
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM surv
    WHERE shard IN (0, 1)
    GROUP BY shard
    """,
    doc=f"corpus build capstone, MATERIALIZED end-to-end: holdout exclusion + exact-dedup "
    f"survivorship + quality gate select the training rows, each is assigned a "
    f"deterministic md5 shard of {CORPUS_SHARDS}, and the cleaned corpus is WRITTEN "
    f"partitioned by shard (the layout a trainer's data loader consumes); two shards are "
    f"then read back as a partition-pruned scan and summarized (doc/char counts + an "
    f"id-sum checksum proving row-level fidelity). The oracle recomputes the same stats "
    f"from the raw table — the write/read round-trip must preserve every surviving row "
    f"exactly. At 100 TB: one corpus pass + a partitioned write; every downstream epoch "
    f"reads only its shards (north-star pipeline capstone)",
    tags=("pipeline",),
)
def corpus_build_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = whitespace_tokens("text")
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    base = d.select(
        "doc_id",
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(words).cast("bigint").alias("n_words"),
        fp.alias("fp"),
    )
    keep_id = F.min("doc_id").over(W.partitionBy("fp"))
    quality = (F.col("n_words") >= 5) & (
        (F.col("n_chars").cast("double") / F.greatest(F.col("n_words").cast("double"), F.lit(1.0)))
        .between(2.0, 12.0)
    )
    shard = md5_int(F.concat(F.lit("cshard|"), F.col("doc_id").cast("string"))) % CORPUS_SHARDS
    surv = (
        base.withColumn("keep_id", keep_id)
        .filter((F.col("doc_id") % DECON_MOD != 0) & (F.col("doc_id") == F.col("keep_id")) & quality)
        .select("doc_id", "source", "n_chars", shard.alias("shard"))
    )
    path = derived_dir(
        spark,
        "corpus",
        sf_dir,
        ("documents",),
        lambda p: surv.write.mode("overwrite").partitionBy("shard").parquet(p),
    )
    back = spark.read.parquet(path).filter(F.col("shard").isin(0, 1))
    return back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
        F.count_distinct("source").alias("n_sources"),
    )


# ---------------------------- materialized-view maintenance (merge law)

AGG_MERGE_CUTOFF = "1998-01-01"  # base snapshot < cutoff <= delta batch


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS month_idx,
           o_orderpriority,
           CAST(count(*) AS BIGINT)                                    AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)    AS sum_total,
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)    AS min_total,
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)    AS max_total,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4)                                        AS avg_total
    FROM orders
    GROUP BY 1, 2
    """,
    doc="incremental aggregate maintenance — the materialized-view merge law: the "
    f"per-(month, priority) sales rollup is computed as BASE partials (orders < "
    f"{AGG_MERGE_CUTOFF}) merged with DELTA partials (orders >= cutoff) by the "
    "mergeable-aggregate algebra (count: sum, sum: sum, min: min, max: max; avg "
    "derived from merged sum/count — never averaged averages). The oracle "
    "recomputes the rollup from scratch over ALL orders, proving "
    "merge(partial(base), partial(delta)) == full recompute value-exactly "
    "(money sums ride the int64 fixed-point path, functions/fixedpoint.py, so "
    "the identity is exact, not approximate). This is the update path of every "
    "continuous rollup at 100 TB: a daily batch touches only its delta, cost "
    "O(delta + groups), never O(history) (north-star pipeline / SURVEY §2.4 "
    "partial+final)",
    tags=("pipeline", "agg"),
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    month_idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            month_idx.alias("month_idx"), "o_orderpriority"
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(i100("o_totalprice")).alias("s100"),
            F.min(i100("o_totalprice")).alias("min100"),
            F.max(i100("o_totalprice")).alias("max100"),
        )

    base = partials(o.filter(F.col("o_orderdate") < AGG_MERGE_CUTOFF))
    delta = partials(o.filter(F.col("o_orderdate") >= AGG_MERGE_CUTOFF))
    merged = (
        base.unionByName(delta)
        .groupBy("month_idx", "o_orderpriority")
        .agg(
            F.sum("n").cast("bigint").alias("n_orders"),
            dsum("s100").alias("s100"),
            F.min("min100").alias("min100"),
            F.max("max100").alias("max100"),
        )
    )
    sum_total = unscale(F.col("s100"), 2).cast("double")
    return merged.select(
        "month_idx",
        "o_orderpriority",
        "n_orders",
        sum_total.alias("sum_total"),
        unscale(F.col("min100"), 2).cast("double").alias("min_total"),
        unscale(F.col("max100"), 2).cast("double").alias("max_total"),
        F.round(sum_total / F.col("n_orders"), 4).alias("avg_total"),
    )


# ------------------------------------------------- snapshot diff (data diff)

DIFF_DEL_MOD = 20  # 1/20 of keys deleted in snapshot B
DIFF_UPD_MOD = 7  # 1/7 of surviving keys repriced in snapshot B
DIFF_INS_MOD = 31  # 1/31 of keys re-appear as NEW keys (inserts)
DIFF_INS_OFFSET = 10_000_000_000


def _diff_b_sql() -> str:
    """DuckDB: snapshot B derived from orders (A) by the deterministic
    delete/update/insert rules — must mirror _snapshot_b exactly."""
    h = lambda salt: md5_int_sql(f"concat('{salt}|', CAST(o_orderkey AS VARCHAR))")  # noqa: E731
    return f"""
    SELECT o_orderkey AS key,
           CASE WHEN {h('upd')} % {DIFF_UPD_MOD} = 0
                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DOUBLE)
                ELSE o_totalprice END AS val
    FROM orders WHERE {h('del')} % {DIFF_DEL_MOD} <> 0
    UNION ALL
    SELECT o_orderkey + {DIFF_INS_OFFSET} AS key, o_totalprice AS val
    FROM orders WHERE {h('ins')} % {DIFF_INS_MOD} = 0
    """


def _snapshot_b(a: DataFrame) -> DataFrame:
    h = lambda salt: md5_int(F.concat(F.lit(f"{salt}|"), F.col("o_orderkey").cast("string")))  # noqa: E731
    kept = a.filter(h("del") % DIFF_DEL_MOD != 0).select(
        F.col("o_orderkey").alias("key"),
        F.when(
            h("upd") % DIFF_UPD_MOD == 0,
            (F.col("o_totalprice").cast("decimal(18,2)") + 1).cast("double"),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("val"),
    )
    inserted = a.filter(h("ins") % DIFF_INS_MOD == 0).select(
        (F.col("o_orderkey") + DIFF_INS_OFFSET).alias("key"),
        F.col("o_totalprice").alias("val"),
    )
    return kept.unionByName(inserted)


@query(
    "table_snapshot_diff",
    oracle=f"""
    WITH a AS (SELECT o_orderkey AS key, o_totalprice AS val FROM orders),
    b AS ({_diff_b_sql()})
    SELECT CASE WHEN b.key IS NULL THEN 'removed'
                WHEN a.key IS NULL THEN 'added'
                WHEN a.val <> b.val THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(count(*) AS BIGINT)                    AS n_rows,
           CAST(sum(coalesce(a.key, b.key)) AS BIGINT) AS key_checksum
    FROM a FULL OUTER JOIN b ON a.key = b.key
    GROUP BY 1
    """,
    doc="table snapshot diff — the data-diff tool every pipeline needs before "
    "promoting a rebuilt table: snapshot B is DERIVED from orders by "
    f"deterministic rules (1/{DIFF_DEL_MOD} of keys deleted, 1/{DIFF_UPD_MOD} "
    f"of survivors repriced +1.00, 1/{DIFF_INS_MOD} re-inserted under new keys), "
    "then A vs B full-outer-joins on the key and every row is classified "
    "added/removed/changed/unchanged with per-status counts and key checksums. "
    "One co-keyed shuffle join — both sides partition on the key, output is "
    "status-bounded (4 rows); at 100 TB this is the cheapest possible diff "
    "shape (no sort, no window, no broadcast of either snapshot) "
    "(north-star pipeline / CDC family)",
    tags=("pipeline",),
)
def table_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    a = o.select(F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("val"))
    b = _snapshot_b(o).select(F.col("key").alias("bkey"), F.col("val").alias("bval"))
    joined = a.join(b, a["key"] == b["bkey"], "full_outer")
    status = (
        F.when(F.col("bkey").isNull(), "removed")
        .when(F.col("key").isNull(), "added")
        .when(F.col("val") != F.col("bval"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.groupBy(status.alias("status"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.coalesce(F.col("key"), F.col("bkey"))).cast("bigint").alias("key_checksum"),
        )
    )


# ------------------------------------------------------------- data card


@query(
    "corpus_datacard",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, lang, n_chars,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_toks,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    ranked AS (
      SELECT n_chars,
             row_number() OVER (ORDER BY n_chars, doc_id) AS rk,
             count(*) OVER ()                             AS n
      FROM t
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM t)                    AS n_docs,
           (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM t)      AS n_sources,
           (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM t)        AS n_langs,
           (SELECT CAST(sum(n_toks) AS BIGINT) FROM t)                 AS total_tokens,
           (SELECT round(CAST(sum(n_toks) AS DOUBLE) / count(*), 4) FROM t) AS avg_tokens,
           (SELECT CAST(min(n_chars) AS BIGINT) FROM ranked
            WHERE rk = CAST(ceil(0.5 * n) AS BIGINT))                  AS p50_chars,
           (SELECT CAST(min(n_chars) AS BIGINT) FROM ranked
            WHERE rk = CAST(ceil(0.9 * n) AS BIGINT))                  AS p90_chars,
           (SELECT round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6)
            FROM t)                                                    AS exact_dup_rate
    """,
    doc="corpus data card — the one-row dataset summary published alongside an "
    "LLM training corpus (the 'Datasheets for Datasets' quantitative block): "
    "doc/source/language counts, token totals and mean, exact p50/p90 length "
    "order statistics (rank-at-ceil(q*n) — engine-exact where interpolated "
    "percentiles are not), and the normalized exact-duplicate rate. One scan "
    "feeds every stat; the length percentiles use a single global sort of the "
    "(n_chars, doc_id) pairs — at 100 TB swap that branch to approx_percentile "
    "on the same plan, everything else is partial-agg mergeable "
    "(north-star pipeline capstone)",
    tags=("pipeline", "text"),
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    t = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        token_count(F.col("text")).cast("bigint").alias("n_toks"),
        F.md5(norm).alias("fp"),
    )
    stats = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.round(F.sum("n_toks").cast("double") / F.count(F.lit(1)), 4).alias("avg_tokens"),
        F.round(
            1.0 - F.countDistinct("fp").cast("double") / F.count(F.lit(1)), 6
        ).alias("exact_dup_rate"),
    )
    import math

    from http_datafusion_spark.functions.ordstats import exact_rank_values

    n = t.count()
    r50, r90 = math.ceil(0.5 * n), math.ceil(0.9 * n)
    cuts = exact_rank_values(t.select("n_chars", "doc_id"), "n_chars", "doc_id", [r50, r90])
    pcts = stats.sparkSession.range(1).select(
        F.lit(int(cuts[r50])).cast("bigint").alias("p50_chars"),
        F.lit(int(cuts[r90])).cast("bigint").alias("p90_chars"),
    )
    return stats.crossJoin(F.broadcast(pcts)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_tokens",
        "avg_tokens",
        "p50_chars",
        "p90_chars",
        "exact_dup_rate",
    )


# ---------------------------------------------- mixture budget planning

MIX_TOKEN_BUDGET = 20_000  # target training-token budget


@query(
    "mixture_budget_plan",
    oracle=f"""
    WITH src AS (
      SELECT source,
             CAST(sum(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens,
             round(avg(n_chars * 1.0
                       / greatest(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                                  x -> x <> '')), 1)), 6) AS quality
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT source, n_tokens, quality,
             sum(n_tokens) OVER (ORDER BY quality DESC, source
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM src
    )
    SELECT source, n_tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CASE WHEN cum_tokens <= {MIX_TOKEN_BUDGET} THEN 1.0
                WHEN cum_tokens - n_tokens >= {MIX_TOKEN_BUDGET} THEN 0.0
                ELSE round(({MIX_TOKEN_BUDGET} - (cum_tokens - n_tokens)) * 1.0
                           / n_tokens, 6) END AS take_frac
    FROM ranked
    """,
    doc=f"data-mixture budget planning: given per-source token counts and a "
    "quality signal (chars-per-token here; any score plugs in), fill a "
    f"{MIX_TOKEN_BUDGET}-token training budget greedily from the highest-"
    "quality source down — full sources while the budget lasts, a fractional "
    "sampling rate for the source that straddles the boundary, zero after "
    "(the knapsack-relaxation mixture planner every pretraining run needs; "
    "mix_sources_temperature is the temperature alternative this compares "
    "against). One per-source agg shuffle, then a cumsum window over the "
    "|sources|-bounded ranking — the plan output is what a sampler like "
    "sample_deterministic then executes (north-star pipeline / mixing)",
    tags=("pipeline", "sampling"),
)
def mixture_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    n_toks = token_count(F.col("text"))
    src = d.groupBy("source").agg(
        F.sum(n_toks).cast("bigint").alias("n_tokens"),
        F.round(
            F.avg(F.col("n_chars") * 1.0 / F.greatest(n_toks, F.lit(1))), 6
        ).alias("quality"),
    )
    w = W.orderBy(F.desc("quality"), "source").rowsBetween(W.unboundedPreceding, 0)
    ranked = src.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
    prev = F.col("cum_tokens") - F.col("n_tokens")
    take = (
        F.when(F.col("cum_tokens") <= MIX_TOKEN_BUDGET, F.lit(1.0))
        .when(prev >= MIX_TOKEN_BUDGET, F.lit(0.0))
        .otherwise(F.round((MIX_TOKEN_BUDGET - prev) * 1.0 / F.col("n_tokens"), 6))
    )
    return ranked.select("source", "n_tokens", "quality", "cum_tokens", take.alias("take_frac"))


# ------------------------------------------------ compaction bin planning

COMPACT_TARGET_CHARS = 15_000  # target "file" size per compaction bin


@query(
    "compaction_bin_plan",
    oracle=f"""
    WITH seg AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS seg_chars
      FROM documents GROUP BY source
    ),
    planned AS (
      SELECT source, seg_chars,
             CAST(floor((sum(seg_chars) OVER (ORDER BY seg_chars DESC, source
                                              ROWS UNBOUNDED PRECEDING)
                         - seg_chars) / {COMPACT_TARGET_CHARS}) AS BIGINT) AS bin
      FROM seg
    )
    SELECT bin,
           CAST(count(*) AS BIGINT)       AS n_segments,
           CAST(sum(seg_chars) AS BIGINT) AS bin_chars,
           round(sum(seg_chars) * 1.0 / {COMPACT_TARGET_CHARS}, 4) AS fill_ratio
    FROM planned GROUP BY bin
    """,
    doc="small-file compaction planning — the table-maintenance op every "
    "long-lived 100 TB lake needs: segments (per-source byte totals here; "
    "real deployments feed file listings) are first-fit packed into target-"
    f"size bins ({COMPACT_TARGET_CHARS} chars) by a cumsum-floor assignment "
    "over the size-descending order, and the plan reports per-bin segment "
    "counts and fill ratios — the work units a compactor then executes. "
    "Deterministic, one agg + one |segments|-bounded window; the plan "
    "output is bins-bounded (north-star pipeline / lake maintenance)",
    tags=("pipeline",),
)
def compaction_bin_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    seg = d.groupBy("source").agg(F.sum("n_chars").cast("bigint").alias("seg_chars"))
    w = W.orderBy(F.desc("seg_chars"), "source").rowsBetween(W.unboundedPreceding, 0)
    planned = seg.withColumn(
        "bin",
        F.floor(
            (F.sum("seg_chars").over(w) - F.col("seg_chars")) / COMPACT_TARGET_CHARS
        ).cast("bigint"),
    )
    return planned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum("seg_chars").cast("bigint").alias("bin_chars"),
        F.round(F.sum("seg_chars") * 1.0 / COMPACT_TARGET_CHARS, 4).alias("fill_ratio"),
    )


# ------------------------------------------------- join size pre-flight


@query(
    "join_size_preflight",
    oracle="""
    WITH a AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
               FROM orders GROUP BY 1),
    b AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
          FROM lineitem GROUP BY 1),
    pred AS (
      SELECT CAST(sum(a.ca * b.cb) AS BIGINT) AS predicted_rows,
             CAST(count(*) AS BIGINT)         AS n_matching_keys,
             CAST(max(a.ca * b.cb) AS BIGINT) AS max_key_output
      FROM a JOIN b USING (k)
    ),
    actual AS (
      SELECT CAST(count(*) AS BIGINT) AS actual_rows
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT predicted_rows, actual_rows, n_matching_keys, max_key_output,
           (predicted_rows = actual_rows) AS exact_match
    FROM pred CROSS JOIN actual
    """,
    doc="join-size pre-flight: the exact output cardinality of orders JOIN "
    "lineitem predicted from per-key count histograms (sum over matching keys "
    "of cntA*cntB) BEFORE running the join, verified against the actual join "
    "count in the same plan — the estimator a planner/cost gate runs on two "
    "key histograms that are each orders of magnitude smaller than the join "
    "output; max_key_output is the per-key hotspot bound that decides skew "
    "handling (join_skew_diagnose's companion). Two partial-agg shuffles + a "
    "co-keyed histogram join; the verification join is the expensive thing "
    "being predicted and exists here only to prove the identity "
    "(north-star pipeline / planner tooling)",
    tags=("pipeline", "agg"),
)
def join_size_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    a = t["orders"].groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ca")
    )
    b = t["lineitem"].groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cb")
    )
    pred = a.join(b, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("predicted_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_matching_keys"),
        F.max(F.col("ca") * F.col("cb")).cast("bigint").alias("max_key_output"),
    )
    actual = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("actual_rows"))
    )
    return (
        pred.crossJoin(F.broadcast(actual))
        .select(
            "predicted_rows",
            "actual_rows",
            "n_matching_keys",
            "max_key_output",
            (F.col("predicted_rows") == F.col("actual_rows")).alias("exact_match"),
        )
    )


# ---------------------------------------- manifest-based snapshot versioning

SNAPVER_APPEND_MOD = 5  # docs with doc_id % 5 == 0 arrive in version 2


def _snapver_store(spark: SparkSession, sf_dir: str) -> str:
    """A two-version manifest store, built once per session and source
    fingerprint (plans/tables.derived_dir): version 1 = documents with
    doc_id % SNAPVER_APPEND_MOD != 0, version 2 = v1 plus the remaining
    docs as an APPENDED file set — files are immutable, versions are
    manifest JSON files listing their member data files (the core
    mechanic of Delta/Iceberg-style table formats, minimally:
    append-only + manifest = snapshot isolation + time travel)."""
    import json

    def build(root: str) -> None:
        d = load_tables(spark, sf_dir, "documents")["documents"]
        base = d.filter(F.col("doc_id") % SNAPVER_APPEND_MOD != 0)
        delta = d.filter(F.col("doc_id") % SNAPVER_APPEND_MOD == 0)
        base.write.mode("overwrite").parquet(os.path.join(root, "base"))
        delta.write.mode("overwrite").parquet(os.path.join(root, "delta"))

        def files_of(sub: str) -> list[str]:
            p = os.path.join(root, sub)
            return sorted(
                os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")
            )

        os.makedirs(os.path.join(root, "_manifests"))
        v1 = files_of("base")
        v2 = v1 + files_of("delta")
        for ver, files in ((1, v1), (2, v2)):
            with open(os.path.join(root, "_manifests", f"v{ver}.json"), "w") as fh:
                json.dump({"version": ver, "files": files}, fh)

    return derived_dir(spark, "snapver", sf_dir, ("documents",), build)


def read_snapshot(spark: SparkSession, sf_dir: str, version: int) -> DataFrame:
    """Time-travel read: load exactly the files the version's manifest
    lists — later appends are invisible (snapshot isolation)."""
    import json

    root = _snapver_store(spark, sf_dir)
    with open(os.path.join(root, "_manifests", f"v{version}.json")) as fh:
        manifest = json.load(fh)
    return spark.read.parquet(*manifest["files"])


@query(
    "snapshot_versioned_read",
    oracle=f"""
    SELECT CAST(1 AS BIGINT) AS version,
           CAST(count(*) AS BIGINT)    AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(sum(n_chars) AS BIGINT) AS char_checksum
    FROM documents WHERE doc_id % {SNAPVER_APPEND_MOD} <> 0
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
           CAST(sum(n_chars) AS BIGINT)
    FROM documents
    """,
    doc="manifest-based snapshot versioning — the table-format mechanic (Delta/"
    "Iceberg minimal core) built from primitives the engine already has: data "
    "files are immutable, a version is a manifest listing its member files, an "
    "append creates new files plus a new manifest, and a TIME-TRAVEL read "
    "loads exactly one manifest's file set (read_snapshot) — concurrent "
    "readers of v1 never see v2's append (snapshot isolation by "
    "construction). The query reads BOTH versions through their manifests and "
    "checksums them; the oracle recomputes each version's membership rule "
    "from the raw table, proving the store round-trip exact. At 100 TB "
    "manifests list file paths (KB-scale metadata), never data "
    "(north-star pipeline / lake table format)",
    tags=("pipeline",),
)
def snapshot_versioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    def summarize(ver: int) -> DataFrame:
        return read_snapshot(spark, sf_dir, ver).agg(
            F.lit(ver).cast("bigint").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
            F.sum("n_chars").cast("bigint").alias("char_checksum"),
        )

    return summarize(1).unionByName(summarize(2))


# -------------------------------------------- functional-dependency audit

_FD_CANDIDATES = (
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_suppkey"),
    ("lineitem", "l_partkey", "l_suppkey"),
)


def _fd_sql(table: str, lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{lhs}->{rhs}' AS fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           (sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) = 0) AS holds
    FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS c FROM {table} GROUP BY 1)
    """


@query(
    "fd_discovery_audit",
    oracle=" UNION ALL ".join(_fd_sql(*c) for c in _FD_CANDIDATES),
    doc="functional-dependency discovery (Metanome/profiling shape): for each "
    "candidate FD A->B, count the A-groups carrying more than one distinct B — "
    "zero violations means the dependency holds on this data, which is how a "
    "profiler proposes keys, catches denormalization drift, and validates "
    "assumed join cardinalities (join_size_preflight's companion: an FD on the "
    "join key caps fan-out at 1). Each candidate is one partial-agg shuffle on "
    "its LHS; violating-group counts are group-bounded; candidates run "
    "independently and union at the end (north-star pipeline / data profiling)",
    tags=("pipeline", "agg"),
)
def fd_discovery_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import functools

    t = load_tables(spark, sf_dir, "orders", "lineitem")

    def audit(table: str, lhs: str, rhs: str) -> DataFrame:
        groups = t[table].groupBy(lhs).agg(F.countDistinct(rhs).alias("c"))
        viol = F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        return groups.agg(
            F.lit(f"{lhs}->{rhs}").alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            viol.cast("bigint").alias("n_violating"),
            (viol == 0).alias("holds"),
        )

    return functools.reduce(
        lambda a, b: a.unionByName(b), (audit(*c) for c in _FD_CANDIDATES)
    )


# ------------------------------------------------ release readiness gate

REL_MAX_DUP_RATE = 0.05
REL_MIN_AVG_TOKENS = 10.0
REL_KANON_K = 5
REL_MIN_SOURCES = 10


@query(
    "release_readiness_report",
    oracle=f"""
    WITH dup AS (
      SELECT 'exact_dup_rate_below_{REL_MAX_DUP_RATE}' AS check_name,
             round(1.0 - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
                   * 1.0 / count(*), 6) AS value,
             (1.0 - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
                   * 1.0 / count(*)) <= {REL_MAX_DUP_RATE} AS passed
      FROM documents
    ),
    toklen AS (
      SELECT 'avg_tokens_at_least_{REL_MIN_AVG_TOKENS}' AS check_name,
             round(avg(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                       x -> x <> ''))), 6) AS value,
             avg(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> ''))) >= {REL_MIN_AVG_TOKENS} AS passed
      FROM documents
    ),
    kanon AS (
      SELECT 'kanon_no_cell_below_{REL_KANON_K}' AS check_name,
             CAST(sum(CASE WHEN n < {REL_KANON_K} THEN 1 ELSE 0 END) AS DOUBLE) AS value,
             sum(CASE WHEN n < {REL_KANON_K} THEN 1 ELSE 0 END) = 0 AS passed
      FROM (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2)
    ),
    srcs AS (
      SELECT 'at_least_{REL_MIN_SOURCES}_sources' AS check_name,
             CAST(count(DISTINCT source) AS DOUBLE) AS value,
             count(DISTINCT source) >= {REL_MIN_SOURCES} AS passed
      FROM documents
    )
    SELECT * FROM dup UNION ALL SELECT * FROM toklen
    UNION ALL SELECT * FROM kanon UNION ALL SELECT * FROM srcs
    """,
    doc="release-readiness report — the ship/no-ship gate a dataset release "
    "runs LAST, one named row per check with its measured value and verdict: "
    f"normalized exact-dup rate <= {REL_MAX_DUP_RATE} (dedup ran), mean "
    f"tokens/doc >= {REL_MIN_AVG_TOKENS} (not fragment soup), no "
    f"(lang, source) cell below k={REL_KANON_K} (the k-anonymity shape on "
    f"corpus metadata), >= {REL_MIN_SOURCES} sources (mixture breadth). The "
    "scheduler pattern of data_quality_audit applied at corpus grain — each "
    "check is one bounded aggregate, the report is checks-bounded, and a "
    "single false 'passed' blocks promotion (snapshot_versioned_read's "
    "manifest commit is what it blocks) "
    "(north-star pipeline / release capstone)",
    tags=("pipeline", "agg"),
)
def release_readiness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import functools

    d = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    dup_rate = 1.0 - F.countDistinct(F.md5(norm)) * 1.0 / F.count(F.lit(1))
    dup = d.agg(
        F.lit(f"exact_dup_rate_below_{REL_MAX_DUP_RATE}").alias("check_name"),
        F.round(dup_rate, 6).alias("value"),
        (dup_rate <= REL_MAX_DUP_RATE).alias("passed"),
    )
    ntoks = token_count(F.col("text"))
    toklen = d.agg(
        F.lit(f"avg_tokens_at_least_{REL_MIN_AVG_TOKENS}").alias("check_name"),
        F.round(F.avg(ntoks), 6).alias("value"),
        (F.avg(ntoks) >= REL_MIN_AVG_TOKENS).alias("passed"),
    )
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    low = F.sum(F.when(F.col("n") < REL_KANON_K, 1).otherwise(0))
    kanon = cells.agg(
        F.lit(f"kanon_no_cell_below_{REL_KANON_K}").alias("check_name"),
        low.cast("double").alias("value"),
        (low == 0).alias("passed"),
    )
    srcs = d.agg(
        F.lit(f"at_least_{REL_MIN_SOURCES}_sources").alias("check_name"),
        F.countDistinct("source").cast("double").alias("value"),
        (F.countDistinct("source") >= REL_MIN_SOURCES).alias("passed"),
    )
    return functools.reduce(lambda a, b: a.unionByName(b), (dup, toklen, kanon, srcs))


DECON_SWEEP = (1, 2, 3, 5)  # candidate shared-shingle thresholds


@query(
    "decontaminate_threshold_sweep",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(words) - 1),
                    i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))) AS shingle
      FROM w WHERE len(words) >= 3
    ), bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_MOD} = 0
    ), shared AS (
      SELECT c.doc_id, CAST(count(DISTINCT c.shingle) AS BIGINT) AS n_shared
      FROM sh c JOIN bench b ON c.shingle = b.shingle
      WHERE c.doc_id % {DECON_MOD} <> 0
      GROUP BY c.doc_id
    ),
    thresholds AS (SELECT CAST(unnest(ARRAY{list(DECON_SWEEP)}) AS BIGINT) AS thr),
    ncorpus AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
      FROM sh WHERE doc_id % {DECON_MOD} <> 0
    )
    SELECT t.thr AS min_shared_shingles,
           CAST(count(CASE WHEN s.n_shared >= t.thr THEN 1 END) AS BIGINT) AS n_flagged,
           round(count(CASE WHEN s.n_shared >= t.thr THEN 1 END) * 1.0 / max(nc.n), 6)
             AS flagged_frac
    FROM thresholds t CROSS JOIN shared s CROSS JOIN ncorpus nc
    GROUP BY t.thr
    """,
    doc="decontamination threshold calibration: per-doc shared-shingle counts "
    "vs the benchmark set computed ONCE, then every candidate threshold in "
    f"{DECON_SWEEP} read off them — the curve that justifies "
    "decontaminate_corpus's cutoff (too low throws away clean data, too high "
    "leaks eval items; the flagged-fraction-vs-threshold elbow decides). The "
    "minhash/attribution sweep discipline applied to leakage control "
    "(north-star pipeline / decontamination calibration)",
    tags=("pipeline", "dedup", "agg", "bench_extra"),
)
def decontaminate_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import SHINGLE_WIDTH, shingled_docs

    sh = shingled_docs(spark, sf_dir)
    is_bench = F.col("doc_id") % DECON_MOD == 0
    bench = sh.filter(is_bench).select("shingle").distinct()
    corpus = sh.filter(~is_bench)
    shared = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").cast("bigint").alias("n_shared"))
    )
    # Corpus-doc denominator WITHOUT a third gram-stream pass: a doc
    # appears in the shingle stream iff it has >= SHINGLE_WIDTH words (shingles_of's lead-window null
    # filter), so countDistinct(doc_id) over the exploded corpus stream
    # equals the distinct non-bench >=SHINGLE_WIDTH-word doc count read
    # straight off the documents table — per-row tokenize + filter, no
    # explode, no doc_id-window shuffle.
    ncorpus = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(~is_bench & (F.size(whitespace_tokens(F.col("text"))) >= SHINGLE_WIDTH))
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    )
    thresholds = spark.createDataFrame([(t,) for t in DECON_SWEEP], "thr bigint")
    hit = F.count(F.when(F.col("n_shared") >= F.col("thr"), 1))
    return (
        F.broadcast(thresholds)
        .crossJoin(shared)
        .crossJoin(F.broadcast(ncorpus))
        .groupBy(F.col("thr").alias("min_shared_shingles"))
        .agg(
            hit.cast("bigint").alias("n_flagged"),
            F.round(hit * 1.0 / F.max("n"), 6).alias("flagged_frac"),
        )
    )


# ------------------------------------------- RAG chunk-retrieval eval

RAG_QUERY_DOCS = (7, 101, 229, 331, 487)  # fixed probe queries (pipeline constant)
RAG_EVAL_KS = (1, 5, 10)

_LWORDS_SQL = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"


@query(
    "rag_chunk_retrieval_eval",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, word FROM (
        SELECT doc_id, unnest({_LWORDS_SQL}) AS word FROM documents)
    ), q AS (
      SELECT doc_id AS qid, word FROM toks
      WHERE doc_id IN {RAG_QUERY_DOCS}
    ), whole AS (
      SELECT q.qid, t.doc_id, count(*) AS hits
      FROM toks t JOIN q ON t.word = q.word
      WHERE t.doc_id <> q.qid GROUP BY 1, 2
    ), wr AS (
      SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid ORDER BY hits DESC, doc_id) AS rk_w
      FROM whole
    ), base AS (
      SELECT doc_id, {_LWORDS_SQL} AS words FROM documents
      WHERE len({_LWORDS_SQL}) > 0
    ), starts AS (
      SELECT doc_id, words, unnest(range(0, len(words), {CHUNK_STRIDE})) AS start
      FROM base
    ), ctoks AS (
      SELECT DISTINCT doc_id, chunk_id, word FROM (
        SELECT doc_id, CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
               unnest(words[start + 1 : start + {CHUNK_WORDS}]) AS word
        FROM starts)
    ), ch AS (
      SELECT q.qid, c.doc_id, c.chunk_id, count(*) AS h
      FROM ctoks c JOIN q ON c.word = q.word
      WHERE c.doc_id <> q.qid GROUP BY 1, 2, 3
    ), best AS (
      SELECT qid, doc_id, max(h) AS best FROM ch GROUP BY 1, 2
    ), cr AS (
      SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid ORDER BY best DESC, doc_id) AS rk_c
      FROM best
    ), ks AS (SELECT unnest({list(RAG_EVAL_KS)}) AS k),
    m AS (
      SELECT w.qid, ks.k, count(*) AS n_common
      FROM wr w JOIN cr c ON w.qid = c.qid AND w.doc_id = c.doc_id
      CROSS JOIN ks
      WHERE w.rk_w <= ks.k AND c.rk_c <= ks.k
      GROUP BY 1, 2
    ), qgrid AS (
      SELECT qid, k FROM (SELECT DISTINCT qid FROM q) CROSS JOIN ks
    )
    SELECT CAST(g.k AS BIGINT) AS k,
           round(avg(CAST(coalesce(m.n_common, 0) AS DOUBLE) / g.k), 6) AS avg_recall,
           CAST(count(*) AS BIGINT) AS n_queries
    FROM qgrid g LEFT JOIN m ON m.qid = g.qid AND m.k = g.k
    GROUP BY g.k ORDER BY k
    """,
    doc=f"RAG chunking eval: recall@k of chunk-granularity retrieval (max-pooled "
    f"{CHUNK_WORDS}-word/{CHUNK_STRIDE}-stride chunk scores — the standard RAG "
    f"retrieval shape) against whole-document retrieval as ground truth, for a "
    f"fixed {len(RAG_QUERY_DOCS)}-doc probe set. Query vocab joins are equi-keyed "
    f"on word against the literal-pruned probe set (broadcast-bounded); candidate "
    f"ranking is per-query keyed windows with a LITERAL rk <= {max(RAG_EVAL_KS)} "
    f"bound so InferWindowGroupLimit prunes map-side (each map task forwards at "
    f"most K rows per query — the keyed sort never sees the corpus). At 100 TB "
    f"the only fact-scale shuffles are the two (query, doc)-keyed hit aggregations "
    f"(north-star pipeline / RAG retrieval calibration)",
    tags=("pipeline", "text", "similarity"),
)
def rag_chunk_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    lwords = whitespace_tokens(F.lower(F.col("text")))
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(lwords)).alias("word")
    )
    # The query-token frame is bounded (|RAG_QUERY_DOCS| docs' distinct
    # words) and feeds THREE consumers (whole-doc hits, per-chunk hits,
    # the qid grid); unpinned, each re-derived the documents scan — the
    # scan audit's 5x class. Pinned, the plan is at its 2-scan
    # floor: one whole-doc token pass + one chunk token pass (the two
    # passes ARE the A/B being evaluated).
    q = toks.filter(F.col("doc_id").isin(*RAG_QUERY_DOCS)).select(
        F.col("doc_id").alias("qid"), "word"
    ).transform(pin)
    whole = (
        toks.join(F.broadcast(q), "word")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    # Literal rank bound directly on the window output: the ks-grid
    # join below already implies rk <= max(ks), but expressed as a join condition Spark cannot see the bound —
    # the reducers for the |probes| partition keys would each sort a
    # corpus-sized candidate list. A LITERAL filter lets
    # InferWindowGroupLimit insert Partial+Final WindowGroupLimit, so
    # every map task forwards at most max(RAG_EVAL_KS) rows per qid
    # and the keyed sort handles #map_partitions x K rows, not the
    # corpus. Results are identical by construction.
    wr = whole.select(
        "qid",
        "doc_id",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("hits"), F.asc("doc_id")))
        .alias("rk_w"),
    ).filter(F.col("rk_w") <= max(RAG_EVAL_KS))
    base = d.select("doc_id", lwords.alias("words")).filter(F.size("words") > 0)
    starts = base.select(
        "doc_id",
        "words",
        F.posexplode(
            F.sequence(F.lit(0), F.size("words") - 1, F.lit(CHUNK_STRIDE))
        ).alias("chunk_id", "start"),
    )
    ctoks = starts.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.explode(
            F.array_distinct(F.slice("words", F.col("start") + 1, CHUNK_WORDS))
        ).alias("word"),
    )
    best = (
        ctoks.join(F.broadcast(q), "word")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id", "chunk_id")
        .agg(F.count(F.lit(1)).alias("h"))
        .groupBy("qid", "doc_id")
        .agg(F.max("h").alias("best"))
    )
    cr = best.select(
        "qid",
        "doc_id",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("best"), F.asc("doc_id")))
        .alias("rk_c"),
    ).filter(F.col("rk_c") <= max(RAG_EVAL_KS))  # same literal bound as rk_w
    ks = spark.createDataFrame([(k,) for k in RAG_EVAL_KS], "k bigint")
    m = (
        wr.join(cr, ["qid", "doc_id"])
        .join(
            F.broadcast(ks),
            (F.col("rk_w") <= F.col("k")) & (F.col("rk_c") <= F.col("k")),
        )
        .groupBy("qid", "k")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    qgrid = q.select("qid").distinct().crossJoin(F.broadcast(ks))
    return (
        qgrid.join(m, ["qid", "k"], "left")
        .select(
            "k", F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common")
        )
        .groupBy("k")
        .agg(
            F.round(F.avg(F.col("n_common").cast("double") / F.col("k")), 6).alias(
                "avg_recall"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        )
        .orderBy("k")
    )


# ------------------------------------------------ curriculum staging

CURRICULUM_STAGES = 4

_CWSPLIT_SQL = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"


@query(
    "curriculum_stage_plan",
    oracle=f"""
    WITH dw AS (
      SELECT doc_id, unnest({_CWSPLIT_SQL}) AS word FROM documents
    ), counts AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c FROM dw GROUP BY word
    ), n AS (
      SELECT CAST(sum(c) AS BIGINT) AS total FROM counts
    ), scored AS (
      SELECT dw.doc_id,
             CAST(round(-ln(counts.c * 1.0 / n.total), 6) AS DECIMAL(18,6)) AS nll
      FROM dw JOIN counts USING (word) CROSS JOIN n
    ), perdoc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             round(CAST(sum(nll) AS DOUBLE) / count(*), 4) AS avg_nll
      FROM scored GROUP BY doc_id
    ), staged AS (
      SELECT doc_id, n_tokens, avg_nll,
             ntile({CURRICULUM_STAGES}) OVER (ORDER BY avg_nll, doc_id) AS stage
      FROM perdoc
    )
    SELECT CAST(stage AS INT) AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(avg_nll), 4) AS easiest_nll,
           round(max(avg_nll), 4) AS hardest_nll,
           CAST(sum(n_tokens) AS BIGINT) AS token_budget
    FROM staged GROUP BY stage ORDER BY stage
    """,
    doc=f"curriculum staging: every document scored by unigram-LM mean NLL "
    f"(the text_unigram_logprob difficulty proxy — easy/common text scores "
    f"low), then split into {CURRICULUM_STAGES} equal-size curriculum stages "
    "in difficulty order with per-stage token budgets. The ntile is computed "
    "WITHOUT a single-partition window: functions/ordstats' bucketed global "
    "rank (boundary sketch -> per-bucket offsets -> bucket-local row_number) "
    "reproduces the window function bit-for-bit, so the stage assignment "
    "scales to any corpus — the same distributed-rank machinery the "
    "histogram/ABC operators use, applied to the training-order problem "
    "(north-star pipeline / curriculum learning)",
    tags=("pipeline", "text", "window"),
)
def curriculum_stage_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.ordstats import (
        bucketed_global_rank,
        ntile_from_rank,
    )

    d = load_tables(spark, sf_dir, "documents")["documents"]
    dw = spread(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("word")
    )
    counts = dw.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    n = counts.agg(F.sum("c").cast("bigint").alias("total"))
    nll = quantize(-F.log(F.col("c") * 1.0 / F.col("total")), 6)
    perdoc = (
        dw.join(counts, "word")
        .crossJoin(F.broadcast(n))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 4).alias("avg_nll"),
        )
    )
    # Materialize the per-doc aggregate ONCE: the
    # count below plus bucketed_global_rank's boundary-sketch and rank
    # passes would otherwise each re-derive the whole token-explode +
    # vocab-join + NLL aggregation (a measured "two corpus token
    # passes" was partly this). Unlike histogram_equi_depth — whose
    # input re-derivation is a pushed-down 3-column parquet scan, so
    # checkpointing was dropped — this lineage is the expensive part,
    # and the checkpointed relation is doc-level (3 columns), the same
    # trade graph_kcore_rounds makes for its candidate edges.
    perdoc = perdoc.transform(pin)
    n_docs = perdoc.count()
    ranked = bucketed_global_rank(perdoc, "avg_nll", ["doc_id"], "rk")
    staged = ranked.select(
        "n_tokens",
        "avg_nll",
        ntile_from_rank(F.col("rk"), n_docs, CURRICULUM_STAGES).alias("stage"),
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.min("avg_nll"), 4).alias("easiest_nll"),
            F.round(F.max("avg_nll"), 4).alias("hardest_nll"),
            F.sum("n_tokens").cast("bigint").alias("token_budget"),
        )
        .orderBy("stage")
    )


# ------------------------------------------- zone-map skipping audit

# Zone = contiguous o_orderkey range (models a parquet row-group /
# data file laid down in insertion-key order). A zone is prunable for
# `o_orderdate < cutoff` iff its min date already >= cutoff — exactly
# the min/max zone-map (row-group statistics) test every columnar
# scanner runs before reading a page.
ZONEMAP_ZONE_KEYS = 8192
ZONEMAP_CUTOFFS = ("1993-01-01", "1995-01-01", "1997-01-01")


def _zonemap_oracle() -> str:
    m_cols = ", ".join(
        f"CAST(count(*) FILTER (WHERE o_orderdate < TIMESTAMP '{c}') AS BIGINT) AS m{i}"
        for i, c in enumerate(ZONEMAP_CUTOFFS)
    )
    t_cols = ", ".join(
        f"sum(m{i}) AS match{i}, "
        f"CAST(count(*) FILTER (WHERE mn >= TIMESTAMP '{c}') AS BIGINT) AS prun{i}, "
        f"sum(CASE WHEN mn >= TIMESTAMP '{c}' THEN 0 ELSE n END) AS scan{i}"
        for i, c in enumerate(ZONEMAP_CUTOFFS)
    )
    branches = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS cutoff, n_zones, prun{i} AS n_prunable,
               round(prun{i} * 1.0 / n_zones, 6) AS frac_prunable,
               CAST(match{i} AS BIGINT) AS n_match,
               round(match{i} * 1.0 / n_rows, 6) AS selectivity,
               round(scan{i} * 1.0 / n_rows, 6) AS scan_frac,
               round(CAST(floor((n_rows - match{i}) * 1.0
                     / ceil(n_rows * 1.0 / n_zones)) AS BIGINT) * 1.0
                     / n_zones, 6) AS ideal_frac_prunable
        FROM tot
        """
        for i, c in enumerate(ZONEMAP_CUTOFFS)
    )
    return f"""
    WITH z AS (
      SELECT CAST(floor(o_orderkey * 1.0 / {ZONEMAP_ZONE_KEYS}) AS BIGINT) AS zone,
             min(o_orderdate) AS mn,
             CAST(count(*) AS BIGINT) AS n,
             {m_cols}
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_zones,
             CAST(sum(n) AS BIGINT) AS n_rows,
             {t_cols}
      FROM z
    )
    SELECT * FROM ({branches}) ORDER BY cutoff
    """


@query(
    "table_zonemap_audit",
    oracle=_zonemap_oracle(),
    doc=f"zone-map (row-group min/max) skipping audit: orders is zoned into "
    f"contiguous {ZONEMAP_ZONE_KEYS}-key ranges — the parquet row-group model — "
    "and for each date cutoff the audit reports how many zones a "
    "`o_orderdate < cutoff` scan could prune today (min-stat test), the true "
    "selectivity, the scan fraction after skipping, and the prunable fraction a "
    "date-sorted rewrite would achieve (the Z-order/sort advisory gap). One "
    "groupBy-zone scan computes every per-zone stat; all downstream arithmetic "
    "runs on the |keys|/8k zone table and a 1-row total. At 100 TB this is the "
    "layout-maintenance signal that decides whether to re-cluster a table — "
    "data skipping is the single biggest scan lever at that scale "
    "(north-star pipeline / lake maintenance)",
    tags=("pipeline", "agg", "bench_extra"),
)
def table_zonemap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    cuts = [F.lit(c).cast("timestamp") for c in ZONEMAP_CUTOFFS]
    zone_aggs = [
        F.min("o_orderdate").alias("mn"),
        F.count(F.lit(1)).alias("n"),
    ] + [
        F.sum(F.when(F.col("o_orderdate") < cc, 1).otherwise(0)).alias(f"m{i}")
        for i, cc in enumerate(cuts)
    ]
    z = o.groupBy(
        F.floor(F.col("o_orderkey") * 1.0 / ZONEMAP_ZONE_KEYS).alias("zone")
    ).agg(*zone_aggs)
    tot_aggs = [
        F.count(F.lit(1)).alias("n_zones"),
        F.sum("n").alias("n_rows"),
    ]
    for i, cc in enumerate(cuts):
        tot_aggs += [
            F.sum(f"m{i}").alias(f"match{i}"),
            F.sum(F.when(F.col("mn") >= cc, 1).otherwise(0)).alias(f"prun{i}"),
            F.sum(F.when(F.col("mn") >= cc, F.lit(0)).otherwise(F.col("n"))).alias(
                f"scan{i}"
            ),
        ]
    # ONE wide 1-row agg over the zone table feeds a union branch per
    # cutoff; unpinned each branch re-derived the full orders scan +
    # zone aggregation (3 executed scans — the table_stats_profile
    # pattern). One pass now.
    tot = z.agg(*tot_aggs).transform(pin)
    zone_target = F.ceil(F.col("n_rows") * 1.0 / F.col("n_zones"))
    per_cut = [
        tot.select(
            F.lit(c).alias("cutoff"),
            F.col("n_zones").cast("bigint").alias("n_zones"),
            F.col(f"prun{i}").cast("bigint").alias("n_prunable"),
            F.round(F.col(f"prun{i}") * 1.0 / F.col("n_zones"), 6).alias(
                "frac_prunable"
            ),
            F.col(f"match{i}").cast("bigint").alias("n_match"),
            F.round(F.col(f"match{i}") * 1.0 / F.col("n_rows"), 6).alias(
                "selectivity"
            ),
            F.round(F.col(f"scan{i}") * 1.0 / F.col("n_rows"), 6).alias("scan_frac"),
            F.round(
                F.floor(
                    (F.col("n_rows") - F.col(f"match{i}")) * 1.0 / zone_target
                ).cast("bigint")
                * 1.0
                / F.col("n_zones"),
                6,
            ).alias("ideal_frac_prunable"),
        )
        for i, c in enumerate(ZONEMAP_CUTOFFS)
    ]
    out = per_cut[0]
    for df in per_cut[1:]:
        out = out.unionAll(df)
    return out.orderBy("cutoff")


# ------------------------------------------ RRF hybrid-retrieval eval

# Reciprocal-rank-fusion constant (Cormack/Clarke/Buettcher 2009,
# public): score = sum over signals of 1/(RRF_K + rank).
RRF_K = 60
RRF_EVAL_KS = (5, 10)
# Per-signal rank-list truncation depth (the rank_window_size of
# production hybrid-search RRF): only the top-RRF_DEPTH docs of each
# signal contribute to fusion; anything deeper contributes 0. This is
# BOTH the standard semantics and the scale fix —
# the literal bound lets InferWindowGroupLimit prune each signal's
# keyed ranking map-side instead of funneling the corpus through
# |probes| reducers. Must be >= max(RRF_EVAL_KS).
RRF_DEPTH = 50

_RRF_DOT_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@query(
    "rag_rrf_fusion_eval",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, word FROM (
        SELECT doc_id, unnest({_LWORDS_SQL}) AS word FROM documents)
    ), q AS (
      SELECT doc_id AS qid, word FROM toks
      WHERE doc_id IN {RAG_QUERY_DOCS}
    ), lex AS (
      SELECT q.qid, t.doc_id, count(*) AS hits
      FROM toks t JOIN q ON t.word = q.word
      WHERE t.doc_id <> q.qid GROUP BY 1, 2
    ), lr AS (
      SELECT * FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY hits DESC, doc_id) AS rl
        FROM lex) WHERE rl <= {RRF_DEPTH}
    ), e AS (
      SELECT vec_id, embedding,
             sqrt({_RRF_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ), qe AS (
      SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM e
      WHERE vec_id IN {RAG_QUERY_DOCS}
    ), sem AS (
      SELECT qe.qid, e.vec_id AS doc_id,
             {_RRF_DOT_SQL.format(a='e.embedding', b='qe.qv')} / (e.nrm * qe.qn) AS cos
      FROM e JOIN qe ON e.vec_id <> qe.qid
    ), sr AS (
      SELECT * FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rs
        FROM sem) WHERE rs <= {RRF_DEPTH}
    ), fused AS (
      SELECT coalesce(l.qid, s.qid) AS qid,
             coalesce(l.doc_id, s.doc_id) AS doc_id,
             coalesce(1.0 / ({RRF_K} + l.rl), 0.0)
             + coalesce(1.0 / ({RRF_K} + s.rs), 0.0) AS score
      FROM lr l FULL JOIN sr s ON s.qid = l.qid AND s.doc_id = l.doc_id
    ), fr AS (
      SELECT * FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rf
        FROM fused) WHERE rf <= {max(RRF_EVAL_KS)}
    ), ks AS (SELECT unnest({list(RRF_EVAL_KS)}) AS k),
    hf AS (
      SELECT ks.k, count(*) AS n
      FROM fr f JOIN sr s ON s.qid = f.qid AND s.doc_id = f.doc_id
      CROSS JOIN ks WHERE f.rf <= ks.k AND s.rs <= ks.k GROUP BY 1
    ), hl AS (
      SELECT ks.k, count(*) AS n
      FROM lr l JOIN sr s ON s.qid = l.qid AND s.doc_id = l.doc_id
      CROSS JOIN ks WHERE l.rl <= ks.k AND s.rs <= ks.k GROUP BY 1
    )
    SELECT CAST(ks.k AS BIGINT) AS k,
           round(coalesce(hf.n, 0) * 1.0
                 / (ks.k * {len(RAG_QUERY_DOCS)}), 6) AS fused_recall_vs_sem,
           round(coalesce(hl.n, 0) * 1.0
                 / (ks.k * {len(RAG_QUERY_DOCS)}), 6) AS lex_recall_vs_sem,
           CAST({len(RAG_QUERY_DOCS)} AS BIGINT) AS n_queries
    FROM ks LEFT JOIN hf ON hf.k = ks.k LEFT JOIN hl ON hl.k = ks.k
    ORDER BY k
    """,
    doc=f"hybrid-retrieval fusion eval: lexical (token-overlap) and semantic "
    f"(cosine over the aligned embeddings) rankings for the fixed "
    f"{len(RAG_QUERY_DOCS)}-query probe set are fused by reciprocal-rank "
    f"fusion (1/({RRF_K}+rank), Cormack et al. 2009) and recall@k of the "
    "fused list vs the semantic ranking is compared against lexical-only — "
    "the standard hybrid-search A/B a RAG stack runs before enabling "
    f"fusion. Rank lists are truncated at a LITERAL depth {RRF_DEPTH} "
    "(the rank_window_size of production hybrid search — docs deeper "
    "than the window contribute 0 to fusion), so InferWindowGroupLimit "
    "prunes each signal's keyed ranking map-side: every map task "
    f"forwards at most {RRF_DEPTH} rows per query and the fusion join "
    "runs on |queries| x depth rows, never the corpus. Probe sets "
    "broadcast; scoring is linear scans; RRF scores are rank-derived "
    "rationals, identical IEEE arithmetic on both engines "
    "(north-star pipeline / RAG retrieval)",
    tags=("pipeline", "similarity", "text"),
)
def rag_rrf_fusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from http_datafusion_spark.operators.similarity import _dot, _norm

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    d, e = t["documents"], t["embeddings"]
    lwords = whitespace_tokens(F.lower(F.col("text")))
    toks = d.select("doc_id", F.explode(F.array_distinct(lwords)).alias("word"))
    q = toks.filter(F.col("doc_id").isin(*RAG_QUERY_DOCS)).select(
        F.col("doc_id").alias("qid"), "word"
    )
    lex = (
        toks.join(F.broadcast(q), "word")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    lr = lex.select(
        "qid",
        "doc_id",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("hits"), F.asc("doc_id")))
        .alias("rl"),
    ).filter(F.col("rl") <= RRF_DEPTH)
    # lr and sr are |Q| x RRF_DEPTH rows but carry the full lexical /
    # semantic scoring lineage, and fusion + both recall branches each
    # re-derived them (6x embeddings scans) — eager
    # checkpoints on the bounded rankings pin one scoring pass per
    # signal.
    lr = lr.transform(pin)
    emb = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", emb.alias("emb"), _norm(emb).alias("nrm"))
    qe = base.filter(F.col("vec_id").isin(*RAG_QUERY_DOCS)).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qv"), F.col("nrm").alias("qn")
    )
    sem = (
        base.crossJoin(F.broadcast(qe))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            (_dot(F.col("emb"), F.col("qv")) / (F.col("nrm") * F.col("qn"))).alias(
                "cos"
            ),
        )
    )
    sr = (
        sem.select(
            "qid",
            "doc_id",
            F.row_number()
            .over(W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("doc_id")))
            .alias("rs"),
        )
        .filter(F.col("rs") <= RRF_DEPTH)
        .transform(pin)
    )
    fused = (
        lr.join(sr, ["qid", "doc_id"], "full")
        .select(
            "qid",
            "doc_id",
            (
                F.coalesce(F.lit(1.0) / (RRF_K + F.col("rl")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (RRF_K + F.col("rs")), F.lit(0.0))
            ).alias("score"),
        )
    )
    fr = fused.select(
        "qid",
        "doc_id",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("rf"),
    ).filter(F.col("rf") <= max(RRF_EVAL_KS))
    ks = spark.createDataFrame([(k,) for k in RRF_EVAL_KS], "k int")
    hf = (
        fr.join(sr, ["qid", "doc_id"])
        .join(F.broadcast(ks), (F.col("rf") <= F.col("k")) & (F.col("rs") <= F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nf"))
    )
    hl = (
        lr.join(sr, ["qid", "doc_id"])
        .join(F.broadcast(ks), (F.col("rl") <= F.col("k")) & (F.col("rs") <= F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nl"))
    )
    denom = F.col("k") * len(RAG_QUERY_DOCS)
    return (
        ks.join(hf, "k", "left")
        .join(hl, "k", "left")
        .select(
            F.col("k").cast("bigint").alias("k"),
            F.round(F.coalesce(F.col("nf"), F.lit(0)) * 1.0 / denom, 6).alias(
                "fused_recall_vs_sem"
            ),
            F.round(F.coalesce(F.col("nl"), F.lit(0)) * 1.0 / denom, 6).alias(
                "lex_recall_vs_sem"
            ),
            F.lit(len(RAG_QUERY_DOCS)).cast("bigint").alias("n_queries"),
        )
        .orderBy("k")
    )


# ------------------------------------- DSIR importance-resampling audit

# Data Selection via Importance Resampling (Xie et al. 2023, public):
# fit hashed-bigram multinomials over a TARGET domain and the RAW
# corpus; per-doc importance log w = sum_f c_f (ln p_target[f] -
# ln p_raw[f]); resample by weight. The constants are pipeline
# literals: a 256-bucket hashed feature space (smoothing density) and
# src0 as the target domain.
DSIR_TARGET_SOURCE = "src0"
DSIR_BUCKETS = 256

_DSIR_WORDS_SQL = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> '')"


@query(
    "corpus_dsir_importance",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, {_DSIR_WORDS_SQL} AS words FROM documents
    ), bg AS (
      SELECT doc_id, source,
             {md5_int_sql("words[i] || '_' || words[i + 1]")} % {DSIR_BUCKETS} AS f
      FROM w, unnest(range(1, len(words))) AS t(i)
      WHERE len(words) >= 2
    ), dfeat AS (
      SELECT doc_id, source, f, CAST(count(*) AS BIGINT) AS c
      FROM bg GROUP BY 1, 2, 3
    ), grid AS (
      SELECT unnest(range(0, {DSIR_BUCKETS})) AS f
    ), tcnt AS (
      SELECT f, CAST(sum(c) AS BIGINT) AS t FROM dfeat
      WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY f
    ), rcnt AS (
      SELECT f, CAST(sum(c) AS BIGINT) AS r FROM dfeat GROUP BY f
    ), tot AS (
      SELECT CAST(sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN c ELSE 0 END)
                  AS BIGINT) AS tt,
             CAST(sum(c) AS BIGINT) AS rt
      FROM dfeat
    ), lam AS (
      SELECT grid.f,
             CAST(round(ln((coalesce(tcnt.t, 0) + 1.0) / (tot.tt + {DSIR_BUCKETS}))
                        - ln((coalesce(rcnt.r, 0) + 1.0) / (tot.rt + {DSIR_BUCKETS})),
                        6) AS DECIMAL(18,6)) AS lam
      FROM grid LEFT JOIN tcnt USING (f) LEFT JOIN rcnt USING (f) CROSS JOIN tot
    ), perdoc AS (
      SELECT d.doc_id, d.source, sum(d.c * lam.lam) AS logw
      FROM dfeat d JOIN lam ON lam.f = d.f
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(logw) AS DOUBLE) / count(*), 4) AS avg_logw,
           round(sum(CASE WHEN logw > 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS frac_selected
    FROM perdoc
    GROUP BY source
    ORDER BY source
    """,
    doc=f"DSIR importance-resampling audit (Xie et al. 2023, public): "
    f"hashed-bigram ({DSIR_BUCKETS} buckets, Laplace-smoothed) multinomials "
    f"for the target domain ({DSIR_TARGET_SOURCE!r}) and the raw corpus; "
    f"per-doc importance log w = sum_f c_f (ln p_target - ln p_raw), "
    f"reported per source as mean log-weight and the fraction that would be "
    f"selected at the logw > 0 gate — the domain-targeted data-selection "
    f"readout next to mixture_budget_plan. Per-feature log-ratios rounded "
    f"6dp then DECIMAL-summed (order-independent, engine-exact). Scale "
    f"shape: TWO corpus bigram passes (doc-feature counts; the "
    f"feature-grid counts checkpointed at <= {DSIR_BUCKETS} rows so "
    f"totals + lambda derive for free); the {DSIR_BUCKETS}-row lambda "
    f"grid joins back hint-free (key-domain bounded, AQE decides); "
    f"everything after per-doc is a |sources|-row aggregate "
    f"(north-star pipeline / data selection)",
    tags=("pipeline", "text"),
)
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = whitespace_tokens(F.lower(F.col("text")))
    n = F.size("words")
    bg = (
        d.select("doc_id", "source", words.alias("words"))
        .filter(n >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.zip_with(
                    F.slice("words", 1, n - 1),
                    F.slice("words", 2, n - 1),
                    lambda a, b: F.concat(a, F.lit("_"), b),
                )
            ).alias("bigram"),
        )
        .select("doc_id", "source", (md5_int(F.col("bigram")) % DSIR_BUCKETS).alias("f"))
    )
    dfeat = bg.groupBy("doc_id", "source", "f").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # ONE (f)-keyed aggregation straight off the bigram stream carries
    # BOTH multinomials (target count as a conditional sum) — 256 keys,
    # so the shuffle is all map-side partials — checkpointed at
    # <= DSIR_BUCKETS rows so the totals + lambda grid derive without
    # re-running the explode. Net: 2 corpus explodes (this + dfeat) and
    # ONE doc-level shuffle, where the naive four-consumer shape ran 4
    # explodes (column pruning defeats ReuseExchange — the per-consumer
    # subtrees are not identical)
    grid = spark.range(DSIR_BUCKETS).select(F.col("id").alias("f"))
    rf = (
        bg.groupBy("f")
        .agg(
            F.sum((F.col("source") == DSIR_TARGET_SOURCE).cast("long"))
            .cast("bigint")
            .alias("t"),
            F.count(F.lit(1)).cast("bigint").alias("r"),
        )
        .transform(pin)
    )
    tot = rf.agg(
        F.sum("t").cast("bigint").alias("tt"), F.sum("r").cast("bigint").alias("rt")
    )
    lam_expr = quantize(
        F.log((F.coalesce(F.col("t"), F.lit(0)) + 1.0) / (F.col("tt") + DSIR_BUCKETS))
        - F.log((F.coalesce(F.col("r"), F.lit(0)) + 1.0) / (F.col("rt") + DSIR_BUCKETS)),
        6,
    )
    lam = (
        grid.join(rf, "f", "left")
        .crossJoin(F.broadcast(tot))
        .select("f", lam_expr.alias("lam"))
    )
    # hint-free lambda join: the grid side is DSIR_BUCKETS rows by
    # literal modulus but fact-derived, so AQE decides the broadcast
    perdoc = (
        dfeat.join(lam, "f")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("c") * F.col("lam")).alias("logw"))
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.sum("logw").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_logw"
            ),
            F.round(
                F.sum((F.col("logw") > 0).cast("long")) * 1.0 / F.count(F.lit(1)), 6
            ).alias("frac_selected"),
        )
        .orderBy("source")
    )


# ---------------------------------------- Z-order clustering audit

# The re-cluster advisory COMPARING layouts, extending
# table_zonemap_audit (which audits the natural layout only): the same
# orders rows are laid out three ways — natural (insertion key),
# date-sorted, and Z-ORDER (Morton-interleaved date x custkey bits,
# the Delta/Iceberg OPTIMIZE ZORDER layout, public) — and zone-map
# prunability is measured per layout for a date predicate, a custkey
# band, and their conjunction. Z-order's point: both dims prune.
ZORDER_BITS = 8  # per-dim resolution (256 ranks)
ZORDER_ZONE_SHIFT = 10  # 16-bit z-value >> 10 -> 64 zones
ZORDER_DATE_LO = "1995-01-01"
ZORDER_DATE_SPAN_DAYS = 2404  # [1995-01-01, 2001-08-01], the generated order range
ZORDER_DATE_CUTOFF = "1998-01-01"


def _zorder_interleave_sql(x: str, y: str) -> str:
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def _zorder_oracle() -> str:
    nb = 1 << ZORDER_BITS
    zv = _zorder_interleave_sql("dx", "cy")
    return f"""
    WITH mx AS (
      SELECT CAST(max(o_orderkey) AS BIGINT) AS mok,
             CAST(max(o_custkey) AS BIGINT) AS mck
      FROM orders
    ), b AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(floor(datediff('day', TIMESTAMP '{ZORDER_DATE_LO}', o_orderdate)
                  * {nb}.0 / {ZORDER_DATE_SPAN_DAYS + 1}) AS BIGINT) AS dx,
             CAST(floor(o_custkey * {nb}.0 / (mck + 1)) AS BIGINT) AS cy,
             mck
      FROM orders CROSS JOIN mx
    ), lz AS (
      SELECT o_orderdate, o_custkey, mck, l.layout,
             CASE l.layout
               WHEN 'natural' THEN CAST(floor(o_orderkey * 64.0 / (SELECT mok + 1 FROM mx)) AS BIGINT)
               WHEN 'date_sorted' THEN dx >> 2
               ELSE ({zv}) >> {ZORDER_ZONE_SHIFT}
             END AS zone
      FROM b, (SELECT unnest(['natural', 'date_sorted', 'zorder']) AS layout) l
    ), z AS (
      SELECT layout, zone,
             min(o_orderdate) AS mnd, max(o_orderdate) AS mxd,
             min(o_custkey) AS mnc, max(o_custkey) AS mxc,
             max(mck) AS mck
      FROM lz GROUP BY 1, 2
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_zones,
           round(count(*) FILTER (WHERE mnd >= TIMESTAMP '{ZORDER_DATE_CUTOFF}')
                 * 1.0 / count(*), 6) AS frac_prune_date,
           round(count(*) FILTER (WHERE mxc < (mck + 1) // 4
                                     OR mnc >= (mck + 1) // 2)
                 * 1.0 / count(*), 6) AS frac_prune_cust,
           round(count(*) FILTER (WHERE mnd >= TIMESTAMP '{ZORDER_DATE_CUTOFF}'
                                     OR mxc < (mck + 1) // 4
                                     OR mnc >= (mck + 1) // 2)
                 * 1.0 / count(*), 6) AS frac_prune_conj
    FROM z
    GROUP BY layout
    ORDER BY layout
    """


@query(
    "table_zorder_clustering_audit",
    oracle=_zorder_oracle(),
    doc=f"Z-order clustering audit: orders laid out three ways — natural "
    f"insertion order, date-sorted, and Morton-interleaved date x custkey "
    f"({ZORDER_BITS} bits/dim, zones = z >> {ZORDER_ZONE_SHIFT}; the "
    f"Delta/Iceberg OPTIMIZE ZORDER layout, public) — with zone-map "
    f"prunability per layout for a date predicate "
    f"(< {ZORDER_DATE_CUTOFF}), a custkey quartile band, and their "
    f"conjunction. The single-dim sort prunes one predicate and nothing "
    f"else; Z-order prunes BOTH — the measurement behind a re-cluster "
    f"decision, extending table_zonemap_audit. ONE corpus pass: the "
    f"3-layout fan-out is an in-row explode, zones come from bit math "
    f"(no sort, no window), then a (layout, zone)-keyed partial agg; the "
    f"max-key scalars broadcast (north-star pipeline / lake maintenance)",
    tags=("pipeline", "agg"),
)
def table_zorder_clustering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    nb = 1 << ZORDER_BITS
    mx = o.agg(
        F.max("o_orderkey").cast("bigint").alias("mok"),
        F.max("o_custkey").cast("bigint").alias("mck"),
    )
    dx = F.floor(
        F.datediff(F.col("o_orderdate"), F.lit(ZORDER_DATE_LO).cast("date"))
        * float(nb)
        / (ZORDER_DATE_SPAN_DAYS + 1)
    ).cast("bigint")
    cy = F.floor(F.col("o_custkey") * float(nb) / (F.col("mck") + 1)).cast("bigint")
    zval = None
    for i in range(ZORDER_BITS):
        xb = F.shiftleft(F.shiftright(F.col("dx"), i).bitwiseAND(F.lit(1)), 2 * i)
        yb = F.shiftleft(F.shiftright(F.col("cy"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        zval = xb.bitwiseOR(yb) if zval is None else zval.bitwiseOR(xb).bitwiseOR(yb)
    b = (
        o.select("o_orderkey", "o_custkey", "o_orderdate")
        .crossJoin(F.broadcast(mx))
        .withColumn("dx", dx)
        .withColumn("cy", cy)
    )
    zone_nat = F.floor(F.col("o_orderkey") * 64.0 / (F.col("mok") + 1)).cast("bigint")
    zone_date = F.shiftright(F.col("dx"), 2)
    zone_z = F.shiftright(zval, ZORDER_ZONE_SHIFT)
    lz = b.select(
        "o_orderdate",
        "o_custkey",
        "mck",
        F.explode(
            F.array(
                F.struct(F.lit("natural").alias("layout"), zone_nat.alias("zone")),
                F.struct(F.lit("date_sorted").alias("layout"), zone_date.alias("zone")),
                F.struct(F.lit("zorder").alias("layout"), zone_z.alias("zone")),
            )
        ).alias("s"),
    ).select("o_orderdate", "o_custkey", "mck", "s.layout", "s.zone")
    z = lz.groupBy("layout", "zone").agg(
        F.min("o_orderdate").alias("mnd"),
        F.max("o_orderdate").alias("mxd"),
        F.min("o_custkey").alias("mnc"),
        F.max("o_custkey").alias("mxc"),
        F.max("mck").alias("mck"),
    )
    cutoff = F.lit(ZORDER_DATE_CUTOFF).cast("date")
    lo = F.floor((F.col("mck") + 1) / 4)
    hi = F.floor((F.col("mck") + 1) / 2)
    p_date = (F.col("mnd") >= cutoff).cast("long")
    p_cust = ((F.col("mxc") < lo) | (F.col("mnc") >= hi)).cast("long")
    p_conj = (
        (F.col("mnd") >= cutoff) | (F.col("mxc") < lo) | (F.col("mnc") >= hi)
    ).cast("long")
    return (
        z.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_zones"),
            F.round(F.sum(p_date) * 1.0 / F.count(F.lit(1)), 6).alias("frac_prune_date"),
            F.round(F.sum(p_cust) * 1.0 / F.count(F.lit(1)), 6).alias("frac_prune_cust"),
            F.round(F.sum(p_conj) * 1.0 / F.count(F.lit(1)), 6).alias("frac_prune_conj"),
        )
        .orderBy("layout")
    )


# ---------------------------------------- Bloom join-prefilter audit

# Semi-join pruning via a broadcast Bloom filter (the runtime-filter /
# sideways-information-passing pattern every warehouse engine ships):
# the selective build side's keys hash into an m-bit filter, the probe
# side keeps only rows whose k positions are all set, and the exact
# join runs on the survivors. This audit MEASURES the m/k sizing: it
# builds the filter relationally (bit positions as a <= m-row table),
# probes, and reports observed vs theoretical false-positive rate —
# the number that decides whether m is worth the broadcast bytes.
JOINBLOOM_M = 16384
JOINBLOOM_K = 3


def _join_bloom_oracle() -> str:
    pos_rows = " UNION ALL ".join(
        "SELECT {h} % {m} AS pos, k FROM bk".format(
            h=md5_int_sql(f"concat('bf{i}|', CAST(k AS VARCHAR))"), m=JOINBLOOM_M
        )
        for i in range(JOINBLOOM_K)
    )
    fp1 = f"(1.0 - exp(-{JOINBLOOM_K}.0 * nb / {JOINBLOOM_M}))"
    return f"""
    WITH bk AS (
      SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    ), poss AS ({pos_rows}),
    bits AS (SELECT DISTINCT pos FROM poss),
    pk AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
    ph AS ({pos_rows.replace('FROM bk', 'FROM pk')}),
    cand AS (
      SELECT ph.k FROM ph JOIN bits USING (pos)
      GROUP BY ph.k HAVING count(*) = {JOINBLOOM_K}
    ), truth AS (
      SELECT pk.k FROM pk JOIN bk USING (k)
    ), c AS (
      SELECT CAST((SELECT count(*) FROM bk) AS BIGINT) AS nb,
             CAST((SELECT count(*) FROM bits) AS BIGINT) AS nbits,
             CAST((SELECT count(*) FROM pk) AS BIGINT) AS np,
             CAST((SELECT count(*) FROM cand) AS BIGINT) AS nc,
             CAST((SELECT count(*) FROM truth) AS BIGINT) AS nt
    )
    SELECT nb AS n_build_keys, nbits AS n_bits_set, np AS n_probe_keys,
           nc AS n_candidates, nt AS n_true_matches,
           nc - nt AS n_false_positives,
           round((nc - nt) * 1.0 / (np - nt), 6) AS fp_rate,
           round({fp1} * {fp1} * {fp1}, 6) AS fp_theory
    FROM c
    """


@query(
    "join_bloom_prefilter_audit",
    oracle=_join_bloom_oracle(),
    doc=f"Bloom join-prefilter sizing audit: the selective build side "
    f"(urgent orders' keys) hashes k={JOINBLOOM_K} positions into an "
    f"m={JOINBLOOM_M}-bit filter held as a <= m-row bit-position table; the "
    f"probe side (distinct lineitem keys) keeps keys whose {JOINBLOOM_K} "
    f"positions are all set; observed false-positive rate is compared "
    f"with the (1 - e^(-kn/m))^k theory — the runtime-filter / SIP "
    f"pattern (public in every warehouse engine), with the measurement "
    f"that decides whether m is worth the broadcast bytes. Zero false "
    f"negatives by construction (the HAVING count(*) = k test is exact). "
    f"Scale shape: the bit table is literal-modulus-bounded and joins "
    f"hint-free; probe fan-out is k rows/key into an equi-join + keyed "
    f"HAVING — at 100 TB this is exactly the shuffle the filter SAVES on "
    f"the real join, measured before deploying it "
    f"(north-star pipeline / join optimization)",
    tags=("pipeline", "join"),
)
def join_bloom_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    o, li = t["orders"], t["lineitem"]
    bk = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    pk = li.select(F.col("l_orderkey").alias("k")).distinct()

    def positions(df: DataFrame) -> DataFrame:
        return df.select(
            "k",
            F.explode(
                F.array(
                    *[
                        md5_int(F.concat(F.lit(f"bf{i}|"), F.col("k").cast("string")))
                        % JOINBLOOM_M
                        for i in range(JOINBLOOM_K)
                    ]
                )
            ).alias("pos"),
        )

    bits = positions(bk).select("pos").distinct()
    # hint-free bits join: <= JOINBLOOM_M rows by literal modulus but
    # fact-derived, so AQE decides the broadcast
    cand = (
        positions(pk)
        .join(bits, "pos")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nhit"))
        .filter(F.col("nhit") == JOINBLOOM_K)
        .select("k")
    )
    truth = pk.join(bk, "k")
    nb = bk.agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    nbits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("nbits"))
    np_ = pk.agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    nc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    fp1 = F.lit(1.0) - F.exp(F.lit(-float(JOINBLOOM_K)) * F.col("nb") / JOINBLOOM_M)
    return (
        nb.crossJoin(nbits)
        .crossJoin(np_)
        .crossJoin(nc)
        .crossJoin(nt)
        .select(
            F.col("nb").alias("n_build_keys"),
            F.col("nbits").alias("n_bits_set"),
            F.col("np").alias("n_probe_keys"),
            F.col("nc").alias("n_candidates"),
            F.col("nt").alias("n_true_matches"),
            (F.col("nc") - F.col("nt")).alias("n_false_positives"),
            F.round(
                (F.col("nc") - F.col("nt")) * 1.0 / (F.col("np") - F.col("nt")), 6
            ).alias("fp_rate"),
            F.round(fp1 * fp1 * fp1, 6).alias("fp_theory"),
        )
    )


# --------------------------------- cross-encoder-style rerank eval

# Completes the retrieval arc (lexical -> semantic -> RRF fusion ->
# RERANK): the fused top-RERANK_DEPTH candidates
# per probe query are re-scored by a PAIRWISE interaction model and
# recall@k of the reranked list is A/B'd against the fused baseline.
# The stand-in for the cross-encoder is a deterministic late-
# interaction score: sum over shared (query, doc) tokens of an
# integer IDF weight, wt(t) = 10^12 div df(t) — pairwise (a function
# of the token INTERSECTION, not factorizable into separate query/doc
# scores), and exactly reproducible cross-engine because the weights
# and their sums are integers (no float-summation-order hazard). A
# real cross-encoder swaps _interaction_score for a Pandas-UDF model
# call over the SAME depth-bounded candidate frame.
RERANK_DEPTH = 20  # candidates per query handed to the reranker
RERANK_EVAL_KS = (5, 10)
RERANK_IDF_SCALE = 10**12


@query(
    "rag_rerank_cross_encoder",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, word FROM (
        SELECT doc_id, unnest({_LWORDS_SQL}) AS word FROM documents)
    ), q AS (
      SELECT doc_id AS qid, word FROM toks
      WHERE doc_id IN {RAG_QUERY_DOCS}
    ), lex AS (
      SELECT q.qid, t.doc_id, count(*) AS hits
      FROM toks t JOIN q ON t.word = q.word
      WHERE t.doc_id <> q.qid GROUP BY 1, 2
    ), lr AS (
      SELECT * FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY hits DESC, doc_id) AS rl
        FROM lex) WHERE rl <= {RRF_DEPTH}
    ), e AS (
      SELECT vec_id, embedding,
             sqrt({_RRF_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ), qe AS (
      SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM e
      WHERE vec_id IN {RAG_QUERY_DOCS}
    ), sem AS (
      SELECT qe.qid, e.vec_id AS doc_id,
             {_RRF_DOT_SQL.format(a='e.embedding', b='qe.qv')} / (e.nrm * qe.qn) AS cos
      FROM e JOIN qe ON e.vec_id <> qe.qid
    ), sr AS (
      SELECT * FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rs
        FROM sem) WHERE rs <= {RRF_DEPTH}
    ), fused AS (
      SELECT coalesce(l.qid, s.qid) AS qid,
             coalesce(l.doc_id, s.doc_id) AS doc_id,
             coalesce(1.0 / ({RRF_K} + l.rl), 0.0)
             + coalesce(1.0 / ({RRF_K} + s.rs), 0.0) AS score
      FROM lr l FULL JOIN sr s ON s.qid = l.qid AND s.doc_id = l.doc_id
    ), fr AS (
      SELECT * FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rf
        FROM fused) WHERE rf <= {RERANK_DEPTH}
    ), df AS (
      SELECT word, CAST({RERANK_IDF_SCALE} // count(*) AS BIGINT) AS wt
      FROM toks GROUP BY word
    ), inter AS (
      SELECT fr.qid, fr.doc_id, sum(df.wt) AS s
      FROM fr
      JOIN toks dt ON dt.doc_id = fr.doc_id
      JOIN q ON q.qid = fr.qid AND q.word = dt.word
      JOIN df ON df.word = dt.word
      GROUP BY 1, 2
    ), rr AS (
      SELECT * FROM (
        SELECT fr.qid, fr.doc_id,
               row_number() OVER (
                 PARTITION BY fr.qid
                 ORDER BY coalesce(i.s, 0) DESC, fr.doc_id) AS rr
        FROM fr LEFT JOIN inter i
          ON i.qid = fr.qid AND i.doc_id = fr.doc_id
      ) WHERE rr <= {max(RERANK_EVAL_KS)}
    ), ks AS (SELECT unnest({list(RERANK_EVAL_KS)}) AS k),
    hr AS (
      SELECT ks.k, count(*) AS n
      FROM rr JOIN sr s ON s.qid = rr.qid AND s.doc_id = rr.doc_id
      CROSS JOIN ks WHERE rr.rr <= ks.k AND s.rs <= ks.k GROUP BY 1
    ), hf AS (
      SELECT ks.k, count(*) AS n
      FROM fr f JOIN sr s ON s.qid = f.qid AND s.doc_id = f.doc_id
      CROSS JOIN ks WHERE f.rf <= ks.k AND s.rs <= ks.k GROUP BY 1
    )
    SELECT CAST(ks.k AS BIGINT) AS k,
           round(coalesce(hr.n, 0) * 1.0
                 / (ks.k * {len(RAG_QUERY_DOCS)}), 6) AS rerank_recall_vs_sem,
           round(coalesce(hf.n, 0) * 1.0
                 / (ks.k * {len(RAG_QUERY_DOCS)}), 6) AS fused_recall_vs_sem,
           CAST({len(RAG_QUERY_DOCS)} AS BIGINT) AS n_queries
    FROM ks LEFT JOIN hr ON hr.k = ks.k LEFT JOIN hf ON hf.k = ks.k
    ORDER BY k
    """,
    doc=f"cross-encoder-style rerank eval completing the retrieval arc "
    f"(lexical -> semantic -> RRF fusion -> rerank): the fused top-"
    f"{RERANK_DEPTH} candidates per probe query are re-scored by a "
    f"pairwise late-interaction model — sum over shared query/doc tokens "
    f"of an integer IDF weight ({RERANK_IDF_SCALE} div df) — and "
    f"recall@k vs the semantic ranking is A/B'd against the fused "
    f"baseline, the standard rerank-stage ablation. The interaction "
    f"score is integer arithmetic end-to-end (exact cross-engine; no "
    f"float-sum order hazard) and genuinely pairwise (a token-"
    f"INTERSECTION statistic, not factorizable per side). Scale shape: "
    f"every ranking window carries a LITERAL depth bound "
    f"(WindowGroupLimit prunes map-side); the reranker touches only "
    f"|queries| x {RERANK_DEPTH} candidate docs — their token lists are "
    f"fetched by a broadcast semi-join, never a corpus shuffle — so a "
    f"real cross-encoder model UDF would see the same bounded frame "
    f"(north-star pipeline / RAG retrieval)",
    tags=("pipeline", "similarity", "text"),
)
def rag_rerank_cross_encoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from http_datafusion_spark.operators.similarity import _dot, _norm

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    d, e = t["documents"], t["embeddings"]
    lwords = whitespace_tokens(F.lower(F.col("text")))
    # The distinct-token index feeds four branches (query tokens,
    # lexical ranker, corpus IDF, candidate-token fetch); unpinned,
    # each re-derived the explode-over-text lineage (9x documents
    # scans). Checkpoint it once — the BM25 tf-index
    # pattern (text_prf_query_expansion).
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(lwords)).alias("word")
    ).transform(pin)
    q = toks.filter(F.col("doc_id").isin(*RAG_QUERY_DOCS)).select(
        F.col("doc_id").alias("qid"), "word"
    )
    lex = (
        toks.join(F.broadcast(q), "word")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    lr = lex.select(
        "qid",
        "doc_id",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("hits"), F.asc("doc_id")))
        .alias("rl"),
    ).filter(F.col("rl") <= RRF_DEPTH)
    emb = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", emb.alias("emb"), _norm(emb).alias("nrm"))
    qe = base.filter(F.col("vec_id").isin(*RAG_QUERY_DOCS)).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qv"), F.col("nrm").alias("qn")
    )
    sem = (
        base.crossJoin(F.broadcast(qe))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            (_dot(F.col("emb"), F.col("qv")) / (F.col("nrm") * F.col("qn"))).alias(
                "cos"
            ),
        )
    )
    # sr / fr are |Q| x depth rows carrying the full scoring lineage;
    # their three consumers each drove a re-derivation (10x embeddings
    # scans) — checkpoint the bounded rankings.
    sr = (
        sem.select(
            "qid",
            "doc_id",
            F.row_number()
            .over(W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("doc_id")))
            .alias("rs"),
        )
        .filter(F.col("rs") <= RRF_DEPTH)
        .transform(pin)
    )
    fused = lr.join(sr, ["qid", "doc_id"], "full").select(
        "qid",
        "doc_id",
        (
            F.coalesce(F.lit(1.0) / (RRF_K + F.col("rl")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (RRF_K + F.col("rs")), F.lit(0.0))
        ).alias("score"),
    )
    fr = (
        fused.select(
            "qid",
            "doc_id",
            F.row_number()
            .over(W.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id")))
            .alias("rf"),
        )
        .filter(F.col("rf") <= RERANK_DEPTH)
        .transform(pin)  # |Q| x RERANK_DEPTH rows; 3 consumers
    )
    # Corpus-wide integer IDF weights; the reranker only ever reads the
    # weights of tokens appearing in candidate docs, but df must be
    # computed over the FULL corpus (that is what IDF means).
    dfreq = toks.groupBy("word").agg(
        F.expr(f"{RERANK_IDF_SCALE} div count(1)").cast("bigint").alias("wt")
    )
    # Candidate docs' tokens via broadcast semi-shape join: |Q| x depth
    # pairs is a constant of the pipeline, so fr broadcasts and the
    # corpus token scan prunes to candidate docs map-side.
    cand_toks = toks.join(
        F.broadcast(fr.select("qid", "doc_id")), "doc_id"
    ).withColumnRenamed("word", "dword")
    inter = (
        cand_toks.join(
            F.broadcast(q.withColumnRenamed("word", "dword")), ["qid", "dword"]
        )
        .join(dfreq.withColumnRenamed("word", "dword"), "dword")
        .groupBy("qid", "doc_id")
        .agg(F.sum("wt").alias("s"))
    )
    rr = (
        fr.join(inter, ["qid", "doc_id"], "left")
        .select(
            "qid",
            "doc_id",
            F.row_number()
            .over(
                W.partitionBy("qid").orderBy(
                    F.desc(F.coalesce(F.col("s"), F.lit(0))), F.asc("doc_id")
                )
            )
            .alias("rr"),
        )
        .filter(F.col("rr") <= max(RERANK_EVAL_KS))
    )
    ks = spark.createDataFrame([(k,) for k in RERANK_EVAL_KS], "k int")
    hr = (
        rr.join(sr, ["qid", "doc_id"])
        .join(F.broadcast(ks), (F.col("rr") <= F.col("k")) & (F.col("rs") <= F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nr"))
    )
    hf = (
        fr.join(sr, ["qid", "doc_id"])
        .join(F.broadcast(ks), (F.col("rf") <= F.col("k")) & (F.col("rs") <= F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nf"))
    )
    denom = F.col("k") * len(RAG_QUERY_DOCS)
    return (
        ks.join(hr, "k", "left")
        .join(hf, "k", "left")
        .select(
            F.col("k").cast("bigint").alias("k"),
            F.round(F.coalesce(F.col("nr"), F.lit(0)) * 1.0 / denom, 6).alias(
                "rerank_recall_vs_sem"
            ),
            F.round(F.coalesce(F.col("nf"), F.lit(0)) * 1.0 / denom, 6).alias(
                "fused_recall_vs_sem"
            ),
            F.lit(len(RAG_QUERY_DOCS)).cast("bigint").alias("n_queries"),
        )
        .orderBy("k")
    )


# ------------------------------------------- shard mix audit

# A deterministic epoch shuffle is only as good as the per-shard
# SOURCE mix it produces: if shard 7 over-represents one crawl, the
# training batches built from it see a skewed distribution (data
# ordering bias). The audit reports, per train_shuffle_shards shard,
# the total-variation distance between the shard's source mix and the
# corpus mix, plus the worst-deviating source. TV is computed from
# INTEGER cross-products — 0.5 * sum_s |c_{shard,s}*N - n_s*n_shard| /
# (n_shard*N) — so the statistic is exact cross-engine (one float
# division at the end). Products fit bigint through ~3e9 docs; a
# 100 TB corpus audit casts the two factors to decimal(38,0) first.


@query(
    "shard_mix_audit",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             {md5_int_sql(f"concat('{SHUFFLE_EPOCH_SEED}|', CAST(doc_id AS VARCHAR))")}
               % {N_SHARDS} AS shard
      FROM documents
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM h
    ), src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS ns FROM h GROUP BY source
    ), sh AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS nsh FROM h GROUP BY shard
    ), cell AS (
      SELECT shard, source, CAST(count(*) AS BIGINT) AS c FROM h GROUP BY 1, 2
    ), grid AS (
      SELECT sh.shard, sh.nsh, src.source, src.ns,
             CAST(coalesce(cell.c, 0) AS BIGINT) AS c
      FROM sh CROSS JOIN src
      LEFT JOIN cell ON cell.shard = sh.shard AND cell.source = src.source
    ), dev AS (
      SELECT g.shard, g.nsh, g.source,
             abs(g.c * tot.n - g.ns * g.nsh) AS num
      FROM grid g, tot
    ), worst AS (
      SELECT shard, source AS worst_source, num AS worst_num FROM (
        SELECT shard, source, num,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY num DESC, source) AS rn
        FROM dev) WHERE rn = 1
    )
    SELECT CAST(d.shard AS BIGINT) AS shard,
           d.nsh AS n_docs,
           round(0.5 * sum(d.num) / (d.nsh * 1.0 * tot.n), 6) AS tv_distance,
           min(w.worst_source) AS worst_source,
           round(max(w.worst_num) / (d.nsh * 1.0 * tot.n), 6) AS worst_source_dev
    FROM dev d, tot
    JOIN worst w ON w.shard = d.shard
    GROUP BY d.shard, d.nsh, tot.n
    ORDER BY shard
    """,
    doc=f"training-shuffle mix audit: per train_shuffle_shards shard "
    f"(md5('{SHUFFLE_EPOCH_SEED}|'||doc_id) % {N_SHARDS}), the total-"
    f"variation distance between the shard's source mix and the corpus "
    f"mix, plus the worst-deviating source — the data-ordering-bias "
    f"check a pipeline runs before handing shards to a trainer. One "
    f"corpus scan feeding a {N_SHARDS}x|sources| cell-count partial "
    f"aggregation; all downstream arithmetic runs on the tiny cell "
    f"grid, and TV is derived from integer cross-products (exact "
    f"cross-engine, single float division at the end) "
    f"(north-star pipeline / training prep)",
    tags=("pipeline", "agg"),
)
def shard_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from http_datafusion_spark.functions.hashing import md5_int

    d = load_tables(spark, sf_dir, "documents")["documents"]
    h = d.select(
        "source",
        (
            md5_int(F.concat(F.lit(f"{SHUFFLE_EPOCH_SEED}|"), F.col("doc_id").cast("string")))
            % N_SHARDS
        ).alias("shard"),
    )
    # The cell grid (N_SHARDS x |sources|, ~hundreds of rows) feeds five
    # downstream consumers; without the checkpoint Catalyst re-derives
    # it per consumer and the plan scans the CORPUS eight times (caught
    # by the .explain audit). One token pass, everything after runs
    # on the checkpointed grid — the curriculum_stage_plan precedent.
    cell = (
        h.groupBy("shard", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(pin)
    )
    sh = cell.groupBy("shard").agg(F.sum("c").cast("bigint").alias("nsh"))
    src = cell.groupBy("source").agg(F.sum("c").cast("bigint").alias("ns"))
    tot = src.agg(F.sum("ns").cast("bigint").alias("n"))
    grid = (
        sh.crossJoin(F.broadcast(src))
        .join(cell, ["shard", "source"], "left")
        .select(
            "shard",
            "nsh",
            "source",
            "ns",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
    )
    dev = grid.crossJoin(F.broadcast(tot)).select(
        "shard",
        "nsh",
        "source",
        "n",
        F.abs(F.col("c") * F.col("n") - F.col("ns") * F.col("nsh")).alias("num"),
    )
    worst = (
        dev.select(
            "shard",
            "source",
            "num",
            F.row_number()
            .over(W.partitionBy("shard").orderBy(F.desc("num"), F.asc("source")))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("shard", F.col("source").alias("worst_source"), F.col("num").alias("worst_num"))
    )
    return (
        dev.groupBy("shard", "nsh", "n")
        .agg(F.sum("num").alias("sum_num"))
        .join(F.broadcast(worst), "shard")
        .select(
            F.col("shard").cast("bigint").alias("shard"),
            F.col("nsh").alias("n_docs"),
            F.round(F.lit(0.5) * F.col("sum_num") / (F.col("nsh") * 1.0 * F.col("n")), 6).alias(
                "tv_distance"
            ),
            "worst_source",
            F.round(F.col("worst_num") / (F.col("nsh") * 1.0 * F.col("n")), 6).alias(
                "worst_source_dev"
            ),
        )
        .orderBy("shard")
    )


# ------------------------------------------- partition layout advisor

# Choosing the partition column is the highest-leverage physical-design
# decision for a 100 TB table: it fixes the prune fraction of every
# date-ranged scan, the small-file count, and the write-skew ceiling.
# The advisor evaluates candidate keys on one pass each over the fact
# table and reports, per candidate: partition count, row skew
# (max/avg), small-partition fraction (< half the average — the
# small-file risk), and the partition-prune outcome of a
# representative year filter (prunable-partition fraction + the
# fraction of rows still scanned). All ratios derive from integer
# counts, so the report is exact cross-engine.
LAYOUT_FILTER_LO = "1997-01-01"
LAYOUT_FILTER_HI = "1998-01-01"
LAYOUT_CUSTKEY_BUCKETS = 64

# (name, duckdb partition expr, spark partition Column factory)
_LAYOUT_CANDIDATES = (
    ("custkey_bucket64", f"o_custkey % {LAYOUT_CUSTKEY_BUCKETS}"),
    ("order_month", "CAST(date_trunc('month', o_orderdate) AS DATE)"),
    ("order_priority", "o_orderpriority"),
)


def _layout_branch_sql(name: str, expr: str) -> str:
    return f"""
    SELECT '{name}' AS candidate,
           CAST(max(np) AS BIGINT) AS n_partitions,
           round(max(n) * 1.0 * max(np) / max(total), 6) AS row_skew,
           round(sum(CASE WHEN n * 2 * np < total THEN 1
                          ELSE 0 END) * 1.0 / max(np), 6) AS frac_small_parts,
           round(sum(CASE WHEN mx < TIMESTAMP '{LAYOUT_FILTER_LO}'
                            OR mn >= TIMESTAMP '{LAYOUT_FILTER_HI}'
                          THEN 1 ELSE 0 END) * 1.0 / max(np), 6) AS frac_prunable,
           round(sum(CASE WHEN mx < TIMESTAMP '{LAYOUT_FILTER_LO}'
                            OR mn >= TIMESTAMP '{LAYOUT_FILTER_HI}'
                          THEN 0 ELSE n END) * 1.0 / max(total), 6) AS scan_frac
    FROM (
      SELECT pk, n, mn, mx,
             count(*) OVER () AS np, sum(n) OVER () AS total
      FROM (
        SELECT {expr} AS pk, CAST(count(*) AS BIGINT) AS n,
               min(o_orderdate) AS mn, max(o_orderdate) AS mx
        FROM orders GROUP BY 1))
    """


@query(
    "partition_layout_advisor",
    oracle=" UNION ALL ".join(
        _layout_branch_sql(n, e) for n, e in _LAYOUT_CANDIDATES
    )
    + " ORDER BY candidate",
    doc=f"partition-layout advisor: three candidate partition keys for the "
    f"orders fact (customer hash bucket, order month, order priority) are "
    f"each profiled in one groupBy pass — partition count, row skew "
    f"(max/avg), small-partition fraction (<half average: the small-file "
    f"risk), and the prune outcome of a representative year filter "
    f"[{LAYOUT_FILTER_LO}, {LAYOUT_FILTER_HI}): prunable-partition "
    f"fraction and residual scan fraction. The month key prunes ~5/6 of "
    f"the scan; the hash bucket prunes nothing but has near-zero skew; "
    f"priority is too coarse — exactly the trade a lakehouse physical "
    f"designer weighs. Per-candidate stats tables are |partitions|-sized; "
    f"every ratio derives from integer counts (exact cross-engine) "
    f"(north-star pipeline / lake maintenance)",
    tags=("pipeline", "agg"),
)
def partition_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    lo = F.lit(LAYOUT_FILTER_LO).cast("timestamp")
    hi = F.lit(LAYOUT_FILTER_HI).cast("timestamp")
    # ONE fact scan for all three candidates: each row explodes into
    # (candidate, pk-as-string) pairs and the per-(candidate, pk) stats
    # aggregate map-side before the only exchange — the .explain
    # audit caught the per-candidate-loop draft scanning orders 9x.
    # The stats table (~150 x 3 rows) is localCheckpointed so its four
    # downstream consumers don't re-derive the scan.
    names = ["custkey_bucket64", "order_month", "order_priority"]
    pk_arr = F.array(
        (F.col("o_custkey") % LAYOUT_CUSTKEY_BUCKETS).cast("string"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").cast("string"),
        F.col("o_orderpriority"),
    )
    exploded = o.select(
        F.posexplode(pk_arr).alias("ci", "pk"), F.col("o_orderdate")
    )
    parts = (
        exploded.groupBy("ci", "pk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_orderdate").alias("mn"),
            F.max("o_orderdate").alias("mx"),
        )
        .transform(pin)
    )
    tot = parts.groupBy("ci").agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("n").alias("total"),
    )
    prun = (F.col("mx") < lo) | (F.col("mn") >= hi)
    g = (
        parts.join(F.broadcast(tot), "ci")
        .groupBy("ci", "np", "total")
        .agg(
            F.max("n").alias("mx_n"),
            F.sum(F.when(prun, 1).otherwise(0)).alias("n_prun"),
            F.sum(F.when(prun, F.lit(0)).otherwise(F.col("n"))).alias("n_scan"),
            F.sum(
                F.when(F.col("n") * 2 * F.col("np") < F.col("total"), 1).otherwise(0)
            ).alias("n_small"),
        )
    )
    cand = F.element_at(F.array(*[F.lit(n) for n in names]), F.col("ci") + 1)
    return (
        g.select(
            cand.alias("candidate"),
            F.col("np").alias("n_partitions"),
            F.round(F.col("mx_n") * 1.0 * F.col("np") / F.col("total"), 6).alias(
                "row_skew"
            ),
            F.round(F.col("n_small") * 1.0 / F.col("np"), 6).alias("frac_small_parts"),
            F.round(F.col("n_prun") * 1.0 / F.col("np"), 6).alias("frac_prunable"),
            F.round(F.col("n_scan") * 1.0 / F.col("total"), 6).alias("scan_frac"),
        )
        .orderBy("candidate")
    )


@query(
    "train_shuffle_autocorr",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             {md5_int_sql(f"concat('{SHUFFLE_EPOCH_SEED}|', CAST(doc_id AS VARCHAR))")} AS h,
             {md5_int_sql(f"concat('{SHUFFLE_EPOCH_SEED}|', CAST(doc_id AS VARCHAR))")} % {N_SHARDS} AS shard
      FROM documents
    ),
    seq AS (
      SELECT shard, source,
             lag(source) OVER (PARTITION BY shard ORDER BY h, doc_id) AS prev
      FROM h
    ),
    adj AS (
      SELECT shard,
             CAST(sum(CASE WHEN prev = source THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
             CAST(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
      FROM seq GROUP BY shard
    ),
    cs AS (
      SELECT shard, source, CAST(count(*) AS BIGINT) AS n_s FROM h GROUP BY shard, source
    ),
    ex AS (
      SELECT shard,
             CAST(sum(n_s) AS BIGINT) AS n_docs,
             CAST(sum(n_s * (n_s - 1)) AS BIGINT) AS same_perms
      FROM cs GROUP BY shard
    )
    SELECT a.shard AS shard,
           e.n_docs,
           a.n_same,
           a.n_pairs,
           round(CAST(a.n_same AS DOUBLE) / a.n_pairs, 6) AS obs_rate,
           round(CAST(e.same_perms AS DOUBLE) / (e.n_docs * (e.n_docs - 1.0)), 6)
             AS exp_rate,
           round((CAST(a.n_same AS DOUBLE) / a.n_pairs
                  - CAST(e.same_perms AS DOUBLE) / (e.n_docs * (e.n_docs - 1.0)))
                 / (1.0 - CAST(e.same_perms AS DOUBLE) / (e.n_docs * (e.n_docs - 1.0))),
                 6) AS autocorr_index
    FROM adj a JOIN ex e ON e.shard = a.shard
    ORDER BY a.shard
    """,
    doc=f"shuffle-quality audit for the deterministic epoch shuffle: per "
    f"shard, the lag-1 same-source rate of the shuffled stream vs the "
    f"expected rate under a uniform random permutation "
    f"(sum n_s(n_s-1)/(n(n-1))), normalized to an autocorrelation index "
    f"((obs-exp)/(1-exp): 0 = perfectly mixed, 1 = fully clustered) — "
    f"source-clustered batches are correlated gradients, the failure mode "
    f"the shuffle exists to prevent, so this is the audit that PROVES the "
    f"md5 shuffle actually mixes sources. Adjacency is computed in the "
    f"train_shuffle_shards two-phase shape: lag within each of the "
    f"{N_SHARDS}x{N_SHARD_SUBBUCKETS} order-aligned (shard, h>>"
    f"{_SUBBUCKET_SHIFT}) sub-buckets plus a boundary stitch over the "
    f"{N_SHARDS}x{N_SHARD_SUBBUCKETS}-row first/last frame — bit-identical "
    f"pair set to the oracle's single per-shard window, at "
    f"{N_SHARDS}x{N_SHARD_SUBBUCKETS}-way sort parallelism. Counts stay "
    f"integer until the final division (north-star pipeline)",
    tags=("pipeline", "sampling", "bench_extra"),
)
def train_shuffle_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    h = md5_int(F.concat(F.lit(f"{SHUFFLE_EPOCH_SEED}|"), F.col("doc_id").cast("string")))
    # doc-grain (doc_id, source, hash) frame feeds both adjacency
    # phases and the permutation-expectation agg; unpinned each
    # re-derived the documents scan (3 executed scans). Doc-grain ==
    # FACT-SCALE, so the events_ks fact_scale
    # pin: lineage-recoverable persist, never an unreplicated local
    # checkpoint. Narrow (3 small columns), so the persist is cheap.
    base = (
        d.select("doc_id", "source", h.alias("h"))
        .withColumn("shard", (F.col("h") % N_SHARDS).cast("bigint"))
        .withColumn("hb", F.shiftright(F.col("h"), _SUBBUCKET_SHIFT))
        .transform(pin, fact_scale=True)
    )
    # Phase 1: within-sub-bucket adjacency (1024 bounded sort keys).
    wl = W.partitionBy("shard", "hb").orderBy("h", "doc_id")
    inner = (
        base.withColumn("prev", F.lag("source").over(wl))
        .groupBy("shard")
        .agg(
            F.sum(F.when(F.col("prev") == F.col("source"), 1).otherwise(0))
            .cast("bigint")
            .alias("in_same"),
            F.sum(F.when(F.col("prev").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("in_pairs"),
        )
    )
    # Phase 2: boundary stitch — first/last source per (shard, hb), then
    # one window over the <= N_SHARDS*N_SHARD_SUBBUCKETS-row frame (hb is
    # order-aligned with h, so consecutive non-empty sub-buckets are
    # exactly the oracle's cross-boundary adjacent pairs).
    ends = base.groupBy("shard", "hb").agg(
        F.min_by("source", F.struct("h", "doc_id")).alias("first_source"),
        F.max_by("source", F.struct("h", "doc_id")).alias("last_source"),
    )
    wb = W.partitionBy("shard").orderBy("hb")
    edge = (
        ends.withColumn("prev_last", F.lag("last_source").over(wb))
        .groupBy("shard")
        .agg(
            F.sum(F.when(F.col("prev_last") == F.col("first_source"), 1).otherwise(0))
            .cast("bigint")
            .alias("ed_same"),
            F.sum(F.when(F.col("prev_last").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("ed_pairs"),
        )
    )
    cs = base.groupBy("shard", "source").agg(F.count(F.lit(1)).cast("bigint").alias("n_s"))
    ex = cs.groupBy("shard").agg(
        F.sum("n_s").cast("bigint").alias("n_docs"),
        F.sum(F.col("n_s") * (F.col("n_s") - 1)).cast("bigint").alias("same_perms"),
    )
    j = (
        inner.join(edge, "shard")
        .join(ex, "shard")
        .select(
            "shard",
            "n_docs",
            (F.col("in_same") + F.col("ed_same")).alias("n_same"),
            (F.col("in_pairs") + F.col("ed_pairs")).alias("n_pairs"),
            "same_perms",
        )
    )
    obs = F.col("n_same").cast("double") / F.col("n_pairs")
    exp = F.col("same_perms").cast("double") / (
        F.col("n_docs") * (F.col("n_docs") - F.lit(1.0))
    )
    return j.select(
        "shard",
        "n_docs",
        "n_same",
        "n_pairs",
        F.round(obs, 6).alias("obs_rate"),
        F.round(exp, 6).alias("exp_rate"),
        F.round((obs - exp) / (F.lit(1.0) - exp), 6).alias("autocorr_index"),
    ).orderBy("shard")
