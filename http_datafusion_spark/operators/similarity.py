"""Similarity search over the ``embeddings`` table — north-star
extension (ANN over an ``array<float>`` column).

Two tiers:

- ``sim_bruteforce_topk`` — exact cosine top-k. The dot product is a
  JVM-side fold (``zip_with`` + ``aggregate``) against a broadcast
  1-row query vector, so the scan is shuffle-free and the top-k is
  Catalyst's TakeOrderedAndProject (per-partition heaps, no global
  sort). Measured on 32 cores: for a LINEAR numeric
  scan the JVM fold beats an Arrow-batched numpy kernel (0.35 s vs
  0.56 s warm at 100k x 64) because the Python path pays per-batch
  Arrow serialization of the embedding column; numpy kernels win for
  the quadratic all-pairs tiles (operators/dedup.py), where flops
  dominate transfers, and for multi-centroid assignment, where the
  JVM expression tree itself costs ~0.7 s of driver RPC to build.
- ``sim_ivf_topk`` — IVF-style bucketed search: vectors are assigned
  to their nearest of K fixed centroids at "index build" time; a
  query probes only the nprobe nearest buckets. At 100 TB this is
  the path: the bucket assignment is one narrow column, the probe
  set is a **literal IN filter** (partition-prunable when the index
  is written out partitioned by bucket), and only ~nprobe/K of the
  data is scanned. Probe selection runs on the driver over the K
  cached centroid vectors — an ANN client holds its codebook.

Driver materialization is O(K) — the K centroid vectors and the one
query vector, memoized per sf_dir; all row-level scoring stays on
executors. Centroids are taken from fixed vec_ids (deterministic, no
RNG) — standing in for a k-means fit, an offline job at scale.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from http_datafusion_spark.functions.fixedpoint import quantize
from http_datafusion_spark.functions.veclib import fold_norms, fold_sqdist
from http_datafusion_spark.functions.pinning import pin
from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import derived_dir, fingerprint_tables, load_tables, spread

QUERY_VEC_ID = 0  # the "query" is the embedding of vec_id 0
N_CENTROIDS = 8
CENTROID_VEC_IDS = tuple(range(1, N_CENTROIDS + 1))
N_PROBE = 2
TOP_K = 10

_DOT_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — same IEEE accumulation order as
    the DuckDB oracle's list_sum, so values match bit-for-bit."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


_VEC_CACHE: dict[tuple[str, str, tuple[int, ...]], dict[int, np.ndarray]] = {}


def _fetch_vectors(spark: SparkSession, sf_dir: str, ids: tuple[int, ...]) -> dict[int, np.ndarray]:
    """Collect the named vectors (query + centroids) — one tiny job with
    the vec_id filter pushed to the parquet scan; O(len(ids)) driver
    memory, never the table. Memoized per (sf_dir, embeddings file
    fingerprint, ids): these are index-time constants, so repeated
    queries skip the job, and a rewritten embeddings file in a
    long-lived session is re-read instead of served stale."""
    key = (sf_dir, fingerprint_tables(sf_dir, "embeddings"), tuple(ids))
    if key not in _VEC_CACHE:
        e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
        rows = e.filter(F.col("vec_id").isin(*ids)).select("vec_id", "embedding").collect()
        _VEC_CACHE[key] = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64) for r in rows}
    return _VEC_CACHE[key]


@query(
    "sim_bruteforce_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ), q AS (
      SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = {QUERY_VEC_ID}
    )
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           round({_DOT_SQL.format(a='embedding', b='qv')} / (nrm * qn), 6) AS cosine
    FROM e, q
    WHERE vec_id <> {QUERY_VEC_ID}
    ORDER BY {_DOT_SQL.format(a='embedding', b='qv')} / (nrm * qn) DESC, vec_id
    LIMIT {TOP_K}
    """,
    doc="exact cosine top-k: single-job JVM fold vs literal query vector + TakeOrderedAndProject (north-star similarity)",
    tags=("similarity", "bench"),
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", "label", emb.alias("emb"), _norm(emb).alias("nrm"))
    qrow = base.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("emb").alias("qv"), F.col("nrm").alias("qn")
    )
    cos = _dot(F.col("emb"), F.col("qv")) / (F.col("nrm") * F.col("qn"))
    return (
        base.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qrow))
        .withColumn("cosine_raw", cos)
        .orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
        .limit(TOP_K)
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            F.round("cosine_raw", 6).alias("cosine"),
        )
    )


def _assign_score_fn(cids: list[int], C: np.ndarray, qv: np.ndarray | None):
    """mapInPandas fn: nearest-centroid bucket per row (squared-L2
    argmin, ties to smallest cid) and, when ``qv`` is given, the cosine
    against it. Centroids/query ride in the task closure — zero joins,
    zero shuffles, zero per-element driver RPC; the kernels accumulate
    in strict left-fold order so every value matches the SQL oracle
    bit-for-bit (functions/veclib.py)."""
    import pandas as pd

    from http_datafusion_spark.functions.veclib import fold_dot, stack_embeddings

    cid_arr = np.asarray(cids, dtype=np.int64)
    qn = float(fold_norms(qv[None, :])[0]) if qv is not None else None

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = stack_embeddings(pdf["embedding"])
            # argmin returns the FIRST min -> smallest cid on ties
            # because cids are sorted ascending.
            bucket = cid_arr[np.argmin(fold_sqdist(M, C), axis=1)]
            out = {
                "vec_id": pdf["vec_id"],
                "label": pdf["label"],
                "embedding": pdf["embedding"],
                "bucket": bucket,
            }
            if qv is not None:
                out["cosine_raw"] = fold_dot(M, qv[None, :])[:, 0] / (fold_norms(M) * qn)
            yield pd.DataFrame(out)

    return fn


def ivf_assignments(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """(vec_id, label, embedding, bucket): every vector labeled with its
    nearest centroid. One Arrow-batched pass; at scale the output is
    written partitioned by ``bucket`` so probes become partition-pruned
    scans.

    ``spread``: a one-row-group ``embeddings`` scan feeds this Python
    kernel ONE input partition — one Arrow worker assigns every vector;
    ``plans.tables.spread`` repartitions the vectors to the shuffle width
    first (sf5, 4 cores: ``sim_ivf_buckets`` 1.78 -> 1.15 s).
    sim_contrastive_pair_mining opts OUT: it pins the (vec_id, bucket)
    projection with a fact-scale persist, and the pre-assignment
    exchange measured SLOWER through that persist at sf5 (11.7 s vs
    7.3 s) while every unpinned consumer measured faster (silhouette
    −77%, ivf_buckets −54%, semdedup_prune −26%)."""
    cents = _fetch_vectors(spark, sf_dir, CENTROID_VEC_IDS)
    cids = sorted(cents)
    C = np.stack([cents[c] for c in cids])
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    pts = e.select("vec_id", "label", "embedding")
    if spread:
        # The parameter shadows the module-level helper's name.
        from http_datafusion_spark.plans.tables import spread as spread_rows

        pts = spread_rows(pts, "vec_id")
    return pts.mapInPandas(
        _assign_score_fn(cids, C, None),
        schema="vec_id bigint, label bigint, embedding array<float>, bucket bigint",
    )


_IVF_ASSIGN_SQL = f"""
    e AS (
      SELECT vec_id, label, embedding,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cid, embedding AS cv FROM e WHERE vec_id IN {CENTROID_VEC_IDS}
    ), assigned AS (
      SELECT vec_id, label, embedding, nrm, cid AS bucket
      FROM (
        SELECT e.vec_id, e.label, e.embedding, e.nrm, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_sum(list_transform(range(1, len(e.embedding) + 1),
                          i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                             * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)))), c.cid
               ) AS rn
        FROM e CROSS JOIN cents c
      ) WHERE rn = 1
    )
"""


@query(
    "sim_label_centroids",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS c_dim1,
           round(avg(CAST(embedding[2] AS DOUBLE)), 6) AS c_dim2,
           round(avg(sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))), 6) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
    doc="per-label centroid components + mean norm (vector aggregation shape for k-means-style refits) (north-star similarity)",
    tags=("similarity",),
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    return (
        e.select("label", emb.alias("emb"), _norm(emb).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.element_at("emb", 1)), 6).alias("c_dim1"),
            F.round(F.avg(F.element_at("emb", 2)), 6).alias("c_dim2"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
        )
    )


@query(
    "sim_ivf_buckets",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL}
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(DISTINCT label) AS BIGINT) AS n_labels
    FROM assigned
    GROUP BY bucket
    """,
    doc="IVF index build: shuffle-free closure-centroid bucket assignment (Arrow-batched fold-exact kernel) + bucket profile (north-star similarity scale path)",
    tags=("similarity",),
)
def sim_ivf_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_assignments(spark, sf_dir).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
    )


@query(
    "sim_ivf_topk",
    oracle=f"""
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
    )
    SELECT a.vec_id, CAST(a.label AS BIGINT) AS label,
           round({_DOT_SQL.format(a='a.embedding', b='qv')} / (a.nrm * qn), 6) AS cosine
    FROM assigned a, q
    WHERE a.bucket IN (SELECT cid FROM probe) AND a.vec_id <> {QUERY_VEC_ID}
    ORDER BY {_DOT_SQL.format(a='a.embedding', b='qv')} / (a.nrm * qn) DESC, a.vec_id
    LIMIT {TOP_K}
    """,
    doc=f"IVF-bucketed ANN top-k: driver-side probe over the cached codebook, literal IN bucket filter (partition-prunable), probe {N_PROBE}/{N_CENTROIDS} (north-star similarity scale path)",
    tags=("similarity", "bench"),
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _fetch_vectors(spark, sf_dir, (QUERY_VEC_ID, *CENTROID_VEC_IDS))
    qv = vecs[QUERY_VEC_ID]
    cids = sorted(CENTROID_VEC_IDS)
    # Probe selection: K=8 centroids, pure driver arithmetic with the
    # fold-exact kernel (functions/veclib.py) — no Spark job.
    C = np.stack([vecs[c] for c in cids])
    qd2 = fold_sqdist(C, qv[None, :])[:, 0]
    order = sorted(range(len(cids)), key=lambda i: (qd2[i], cids[i]))
    probe_ids = [cids[i] for i in order[:N_PROBE]]
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    scored = e.select("vec_id", "label", "embedding").mapInPandas(
        _assign_score_fn(cids, C, qv),
        schema="vec_id bigint, label bigint, embedding array<float>, bucket bigint, cosine_raw double",
    )
    return (
        scored.filter(F.col("bucket").isin(probe_ids))  # literal IN: prunable at scale
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
        .limit(TOP_K)
        .select("vec_id", "label", F.round("cosine_raw", 6).alias("cosine"))
    )


_DIST2_TO_LIST_SQL = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> (CAST({x}[i] AS DOUBLE) - {c}[i]) * (CAST({x}[i] AS DOUBLE) - {c}[i])))"
)


@query(
    "sim_kmeans_refit",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding FROM embeddings
    ), cents0 AS (
      SELECT vec_id AS cid, embedding AS cv FROM e WHERE vec_id IN {CENTROID_VEC_IDS}
    ), assign0 AS (
      SELECT vec_id, embedding, cid AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_sum(list_transform(generate_series(1, 64),
                          i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                             * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)))), c.cid
               ) AS rn
        FROM e CROSS JOIN cents0 c
      ) WHERE rn = 1
    ), dims AS (
      SELECT unnest(range(1, 65)) AS dim
    ), upd AS (
      SELECT cluster, dim,
             CAST(sum(CAST(round(CAST(embedding[dim] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS cval
      FROM assign0 CROSS JOIN dims
      GROUP BY cluster, dim
    ), cents1 AS (
      SELECT cluster AS cid, list(cval ORDER BY dim) AS cv FROM upd GROUP BY cluster
    ), assign1 AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_DIST2_TO_LIST_SQL.format(x='e.embedding', c='c.cv')}, c.cid
               ) AS rn
        FROM e CROSS JOIN cents1 c
      ) WHERE rn = 1
    ), before AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS n_before FROM assign0 GROUP BY cluster
    ), after AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS n_after FROM assign1 GROUP BY cluster
    )
    SELECT b.cluster, b.n_before, a.n_after,
           round(c.cv[1], 6) AS c_dim1,
           round(c.cv[2], 6) AS c_dim2
    FROM before b
    JOIN after a ON b.cluster = a.cluster
    JOIN cents1 c ON b.cluster = c.cid
    """,
    doc=f"distributed k-means refit, ONE exact Lloyd iteration: assign to the {N_CENTROIDS} seed centroids, recompute centroids as decimal-exact per-dim means, reassign — every intermediate (means, distances, argmins) is bit-identical across engines, so the oracle checks the refit VALUE-exactly, not within tolerance (north-star similarity)",
    tags=("similarity",),
)
def sim_kmeans_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's update, kernelized: assignment = one Arrow pass per
    round against the closure-captured codebook (fold_sqdist is the
    dim-by-dim sequential fold, bit-identical to the SQL oracle's
    list_sum — and to the interpreted zip_with/aggregate form it
    replaces, which measured 14.1 s at sf5 on the honest sink);
    argmin over cid-ascending rows reproduces the struct-min tie rule.
    Centroid update stays the index-exploded per-dim DECIMAL means
    (exact, so order-independent — the trick that makes an *iterative*
    algorithm oracle-checkable); the refit codebook is collected
    O(K x dims) driver-side (the _fetch_vectors pattern) to feed the
    second assignment pass. At 100 TB each iteration is two scans and
    two partial-agg shuffles."""
    import pandas as pd

    from http_datafusion_spark.functions.veclib import fold_sqdist, stack_embeddings

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    # spread: both Lloyd passes inherit base's partitioning.
    base = spread(e.select("vec_id", emb.alias("x")), "vec_id")

    def assign_kernel(points: DataFrame, cids: np.ndarray, C: np.ndarray) -> DataFrame:
        def fn(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = stack_embeddings(pdf["x"])
                cluster = cids[np.argmin(fold_sqdist(X, C), axis=1)]
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "x": pdf["x"], "cluster": cluster}
                )

        return points.mapInPandas(
            fn, schema="vec_id bigint, x array<double>, cluster bigint"
        )

    cents0 = _fetch_vectors(spark, sf_dir, CENTROID_VEC_IDS)
    cids0 = np.asarray(sorted(cents0), dtype=np.int64)
    C0 = np.stack([cents0[int(c)] for c in cids0])
    assign0 = assign_kernel(base, cids0, C0)
    dims = F.broadcast(
        e.sparkSession.range(1, 65).select(F.col("id").cast("int").alias("dim"))
    )
    upd = (
        assign0.crossJoin(dims)
        .select(
            "cluster",
            "dim",
            quantize(F.element_at("x", F.col("dim")), 6).alias("v6"),
        )
        .groupBy("cluster", "dim")
        .agg((F.sum("v6").cast("double") / F.count(F.lit(1))).alias("cval"))
    )
    cents1 = (
        upd.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))), lambda s: s["cval"]
            ).alias("cv")
        )
        .select(F.col("cluster").alias("cid"), "cv")
    )
    c1_rows = cents1.collect()  # K rows x 64 doubles — index-time constant
    cids1 = np.asarray(sorted(int(r.cid) for r in c1_rows), dtype=np.int64)
    c1_map = {int(r.cid): np.asarray(r.cv, dtype=np.float64) for r in c1_rows}
    C1 = np.stack([c1_map[int(c)] for c in cids1])
    assign1 = assign_kernel(base, cids1, C1)
    # the collected codebook re-enters the plan as a LITERAL 8-row frame
    # (exact double round-trip), so the decimal update aggregate runs
    # exactly once (in the collect) instead of again inside the final
    # join lineage
    cents1 = spark.createDataFrame(
        [(int(r.cid), [float(v) for v in r.cv]) for r in c1_rows],
        "cid bigint, cv array<double>",
    )
    before = assign0.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_before"))
    after = assign1.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_after"))
    return (
        before.join(after, "cluster")
        .join(cents1.withColumnRenamed("cid", "cluster"), "cluster")
        .select(
            "cluster",
            "n_before",
            "n_after",
            F.round(F.element_at("cv", 1), 6).alias("c_dim1"),
            F.round(F.element_at("cv", 2), 6).alias("c_dim2"),
        )
    )


@query(
    "sim_ivf_recall",
    oracle=f"""
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
      SELECT e.vec_id
      FROM e, q
      WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY {_DOT_SQL.format(a='e.embedding', b='qv')} / (e.nrm * qn) DESC, e.vec_id
      LIMIT {TOP_K}
    ), approx AS (
      SELECT a.vec_id
      FROM assigned a, q
      WHERE a.bucket IN (SELECT cid FROM probe) AND a.vec_id <> {QUERY_VEC_ID}
      ORDER BY {_DOT_SQL.format(a='a.embedding', b='qv')} / (a.nrm * qn) DESC, a.vec_id
      LIMIT {TOP_K}
    )
    SELECT CAST({TOP_K} AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_hits,
           round(count(*) * 1.0 / {TOP_K}, 6) AS recall_at_k
    FROM approx JOIN exact USING (vec_id)
    """,
    doc=f"ANN quality gate: recall@{TOP_K} of the IVF probe ({N_PROBE}/{N_CENTROIDS} buckets) against the exact scan — both rankings in ONE plan, intersected; the measurement a production index build runs before swapping brute force out (north-star similarity)",
    tags=("similarity",),
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact_ids = sim_bruteforce_topk(spark, sf_dir).select("vec_id")
    approx_ids = sim_ivf_topk(spark, sf_dir).select(F.col("vec_id").alias("a_id"))
    hits = approx_ids.join(exact_ids, approx_ids["a_id"] == exact_ids["vec_id"], "inner")
    return hits.agg(
        F.lit(TOP_K).cast("bigint").alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        F.round(F.count(F.lit(1)) / TOP_K, 6).alias("recall_at_k"),
    )


def _pq_adc_oracle() -> str:
    from http_datafusion_spark.operators.pipeline import PQ_CODES_SQL, PQ_M, PQ_SUB

    return f"""
    WITH {PQ_CODES_SQL}, q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    ), lut AS (
      SELECT m.m, cb.k,
             round(list_sum(list_transform(generate_series(1, {PQ_SUB}),
                i -> (CAST(qv[m.m*{PQ_SUB}+i] AS DOUBLE) - CAST(cb.c[m.m*{PQ_SUB}+i] AS DOUBLE))
                   * (CAST(qv[m.m*{PQ_SUB}+i] AS DOUBLE) - CAST(cb.c[m.m*{PQ_SUB}+i] AS DOUBLE)))), 6) AS d
      FROM q
      CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) m
      CROSS JOIN cb
    ), adc AS (
      SELECT c.vec_id, sum(CAST(lut.d AS DECIMAL(18,6))) AS adc_dec
      FROM codes c JOIN lut ON c.m = lut.m AND c.code = lut.k
      GROUP BY c.vec_id
    )
    SELECT vec_id, CAST(round(adc_dec, 6) AS DOUBLE) AS adc_dist
    FROM adc
    WHERE vec_id <> {QUERY_VEC_ID}
    ORDER BY adc_dec, vec_id
    LIMIT {TOP_K}
    """


@query(
    "sim_pq_adc_topk",
    oracle=_pq_adc_oracle(),
    doc="PQ asymmetric-distance (ADC) top-k search — the serving-side half of the "
    "IVF-PQ index (embedding_index_build stores the codes, this searches them): "
    "the query builds an M x K lookup table of subspace distances to every "
    "codebook centroid (M*K tiny rows, broadcast), each stored vector's distance "
    "is then sum_m LUT[m, code_m] — a broadcast equi-join on (m, code) plus one "
    "partial-agg shuffle on vec_id, never touching the raw vectors. At 100 TB "
    "the scan reads only the code columns (4 bytes/vector vs 256 for the float "
    "embedding); distances quantized to DECIMAL(18,6) so the ranking is exact "
    "and order-free on both engines (north-star similarity)",
    tags=("similarity", "pipeline"),
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.pipeline import PQ_K, PQ_M, PQ_SUB, pq_codes

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    codes = pq_codes(spark, e).select("vec_id", "m", "code")
    cb = e.filter(F.col("vec_id") < PQ_K).select(F.col("vec_id").alias("k"), emb.alias("c"))
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(emb.alias("qv"))
    ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("lm"))
    off = F.col("lm") * PQ_SUB + 1
    d = F.round(
        F.aggregate(
            F.zip_with(
                F.slice(F.col("qv"), off, PQ_SUB),
                F.slice(F.col("c"), off, PQ_SUB),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    lut = (
        qv.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(cb))
        .select("lm", "k", d.alias("d"))
    )
    adc = (
        codes.join(
            F.broadcast(lut), (F.col("m") == F.col("lm")) & (F.col("code") == F.col("k"))
        )
        .groupBy("vec_id")
        .agg(F.sum(F.col("d").cast("decimal(18,6)")).alias("adc_dec"))
    )
    return (
        adc.filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy("adc_dec", "vec_id")
        .limit(TOP_K)
        .select("vec_id", F.round("adc_dec", 6).cast("double").alias("adc_dist"))
    )


# Contrastive negative mining: K hash-deterministic negatives per
# anchor from a different label class. The hash rank makes the sample
# re-runnable and parallelism-independent (the sample_deterministic
# property, lifted to pairs); cosine is computed only for the pruned
# anchor x K pairs, with the sequential-fold kernel both engines share.
NEG_N_ANCHORS = 8
NEG_K = 4


@query(
    "embedding_negative_pairs",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id AS anchor_id, label AS a_label, embedding AS a_emb
      FROM embeddings WHERE vec_id < {NEG_N_ANCHORS}
    ), cand AS (
      SELECT a.anchor_id, a.a_emb, e.vec_id AS neg_id, e.embedding AS n_emb,
             CAST(concat('0x', substr(md5(concat(CAST(a.anchor_id AS VARCHAR), '|',
                  CAST(e.vec_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
      FROM anchors a JOIN embeddings e
        ON e.label <> a.a_label
    ), ranked AS (
      SELECT anchor_id, neg_id, a_emb, n_emb,
             row_number() OVER (PARTITION BY anchor_id ORDER BY h, neg_id) AS rk
      FROM cand
    )
    SELECT anchor_id, CAST(neg_id AS BIGINT) AS neg_id, CAST(rk AS BIGINT) AS rk,
           round({_DOT_SQL.format(a='a_emb', b='n_emb')}
                 / (sqrt({_DOT_SQL.format(a='a_emb', b='a_emb')})
                    * sqrt({_DOT_SQL.format(a='n_emb', b='n_emb')})), 6) AS cosine
    FROM ranked WHERE rk <= {NEG_K}
    """,
    doc=f"contrastive negative mining: {NEG_K} hash-ranked negatives per anchor "
    f"(md5(anchor|cand) order — deterministic, parallelism-independent) drawn from "
    f"different label classes; the anchor set is a literal-pruned broadcast "
    f"({NEG_N_ANCHORS} rows), the rank prunes candidates to anchor x K BEFORE any "
    f"vector math, and cosine runs the sequential-fold kernel both engines share. "
    f"At 100 TB the candidate scan is one pass with WindowGroupLimit pruning — "
    f"no all-pairs materialization (north-star pipeline: contrastive training data)",
    tags=("similarity", "pipeline"),
)
def embedding_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from http_datafusion_spark.functions.hashing import md5_int

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    anchors = e.filter(F.col("vec_id") < NEG_N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("a_emb"),
    )
    cand = (
        e.select("vec_id", "label", F.col("embedding").alias("n_emb"))
        .join(F.broadcast(anchors), F.col("label") != F.col("a_label"))
        .select(
            "anchor_id",
            "a_emb",
            F.col("vec_id").alias("neg_id"),
            "n_emb",
            md5_int(
                F.concat(F.col("anchor_id").cast("string"), F.lit("|"), F.col("vec_id").cast("string"))
            ).alias("h"),
        )
    )
    rk = F.row_number().over(W.partitionBy("anchor_id").orderBy("h", "neg_id"))
    pruned = cand.withColumn("rk", rk).filter(F.col("rk") <= NEG_K)
    a = F.col("a_emb").cast("array<double>")
    n = F.col("n_emb").cast("array<double>")
    cos = _dot(a, n) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(n, n)))
    return pruned.select(
        "anchor_id",
        F.col("neg_id").cast("bigint").alias("neg_id"),
        F.col("rk").cast("bigint").alias("rk"),
        F.round(cos, 6).alias("cosine"),
    )


@query(
    "semantic_search_join",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ), q AS (
      SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = {QUERY_VEC_ID}
    ), topk AS (
      SELECT vec_id,
             round({_DOT_SQL.format(a='embedding', b='qv')} / (nrm * qn), 6) AS cosine
      FROM e, q
      WHERE vec_id <> {QUERY_VEC_ID}
      ORDER BY {_DOT_SQL.format(a='embedding', b='qv')} / (nrm * qn) DESC, vec_id
      LIMIT {TOP_K}
    )
    SELECT t.vec_id, t.cosine, d.source, d.lang,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM topk t JOIN documents d ON d.doc_id = t.vec_id
    """,
    doc="retrieval end-to-end: exact cosine top-k over embeddings joined back to the "
    "documents table for result metadata (the fixture aligns vec_id == doc_id). The "
    "k-row result set broadcasts to the metadata join, so the document table is "
    "touched once with the join key pushed down — the standard ANN-then-hydrate "
    "pattern of a vector search service (north-star similarity / retrieval)",
    tags=("similarity", "pipeline"),
)
def semantic_search_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "embeddings", "documents")
    e, d = t["embeddings"], t["documents"]
    emb = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", emb.alias("emb"), _norm(emb).alias("nrm"))
    qrow = base.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("emb").alias("qv"), F.col("nrm").alias("qn")
    )
    cos = _dot(F.col("emb"), F.col("qv")) / (F.col("nrm") * F.col("qn"))
    topk = (
        base.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qrow))
        .withColumn("cosine_raw", cos)
        .orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
        .limit(TOP_K)
        .select("vec_id", F.round("cosine_raw", 6).alias("cosine"))
    )
    return F.broadcast(topk).join(
        d.select(F.col("doc_id"), "source", "lang", F.col("n_chars").cast("bigint").alias("n_chars")),
        F.col("doc_id") == F.col("vec_id"),
    ).select("vec_id", "cosine", "source", "lang", "n_chars")


# Moment/covariance audit dims (1-based): variances on 1 and 64,
# near and far covariances — the drift/collapse diagnostics an
# embedding pipeline monitors (mean shift, variance collapse,
# inter-dim correlation).
MOMENT_PAIRS = ((1, 1), (1, 2), (2, 2), (1, 32), (17, 64))


def _moment_oracle() -> str:
    q6 = "CAST(round({x}, 6) AS DECIMAL(18,6))"
    branches = []
    for i, j in MOMENT_PAIRS:
        xi = f"CAST(embedding[{i}] AS DOUBLE)"
        xj = f"CAST(embedding[{j}] AS DOUBLE)"
        branches.append(f"""
      SELECT {i} AS dim_i, {j} AS dim_j,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum({q6.format(x=xi)}) AS DOUBLE) AS sx,
             CAST(sum({q6.format(x=xj)}) AS DOUBLE) AS sy,
             CAST(sum({q6.format(x=f'{xi} * {xj}')}) AS DOUBLE) AS sxy
      FROM embeddings""")
    return f"""
    WITH m AS ({" UNION ALL ".join(branches)})
    SELECT dim_i, dim_j, n,
           round(sx / n, 6) AS mean_i,
           round(sy / n, 6) AS mean_j,
           round(sxy / n - (sx / n) * (sy / n), 6) AS cov
    FROM m
    """


@query(
    "embedding_moment_audit",
    oracle=_moment_oracle(),
    doc="embedding moment/covariance audit: per-dimension means, variances and "
    "cross-dimension covariances for a fixed diagnostic pair set, in ONE scan "
    "(every moment is a partial aggregate over 6dp-quantized values summed in "
    "exact decimal, so cov = E[xy] - E[x]E[y] is engine-identical). The "
    "drift/collapse monitor an embedding pipeline runs per batch: mean shift, "
    "variance collapse, unexpected inter-dim correlation — at 100 TB one "
    "map-side pass, K*3 decimal sums, no shuffle beyond the 1-row merge "
    "(north-star similarity / pipeline)",
    tags=("similarity", "pipeline"),
)
def embedding_moment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]

    aggs = [F.count(F.lit(1)).alias("n")]
    for i, j in MOMENT_PAIRS:
        xi = F.element_at("embedding", i).cast("double")
        xj = F.element_at("embedding", j).cast("double")
        aggs += [
            F.sum(quantize(xi, 6)).cast("double").alias(f"sx_{i}_{j}"),
            F.sum(quantize(xj, 6)).cast("double").alias(f"sy_{i}_{j}"),
            F.sum(quantize(xi * xj, 6)).cast("double").alias(f"sxy_{i}_{j}"),
        ]
    one = e.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("dim_i"),
                F.lit(j).alias("dim_j"),
                F.col(f"sx_{i}_{j}").alias("sx"),
                F.col(f"sy_{i}_{j}").alias("sy"),
                F.col(f"sxy_{i}_{j}").alias("sxy"),
            )
            for i, j in MOMENT_PAIRS
        ]
    )
    n = F.col("n").cast("double")
    return (
        one.select("n", F.explode(rows).alias("m"))
        .select(
            F.col("m.dim_i").cast("int").alias("dim_i"),
            F.col("m.dim_j").cast("int").alias("dim_j"),
            F.col("n").alias("n"),
            F.round(F.col("m.sx") / n, 6).alias("mean_i"),
            F.round(F.col("m.sy") / n, 6).alias("mean_j"),
            F.round(F.col("m.sxy") / n - (F.col("m.sx") / n) * (F.col("m.sy") / n), 6).alias("cov"),
        )
    )


# ----------------------------------------- per-label centroid geometry

@query(
    "embedding_centroid_shift",
    oracle="""
    WITH dims AS (SELECT unnest(range(1, 65)) AS dim),
    cent AS (
      SELECT label, dim,
             CAST(sum(CAST(round(CAST(embedding[dim] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS cval
      FROM embeddings CROSS JOIN dims
      GROUP BY label, dim
    ),
    norms AS (
      SELECT label, sqrt(sum(cval * cval)) AS nrm FROM cent GROUP BY label
    ),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b, sum(a.cval * b.cval) AS dot
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT CAST(label_a AS BIGINT) AS label_a,
           CAST(label_b AS BIGINT) AS label_b,
           round(d.dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots d
    JOIN norms na ON d.label_a = na.label
    JOIN norms nb ON d.label_b = nb.label
    """,
    doc="embedding-space drift/geometry audit: per-label centroids (exact per-dim "
    "DECIMAL means — the sim_kmeans_refit trick, so the means are order-independent "
    "and the oracle checks VALUES, not tolerances) and the pairwise cosine between "
    "every label pair — how separated the classes are, and across two corpus "
    "snapshots, how far each class centroid drifted. Centroid build is one "
    "partial-agg shuffle over (label, dim); everything after operates on the "
    "labels x dims matrix, which is BROADCAST-sized at any corpus size — the "
    "pairwise stage never touches row-level vectors (north-star similarity / "
    "quality-drift for embeddings)",
    tags=("similarity", "agg"),
)
def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    dims = F.broadcast(
        e.sparkSession.range(1, 65).select(F.col("id").cast("int").alias("dim"))
    )
    # |labels| x 64-dim bounded centroid table feeds THREE consumers
    # (norms + both dot-join sides); unpinned, each re-derived the
    # embeddings scan — pin it: one corpus pass.
    cent = (
        spread(e.select("vec_id", "label", "embedding"), "vec_id")
        .crossJoin(dims)
        .select(
            "label",
            "dim",
            quantize(F.element_at(F.col("embedding").cast("array<double>"), F.col("dim")), 6)
            .alias("v6"),
        )
        .groupBy("label", "dim")
        .agg((F.sum("v6").cast("double") / F.count(F.lit(1))).alias("cval"))
        .transform(pin)
    )
    norms = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("nrm"))
    a, b = cent.alias("a"), cent.alias("b")
    dots = (
        a.join(b, (F.col("a.dim") == F.col("b.dim")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(F.sum(F.col("a.cval") * F.col("b.cval")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            F.col("label_a").cast("bigint"),
            F.col("label_b").cast("bigint"),
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias("cosine"),
        )
    )


# --------------------------------- Johnson-Lindenstrauss random projection

JL_IN_DIM = 64
JL_OUT_DIM = 16  # sqrt = 4, so the 1/sqrt(k) scale is exact
JL_SAMPLE_IDS = 20  # audit pairs drawn from vec_id < N (bounded)


def _jl_sign_sql(i: str, j: str) -> str:
    from http_datafusion_spark.functions.hashing import md5_int_sql

    h = md5_int_sql(f"concat('jl|', CAST({i} AS VARCHAR), '|', CAST({j} AS VARCHAR))")
    return f"(({h} % 2) * 2 - 1)"


@query(
    "embedding_jl_projection",
    oracle=f"""
    WITH sample AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {JL_SAMPLE_IDS}
    ),
    comp AS (
      SELECT vec_id, i.i AS i,
             CAST(round(CAST(embedding[i.i] AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
      FROM sample, (SELECT unnest(range(1, {JL_IN_DIM} + 1)) AS i) i
    ),
    proj AS (
      SELECT c.vec_id, j.j AS j,
             CAST(sum(c.x * {_jl_sign_sql("c.i", "j.j")}) AS DECIMAL(28,6)) AS y
      FROM comp c, (SELECT unnest(range(1, {JL_OUT_DIM} + 1)) AS j) j
      GROUP BY c.vec_id, j.j
    ),
    d_orig AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(sum(CAST((a.x - b.x) AS DECIMAL(18,6))
                      * CAST((a.x - b.x) AS DECIMAL(18,6))) AS DOUBLE) AS d2
      FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    d_proj AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(sum(CAST((a.y - b.y) AS DECIMAL(18,6))
                      * CAST((a.y - b.y) AS DECIMAL(18,6))) AS DOUBLE) AS d2p
      FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT o.id_a, o.id_b,
           o.d2                  AS d2_orig,
           p.d2p / 16            AS d2_proj,
           (p.d2p / 16) / o.d2   AS ratio
    FROM d_orig o JOIN d_proj p ON o.id_a = p.id_a AND o.id_b = p.id_b
    """,
    doc=f"Johnson-Lindenstrauss random projection audit: embeddings project "
    f"{JL_IN_DIM}->{JL_OUT_DIM} dims through a +-1 md5-derived sign matrix "
    f"scaled by 1/sqrt({JL_OUT_DIM}) (=1/4, exact), and every sampled pair "
    "reports original vs projected squared distance and their ratio — the "
    "distance-preservation evidence that justifies running dedup/ANN on the "
    "cheap projection (the JL lemma's epsilon, measured not assumed). All "
    "sums are quantized decimals (order-independent); the sign matrix is "
    f"{JL_IN_DIM}x{JL_OUT_DIM} broadcast-sized at any corpus size; the "
    "projection itself is one (vec, out-dim) partial-agg shuffle — the audit "
    "pair set is bounded, the PROJECTION path is corpus-scalable "
    "(north-star similarity / dimensionality reduction)",
    tags=("similarity", "pipeline", "bench_extra"),
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.hashing import md5_int

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    sample = e.filter(F.col("vec_id") < JL_SAMPLE_IDS).select("vec_id", "embedding")
    # sample-bounded component table (JL_SAMPLE_IDS vectors x 64 dims):
    # the projection agg and the two sides of the original-distance
    # self-join all consumed it; unpinned each re-derived the
    # (range-pruned) embeddings scan (4 executed scans). One pushed-down
    # sample scan now.
    comp = sample.select(
        "vec_id", F.posexplode("embedding").alias("p", "xf")
    ).select(
        "vec_id",
        (F.col("p") + 1).alias("i"),
        quantize(F.col("xf").cast("double"), 6).alias("x"),
    ).transform(pin)
    dims = spark.range(1, JL_OUT_DIM + 1).select(F.col("id").alias("j"))
    sign = (
        md5_int(
            F.concat(
                F.lit("jl|"), F.col("i").cast("string"), F.lit("|"), F.col("j").cast("string")
            )
        )
        % 2
    ) * 2 - 1
    proj = (
        comp.crossJoin(F.broadcast(dims))
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("x") * sign).cast("decimal(28,6)").alias("y"))
    )
    a_c, b_c = comp.alias("a"), comp.alias("b")
    diff = (F.col("a.x") - F.col("b.x")).cast("decimal(18,6)")
    d_orig = (
        a_c.join(
            b_c,
            (F.col("a.i") == F.col("b.i")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .agg(F.sum(diff * diff).cast("double").alias("d2"))
    )
    a_p, b_p = proj.alias("a"), proj.alias("b")
    pdiff = (F.col("a.y") - F.col("b.y")).cast("decimal(18,6)")
    d_proj = (
        a_p.join(
            b_p,
            (F.col("a.j") == F.col("b.j")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("pid_a"), F.col("b.vec_id").alias("pid_b"))
        .agg(F.sum(pdiff * pdiff).cast("double").alias("d2p"))
    )
    # every emitted value is a deterministic function of exact decimals,
    # so NO final rounding is needed — both engines produce bit-identical
    # doubles (decimal->double conversion and IEEE divide are exact maps)
    return (
        d_orig.join(
            d_proj,
            (F.col("id_a") == F.col("pid_a")) & (F.col("id_b") == F.col("pid_b")),
        )
        .select(
            "id_a",
            "id_b",
            F.col("d2").alias("d2_orig"),
            (F.col("d2p") / 16).alias("d2_proj"),
            ((F.col("d2p") / 16) / F.col("d2")).alias("ratio"),
        )
    )


# ----------------------------------------- MMR diversity re-ranking

MMR_LAMBDA = 0.7
MMR_K = 5  # final diversified list size (from the TOP_K candidates)


def _mmr_oracle() -> str:
    """Chained-CTE greedy: K selection steps, each picking argmax of
    lambda*rel - (1-lambda)*max-sim-to-selected over the remainder."""
    dot_qc = _DOT_SQL.format(a="qv", b="embedding")
    dot_ab = _DOT_SQL.format(a="a.embedding", b="b.embedding")
    head = f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ),
    q AS (SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = {QUERY_VEC_ID}),
    cand AS (
      SELECT e.vec_id, round({dot_qc} / (e.nrm * q.qn), 6) AS rel,
             e.embedding, e.nrm
      FROM e CROSS JOIN q WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY rel DESC, e.vec_id LIMIT {TOP_K}
    ),
    psim AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             round({dot_ab} / (a.nrm * b.nrm), 6) AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    s1 AS (
      SELECT CAST(1 AS BIGINT) AS pick, vec_id, rel,
             {MMR_LAMBDA} * rel AS mmr_raw
      FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    ),
    sel1 AS (SELECT pick, vec_id, rel, mmr_raw FROM s1)"""
    parts = [head]
    for k in range(2, MMR_K + 1):
        parts.append(f"""
    s{k} AS (
      SELECT CAST({k} AS BIGINT) AS pick, c.vec_id, c.rel,
             {MMR_LAMBDA} * c.rel
               - {round(1 - MMR_LAMBDA, 6)} * max(p.sim) AS mmr_raw
      FROM cand c
      JOIN psim p ON p.va = c.vec_id AND p.vb IN (SELECT vec_id FROM sel{k - 1})
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})
      GROUP BY c.vec_id, c.rel
      ORDER BY mmr_raw DESC, c.vec_id LIMIT 1
    ),
    sel{k} AS (SELECT * FROM sel{k - 1} UNION ALL SELECT * FROM s{k})""")
    return (
        ",".join(parts)
        + f"""
    SELECT pick, vec_id, rel AS relevance, round(mmr_raw, 6) AS mmr_score
    FROM sel{MMR_K}"""
    )


@query(
    "sim_mmr_rerank",
    oracle=_mmr_oracle(),
    doc=f"maximal-marginal-relevance re-ranking (Carbonell & Goldstein): the "
    f"exact top-{TOP_K} cosine candidates are greedily re-ranked into a "
    f"{MMR_K}-item diversified list, each pick maximizing lambda*relevance - "
    f"(1-lambda)*max-similarity-to-already-selected (lambda={MMR_LAMBDA}) — "
    "the standard retrieval-diversity pass between ANN and the user. "
    "Relevance and all pairwise candidate similarities are sequential-fold "
    "cosines 6dp-quantized on both engines (the float-element product is the "
    "one place fold order alone is not enough), computed relationally; "
    "the greedy itself runs over the K-bounded candidate table (driver "
    "arithmetic on IEEE doubles == the oracle's chained-CTE selection, pick "
    "by pick). At 100 TB the expensive part is the ANN top-k feeding this; "
    "the re-rank is O(K^2) on constants "
    "(north-star similarity / retrieval serving)",
    tags=("similarity",),
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # double-cast folds: the oracle multiplies CAST(x AS DOUBLE) element
    # products, so the Spark fold must promote BEFORE multiplying —
    # float32 products differ in the last bits and can flip a 6dp round
    def ddot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    with_norm = e.select(
        "vec_id",
        "embedding",
        F.sqrt(ddot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    q = with_norm.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"), F.col("nrm").alias("qn")
    )
    cand = (
        with_norm.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                ddot(F.col("embedding"), F.col("qv")) / (F.col("nrm") * F.col("qn")), 6
            ).alias("rel"),
            "embedding",
            "nrm",
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(TOP_K)
        .transform(pin)
    )
    a, b = cand.alias("a"), cand.alias("b")
    psim = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.round(
                ddot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("sim"),
        )
    )
    rels = {int(r.vec_id): float(r.rel) for r in cand.select("vec_id", "rel").collect()}
    sims = {(int(r.va), int(r.vb)): float(r.sim) for r in psim.collect()}
    selected: list[tuple[int, int, float, float]] = []
    chosen: list[int] = []
    for pick in range(1, MMR_K + 1):
        best = None
        for vid in sorted(rels):
            if vid in chosen:
                continue
            penalty = max((sims[(vid, s)] for s in chosen), default=None)
            # raw IEEE score — ordering matches the oracle's raw ORDER BY;
            # the 6dp presentation round happens IN SPARK below (engine
            # round semantics, not Python's)
            score = (
                MMR_LAMBDA * rels[vid]
                if penalty is None
                else MMR_LAMBDA * rels[vid] - round(1 - MMR_LAMBDA, 6) * penalty
            )
            if best is None or score > best[3]:
                best = (pick, vid, rels[vid], score)
        selected.append(best)
        chosen.append(best[1])
    return spark.createDataFrame(
        selected, "pick bigint, vec_id bigint, relevance double, mmr_score double"
    ).select("pick", "vec_id", "relevance", F.round("mmr_score", 6).alias("mmr_score"))


# ------------------------------------- nearest-centroid classifier eval


@query(
    "sim_centroid_classifier_eval",
    oracle="""
    WITH comp AS (
      SELECT vec_id, label, i.i AS i,
             CAST(round(CAST(embedding[i.i] AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
    ),
    cent AS (
      SELECT label AS clabel, i,
             CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS DECIMAL(18,6)) AS m
      FROM comp GROUP BY label, i
    ),
    dists AS (
      SELECT c.vec_id, c.label, t.clabel,
             sum(CAST((c.x - t.m) AS DECIMAL(18,6))
                 * CAST((c.x - t.m) AS DECIMAL(18,6))) AS d2
      FROM comp c JOIN cent t ON c.i = t.i
      GROUP BY c.vec_id, c.label, t.clabel
    ),
    assigned AS (
      SELECT vec_id, label AS true_label, clabel AS pred_label
      FROM (SELECT vec_id, label, clabel,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rk
            FROM dists)
      WHERE rk = 1
    )
    SELECT true_label, pred_label,
           CAST(count(*) AS BIGINT) AS n
    FROM assigned GROUP BY 1, 2
    """,
    doc="nearest-centroid classifier evaluation — closing the embedding-"
    "classifier arc (sim_label_centroids/sim_kmeans_refit build centroids; "
    "this grades them): per-label per-dim centroids as 6dp-quantized decimal "
    "means, every vector assigned to its nearest centroid by EXACT decimal "
    "squared distance (no float rounding anywhere past the input quantize, "
    "ties to first label), and the label x label confusion matrix emitted — "
    "the in-sample separability readout that says whether the embedding "
    "space supports centroid serving at all (embedding_centroid_shift "
    "measures the geometry; this measures the decisions). Plan: one "
    "(label, dim) partial-agg shuffle for centroids (labels x dims bounded, "
    "broadcast back), one (vec, label) distance agg, argmin per vector — "
    "never a vectors x vectors product (north-star similarity / evaluation)",
    tags=("similarity", "agg"),
)
def sim_centroid_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = centroid_assignments(spark, sf_dir)
    return assigned.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


def _label_centroids_micro(e: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(labels asc, (K, d) int64 centroid matrix in MICRO units): the
    per-(label, dim) 6dp-decimal centroid means — the SAME aggregate
    expression the all-Spark form used — collected as an O(labels x
    dims) index-time constant (the codebook-on-the-driver pattern of
    _fetch_vectors). Every rounding happens in Spark; the micro ints
    are exact."""
    comp = spread(e.select("vec_id", "label", "embedding"), "vec_id").select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("p", "xf")
    ).select(
        "label",
        (F.col("p") + 1).alias("i"),
        quantize(F.col("xf").cast("double"), 6).alias("x"),
    )
    cent_rows = (
        comp.groupBy(F.col("label").alias("clabel"), "i")
        .agg(
            (
                quantize(F.sum("x").cast("double") / F.count(F.lit(1)), 6)
                * 1_000_000
            )
            .cast("long")
            .alias("m_micro")
        )
        .collect()
    )
    clabels = sorted({int(r.clabel) for r in cent_rows})
    d = max(int(r.i) for r in cent_rows)
    C = np.zeros((len(clabels), d), dtype=np.int64)
    lab_pos = {lab: k for k, lab in enumerate(clabels)}
    for r in cent_rows:
        C[lab_pos[int(r.clabel)], int(r.i) - 1] = int(r.m_micro)
    return np.asarray(clabels, dtype=np.int64), C


def _scaled_components(e: DataFrame) -> DataFrame:
    """(vec_id, label, xi array<long>): components quantized by the
    SAME Spark expression the centroid aggregate consumes, scaled to
    exact integer micro units — the zero-float input of the int64
    distance kernels."""
    xi = F.transform(
        F.col("embedding"),
        lambda v: (quantize(v.cast("double"), 6) * 1_000_000)
        .cast("long"),
    )
    return spread(e.select("vec_id", "label", "embedding"), "vec_id").select(
        "vec_id", "label", xi.alias("xi")
    )


def _int64_sqdist(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, d) x (K, d) int64 micro units -> (n, K) int64 squared
    distances, dim-by-dim — EXACT: |x| <= ~2e7 micro, diff^2 <= 4e14,
    x 64 dims ~ 2.6e16 < 2^63."""
    d2 = np.zeros((X.shape[0], C.shape[0]), dtype=np.int64)
    for k in range(X.shape[1]):
        diff = X[:, k : k + 1] - C[:, k][None, :]
        d2 += diff * diff
    return d2


def centroid_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, true_label, pred_label): every vector's nearest-label-
    centroid decision over exact 6dp-quantized decimal distances (ties
    to first label) — the per-vector frame behind the confusion matrix
    and the inter-annotator kappa.

    Exactness/perf split: EVERY rounding happens in Spark —
    components quantize to 6dp decimal and scale to integer MICRO
    units engine-side, the per-(label, dim) centroid means stay the
    same decimal aggregate as before (collected: O(labels x dims)
    rows, an index-time constant like the IVF codebook) — and the
    distance/argmin stage is a pure INT64 Arrow kernel: (x - m)^2 sums
    fit int64 (|x| <= ~2e7 micro, squared 4e14, x 64 dims ~ 2.6e16 <
    2^63), so there is no float op anywhere past the quantize and
    nothing to diverge from the SQL oracle. The previous all-Spark
    shape joined 64M decimal rows per 100k vectors (61 s at sf5,
    honest sink); the kernel replaces that join+agg with one Arrow
    pass."""
    import pandas as pd

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    lab_arr, C = _label_centroids_micro(e)
    scaled = _scaled_components(e)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["xi"].to_numpy()).astype(np.int64)
            d2 = _int64_sqdist(X, C)
            # argmin returns the FIRST min; lab_arr ascends, so ties
            # break to the smallest label — the oracle's (d2, clabel)
            pred = lab_arr[np.argmin(d2, axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "true_label": pdf["label"],
                    "pred_label": pred,
                }
            )

    return scaled.mapInPandas(
        assign, schema="vec_id bigint, true_label bigint, pred_label bigint"
    )


# ----------------------------------------------- IVF nprobe tuning sweep

NPROBE_SWEEP = (1, 2, 4, 8)


def _nprobe_sweep_oracle() -> str:
    branches = []
    for p in NPROBE_SWEEP:
        branches.append(f"""
    SELECT CAST({p} AS BIGINT) AS nprobe,
           CAST(count(*) AS BIGINT) AS n_hits,
           round(count(*) * 1.0 / {TOP_K}, 6) AS recall_at_{TOP_K}
    FROM (
      SELECT a.vec_id
      FROM assigned a, q
      WHERE a.bucket IN (SELECT cid FROM probe_rk WHERE rk <= {p})
        AND a.vec_id <> {QUERY_VEC_ID}
      ORDER BY {_DOT_SQL.format(a='a.embedding', b='qv')} / (a.nrm * qn) DESC, a.vec_id
      LIMIT {TOP_K}
    ) ap JOIN exact USING (vec_id)""")
    return f"""
    WITH {_IVF_ASSIGN_SQL},
    q AS (
      SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = {QUERY_VEC_ID}
    ),
    probe_rk AS (
      SELECT cid, row_number() OVER (
        ORDER BY list_sum(list_transform(range(1, len(cv) + 1),
                 i -> (CAST(cv[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))
                    * (CAST(cv[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE)))), cid) AS rk
      FROM cents, q
    ),
    exact AS (
      SELECT e.vec_id
      FROM e, q
      WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY {_DOT_SQL.format(a='e.embedding', b='qv')} / (e.nrm * qn) DESC, e.vec_id
      LIMIT {TOP_K}
    )
    {" UNION ALL ".join(branches)}
    """


@query(
    "sim_ivf_nprobe_sweep",
    oracle=_nprobe_sweep_oracle(),
    doc=f"IVF nprobe tuning curve: recall@{TOP_K} vs exact for every probe "
    f"width in {NPROBE_SWEEP} ({NPROBE_SWEEP[-1]} == all {N_CENTROIDS} "
    "buckets, recall 1 by construction) — the latency/recall trade-off table "
    "an ANN deployment reads to pick nprobe (sim_ivf_recall is one point of "
    "this curve). The scored assignment is computed ONCE (Arrow fold-exact "
    "kernel) and every probe width reads off it — the threshold-sweep "
    "discipline applied to index tuning "
    "(north-star similarity / index tuning)",
    tags=("similarity",),
)
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    import functools

    vecs = _fetch_vectors(spark, sf_dir, (QUERY_VEC_ID, *CENTROID_VEC_IDS))
    qv = vecs[QUERY_VEC_ID]
    cids = sorted(CENTROID_VEC_IDS)
    C = np.stack([vecs[c] for c in cids])
    qd2 = fold_sqdist(C, qv[None, :])[:, 0]
    order = sorted(range(len(cids)), key=lambda i: (qd2[i], cids[i]))
    ranked_buckets = [cids[i] for i in order]

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    scored = (
        e.select("vec_id", "label", "embedding")
        .mapInPandas(
            _assign_score_fn(cids, C, qv),
            schema="vec_id bigint, label bigint, embedding array<float>, bucket bigint, cosine_raw double",
        )
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .transform(pin)  # one scoring pass feeds every width
    )
    exact = (
        scored.orderBy(F.col("cosine_raw").desc(), "vec_id")
        .limit(TOP_K)
        .select("vec_id")
    )

    def branch(p: int) -> DataFrame:
        ap = (
            scored.filter(F.col("bucket").isin(ranked_buckets[:p]))
            .orderBy(F.col("cosine_raw").desc(), "vec_id")
            .limit(TOP_K)
            .select(F.col("vec_id").alias("a_id"))
        )
        hits = ap.join(exact, ap["a_id"] == exact["vec_id"])
        return hits.agg(
            F.lit(p).cast("bigint").alias("nprobe"),
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.round(F.count(F.lit(1)) * 1.0 / TOP_K, 6).alias(f"recall_at_{TOP_K}"),
        )

    return functools.reduce(
        lambda a, b: a.unionByName(b), (branch(p) for p in NPROBE_SWEEP)
    )


# ------------------------------------------------- OOD detection

OOD_TOPK = 20


@query(
    "sim_ood_detection",
    oracle=f"""
    WITH comp AS (
      SELECT vec_id, label, i.i AS i,
             CAST(round(CAST(embedding[i.i] AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
    ),
    cent AS (
      SELECT label AS clabel, i,
             CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS DECIMAL(18,6)) AS m
      FROM comp GROUP BY label, i
    ),
    dists AS (
      SELECT c.vec_id, c.label, t.clabel,
             sum(CAST((c.x - t.m) AS DECIMAL(18,6))
                 * CAST((c.x - t.m) AS DECIMAL(18,6))) AS d2
      FROM comp c JOIN cent t ON c.i = t.i
      GROUP BY c.vec_id, c.label, t.clabel
    ),
    nearest AS (
      SELECT vec_id, label, min(d2) AS min_d2
      FROM dists GROUP BY vec_id, label
    )
    SELECT vec_id, label,
           CAST(round(min_d2, 6) AS DOUBLE) AS ood_score
    FROM nearest
    ORDER BY min_d2 DESC, vec_id LIMIT {OOD_TOPK}
    """,
    doc=f"out-of-distribution detection: each vector's distance to its NEAREST "
    f"label centroid is its OOD score, top-{OOD_TOPK} most distant emitted — "
    "the encoder-drift / mislabel / junk-input detector an embedding pipeline "
    "gates ingestion with (the data-quality twin of "
    "sim_centroid_classifier_eval: same centroids, min instead of argmin). "
    "Exact decimal distances end to end; labels x dims centroids broadcast; "
    "never vectors x vectors (north-star similarity / data quality)",
    tags=("similarity", "agg"),
)
def sim_ood_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernelized (same exact-int64 pattern as centroid_assignments,
    which replaced a 64M-decimal-row join measured 60.4 s at sf5): the
    kernel emits each vector's min squared distance in micro^2 integer
    units (exact ordering) plus its 6dp HALF_UP rounding computed in
    INTEGER arithmetic ((mi + 5e5) // 1e6, mi >= 0 — identical to both
    engines' decimal round), so the only float op anywhere is the final
    exactly-once int -> double division both engines share."""
    import pandas as pd

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    lab_arr, C = _label_centroids_micro(e)
    del lab_arr  # OOD uses the min over ALL centroids; labels not needed

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["xi"].to_numpy()).astype(np.int64)
            mi = _int64_sqdist(X, C).min(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "mi": mi,
                    "r6": (mi + 500_000) // 1_000_000,
                }
            )

    scored = _scaled_components(e).mapInPandas(
        score, schema="vec_id bigint, label bigint, mi bigint, r6 bigint"
    )
    return (
        scored.orderBy(F.desc("mi"), "vec_id")
        .limit(OOD_TOPK)
        .select(
            "vec_id",
            "label",
            (F.col("r6").cast("double") / 1_000_000).alias("ood_score"),
        )
    )


# ------------------------------------------ Matryoshka truncation eval

# Truncation prefixes evaluated against the full 64-dim ranking.
# Matryoshka-style representation truncation (Kusupati et al. 2022,
# public) is the standard memory/latency lever of an embedding
# service: store 64 dims, serve the first d. This audit measures what
# that costs in retrieval quality BEFORE the service flips the knob.
MATRYOSHKA_DIMS = (8, 16, 32)
MATRYOSHKA_FULL_DIM = 64
MATRYOSHKA_QUERY_IDS = (0, 101, 202, 303, 404)  # fixed probe set (pipeline constant)
MATRYOSHKA_K = 10

_PREFIX_DOT_SQL = (
    "list_sum(list_transform(range(1, {d} + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_PREFIX_NORM_SQL = (
    "sqrt(list_sum(list_transform(range(1, {d} + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
)


@query(
    "sim_matryoshka_recall",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id IN {MATRYOSHKA_QUERY_IDS}
    ), dims AS (
      SELECT unnest({list(MATRYOSHKA_DIMS) + [MATRYOSHKA_FULL_DIM]}) AS dim
    ), sc AS (
      SELECT q.qid, e.vec_id, dims.dim,
             {_PREFIX_DOT_SQL.format(d='dims.dim', a='e.embedding', b='q.qv')}
             / ({_PREFIX_NORM_SQL.format(d='dims.dim', a='e.embedding')}
                * {_PREFIX_NORM_SQL.format(d='dims.dim', a='q.qv')}) AS cos
      FROM embeddings e JOIN q ON e.vec_id <> q.qid CROSS JOIN dims
    ), rk AS (
      SELECT qid, vec_id, dim,
             row_number() OVER (PARTITION BY qid, dim ORDER BY cos DESC, vec_id) AS rk
      FROM sc
    ), truth AS (
      SELECT qid, vec_id FROM rk
      WHERE dim = {MATRYOSHKA_FULL_DIM} AND rk <= {MATRYOSHKA_K}
    ), approx AS (
      SELECT qid, vec_id, dim FROM rk
      WHERE dim <> {MATRYOSHKA_FULL_DIM} AND rk <= {MATRYOSHKA_K}
    ), h AS (
      SELECT a.dim, count(*) AS n FROM approx a
      JOIN truth t ON t.qid = a.qid AND t.vec_id = a.vec_id
      GROUP BY a.dim
    )
    SELECT CAST(d.dim AS BIGINT) AS dim,
           CAST({MATRYOSHKA_K} AS BIGINT) AS k,
           round(coalesce(h.n, 0) * 1.0
                 / ({MATRYOSHKA_K} * {len(MATRYOSHKA_QUERY_IDS)}), 6) AS avg_recall,
           CAST({len(MATRYOSHKA_QUERY_IDS)} AS BIGINT) AS n_queries
    FROM (SELECT unnest({list(MATRYOSHKA_DIMS)}) AS dim) d
    LEFT JOIN h ON h.dim = d.dim
    ORDER BY dim
    """,
    doc=f"Matryoshka truncation audit: recall@{MATRYOSHKA_K} of prefix-dim cosine "
    f"retrieval (dims {MATRYOSHKA_DIMS}) against the full {MATRYOSHKA_FULL_DIM}-dim "
    f"ranking, averaged over a fixed {len(MATRYOSHKA_QUERY_IDS)}-query probe set. "
    "The dims grid and probe vectors are broadcast constants; scoring is one "
    "linear scan with a bounded x(queries x dims) fan-out; per-(query,dim) "
    "ranking is a keyed window (top-k per group), never a global sort. At "
    "100 TB this runs as the eval-sample calibration before a service truncates "
    "its stored vectors — the production serving path stays IVF "
    "(north-star similarity / embedding ops)",
    tags=("similarity", "bench_extra",),
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", emb.alias("emb"))
    q = base.filter(F.col("vec_id").isin(*MATRYOSHKA_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qv")
    )
    dims = spark.createDataFrame(
        [(d,) for d in (*MATRYOSHKA_DIMS, MATRYOSHKA_FULL_DIM)], "dim int"
    )
    a_p = F.slice(F.col("emb"), F.lit(1), F.col("dim"))
    b_p = F.slice(F.col("qv"), F.lit(1), F.col("dim"))
    cos = _dot(a_p, b_p) / (_norm(a_p) * _norm(b_p))
    sc = (
        spread(base, "vec_id")  # base stays narrow for q's pushed lookup
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .crossJoin(F.broadcast(dims))
        .select("qid", "vec_id", "dim", cos.alias("cos"))
    )
    # k-bounded ranking table (|queries| x |dims| x K rows): the truth
    # slice and the approx slice both consumed it; unpinned each
    # re-derived the full corpus scan + query-broadcast + window
    # (4 executed scans). The corpus pass and the
    # vec_id-pushed query lookup run once now.
    rk = sc.select(
        "qid",
        "vec_id",
        "dim",
        F.row_number()
        .over(W.partitionBy("qid", "dim").orderBy(F.desc("cos"), F.asc("vec_id")))
        .alias("rk"),
    ).filter(F.col("rk") <= MATRYOSHKA_K).transform(pin)
    truth = rk.filter(F.col("dim") == MATRYOSHKA_FULL_DIM).select("qid", "vec_id")
    approx = rk.filter(F.col("dim") != MATRYOSHKA_FULL_DIM).select(
        "qid", "vec_id", "dim"
    )
    h = approx.join(truth, ["qid", "vec_id"]).groupBy("dim").agg(
        F.count(F.lit(1)).alias("n")
    )
    dgrid = spark.createDataFrame([(d,) for d in MATRYOSHKA_DIMS], "dim int")
    denom = MATRYOSHKA_K * len(MATRYOSHKA_QUERY_IDS)
    return (
        dgrid.join(h, "dim", "left")
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.lit(MATRYOSHKA_K).cast("bigint").alias("k"),
            F.round(F.coalesce(F.col("n"), F.lit(0)) / denom, 6).alias("avg_recall"),
            F.lit(len(MATRYOSHKA_QUERY_IDS)).cast("bigint").alias("n_queries"),
        )
        .orderBy("dim")
    )


# --------------------------------------- incremental IVF index upsert

# Parity split for the arriving batch: even vec_ids are the indexed
# base corpus, odd vec_ids arrive later (same convention as
# dedup_incremental_minhash's signature store).


@query(
    "sim_ivf_incremental_upsert",
    oracle=f"""
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
    ), exact_after AS (
      SELECT e.vec_id FROM e, q WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY {_DOT_SQL.format(a='e.embedding', b='qv')} / (e.nrm * qn) DESC, e.vec_id
      LIMIT {TOP_K}
    ), exact_before AS (
      SELECT e.vec_id FROM e, q
      WHERE e.vec_id <> {QUERY_VEC_ID} AND e.vec_id % 2 = 0
      ORDER BY {_DOT_SQL.format(a='e.embedding', b='qv')} / (e.nrm * qn) DESC, e.vec_id
      LIMIT {TOP_K}
    ), appr_after AS (
      SELECT a.vec_id FROM assigned a, q
      WHERE a.bucket IN (SELECT cid FROM probe) AND a.vec_id <> {QUERY_VEC_ID}
      ORDER BY {_DOT_SQL.format(a='a.embedding', b='qv')} / (a.nrm * qn) DESC, a.vec_id
      LIMIT {TOP_K}
    ), appr_before AS (
      SELECT a.vec_id FROM assigned a, q
      WHERE a.bucket IN (SELECT cid FROM probe) AND a.vec_id <> {QUERY_VEC_ID}
        AND a.vec_id % 2 = 0
      ORDER BY {_DOT_SQL.format(a='a.embedding', b='qv')} / (a.nrm * qn) DESC, a.vec_id
      LIMIT {TOP_K}
    ), ha AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM appr_after JOIN exact_after USING (vec_id)
    ), hb AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM appr_before JOIN exact_before USING (vec_id)
    ), cnts AS (
      SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
             CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_upserted
      FROM assigned
    ), share AS (
      SELECT round(max(c) * 1.0 / sum(c), 6) AS max_bucket_share
      FROM (SELECT count(*) AS c FROM assigned GROUP BY bucket)
    )
    SELECT CAST({TOP_K} AS BIGINT) AS k,
           cnts.n_base, cnts.n_upserted, share.max_bucket_share,
           round(hb.n * 1.0 / {TOP_K}, 6) AS recall_before,
           round(ha.n * 1.0 / {TOP_K}, 6) AS recall_after,
           round((ha.n - hb.n) * 1.0 / {TOP_K}, 6) AS recall_drift
    FROM cnts, share, ha, hb
    """,
    doc=f"INCREMENTAL ANN index maintenance (mirroring "
    f"dedup_incremental_minhash's store): the base corpus (even vec_ids) is "
    f"assigned to the {N_CENTROIDS} fixed centroids and WRITTEN partitioned "
    f"by bucket, once per session and source fingerprint; the arriving "
    f"batch (odd vec_ids) then computes assignments only for ITS vectors "
    f"against the now-STALE centroids and APPENDS — per-batch cost is "
    f"O(batch), the base is never re-scored. The merged store is read back "
    f"and recall@{TOP_K} of the {N_PROBE}-probe IVF search vs the exact scan "
    f"is measured before/after, plus post-upsert max bucket share — the "
    f"recall-drift + skew readout a serving team checks before triggering "
    f"re-clustering. Searches are literal-IN partition-pruned scans + "
    f"TakeOrderedAndProject; the oracle recomputes both halves from the raw "
    f"embeddings (north-star similarity / index lifecycle)",
    tags=("similarity", "pipeline"),
)
def sim_ivf_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _fetch_vectors(spark, sf_dir, CENTROID_VEC_IDS)
    cids = sorted(cents)
    C = np.stack([cents[c] for c in cids])
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    asg_schema = "vec_id bigint, label bigint, embedding array<float>, bucket bigint"

    def build(path: str) -> None:
        # index build for the base corpus (even vec_ids)
        e.filter(F.col("vec_id") % 2 == 0).select("vec_id", "label", "embedding").mapInPandas(
            _assign_score_fn(cids, C, None), schema=asg_schema
        ).write.mode("overwrite").partitionBy("bucket").parquet(path)
        # O(batch) upsert: only the arriving odd vec_ids are scored,
        # against the SAME (now stale) centroids, and appended
        # bucket-partitioned
        e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "label", "embedding").mapInPandas(
            _assign_score_fn(cids, C, None), schema=asg_schema
        ).write.mode("append").partitionBy("bucket").parquet(path)

    store = spark.read.parquet(derived_dir(spark, "ivfstore", sf_dir, ("embeddings",), build))

    # probe selection: driver arithmetic over the 8 centroids (no job)
    vecs = _fetch_vectors(spark, sf_dir, (QUERY_VEC_ID, *CENTROID_VEC_IDS))
    qv = vecs[QUERY_VEC_ID]
    qd2 = fold_sqdist(C, qv[None, :])[:, 0]
    order = sorted(range(len(cids)), key=lambda i: (qd2[i], cids[i]))
    probe_ids = [cids[i] for i in order[:N_PROBE]]

    emb = F.col("embedding").cast("array<double>")
    base_e = e.select("vec_id", emb.alias("emb"), _norm(emb).alias("nrm"))
    # The 1-row query vector is cross-joined into all four top-k
    # branches; checkpointing it removes four pruned-scan
    # re-derivations (6x embeddings scans unpinned).
    # The two exact baselines (before/after) are inherently two passes.
    qrow = (
        base_e.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("emb").alias("qvc"), F.col("nrm").alias("qn"))
        .transform(pin)
    )
    cos = _dot(F.col("emb"), F.col("qvc")) / (F.col("nrm") * F.col("qn"))

    def topk(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("vec_id") != QUERY_VEC_ID)
            .crossJoin(F.broadcast(qrow))
            .orderBy(cos.desc(), F.col("vec_id"))
            .limit(TOP_K)
            .select("vec_id")
        )

    # literal-IN bucket filter: partition-pruned at scale
    appr_after = topk(store.filter(F.col("bucket").isin(probe_ids)).select(
        "vec_id", emb.alias("emb"), _norm(emb).alias("nrm")
    ))
    appr_before = topk(
        store.filter(F.col("bucket").isin(probe_ids))
        .filter(F.col("vec_id") % 2 == 0)
        .select("vec_id", emb.alias("emb"), _norm(emb).alias("nrm"))
    )
    exact_after = topk(base_e)
    exact_before = topk(base_e.filter(F.col("vec_id") % 2 == 0))

    ha = appr_after.join(exact_after, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("ha")
    )
    hb = appr_before.join(exact_before, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("hb")
    )
    cnts = store.agg(
        F.sum((F.col("vec_id") % 2 == 0).cast("long")).cast("bigint").alias("n_base"),
        F.sum((F.col("vec_id") % 2 == 1).cast("long")).cast("bigint").alias("n_upserted"),
    )
    share = (
        store.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.round(F.max("c") * 1.0 / F.sum("c"), 6).alias("max_bucket_share"))
    )
    return (
        cnts.crossJoin(share)
        .crossJoin(ha)
        .crossJoin(hb)
        .select(
            F.lit(TOP_K).cast("bigint").alias("k"),
            "n_base",
            "n_upserted",
            "max_bucket_share",
            F.round(F.col("hb") * 1.0 / TOP_K, 6).alias("recall_before"),
            F.round(F.col("ha") * 1.0 / TOP_K, 6).alias("recall_after"),
            F.round((F.col("ha") - F.col("hb")) * 1.0 / TOP_K, 6).alias("recall_drift"),
        )
    )


# -------------------------------------- contrastive pair mining audit


def _contrastive_oracle() -> str:
    from http_datafusion_spark.operators.dedup import _minhash_pairs_sql

    return f"""
    WITH pairs AS ({_minhash_pairs_sql()}),
    {_IVF_ASSIGN_SQL},
    sym AS (
      SELECT doc_a AS anchor, doc_b AS partner FROM pairs
      UNION ALL
      SELECT doc_b AS anchor, doc_a AS partner FROM pairs
    ), j AS (
      SELECT s.anchor, aa.bucket AS abkt, s.partner, ap.bucket AS pbkt
      FROM sym s
      JOIN assigned aa ON aa.vec_id = s.anchor
      JOIN assigned ap ON ap.vec_id = s.partner
    ), per_anchor AS (
      SELECT anchor, abkt,
             CAST(count(*) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN abkt = pbkt THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_same
      FROM j GROUP BY 1, 2
    ), bsize AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS sz FROM assigned GROUP BY bucket
    )
    SELECT abkt AS bucket,
           CAST(count(*) AS BIGINT) AS n_anchors,
           CAST(sum(n_pos) AS BIGINT) AS n_pos_pairs,
           CAST(sum(sz - 1 - n_pos_same) AS BIGINT) AS n_hard_negatives,
           round(sum(sz - 1 - n_pos_same) * 1.0 / count(*), 4) AS avg_hard_neg
    FROM per_anchor JOIN bsize ON bsize.bucket = per_anchor.abkt
    GROUP BY abkt
    ORDER BY bucket
    """


@query(
    "sim_contrastive_pair_mining",
    oracle=_contrastive_oracle(),
    doc=f"contrastive-pair mining audit — the embedding-training data prep "
    f"that joins the repo's two candidate machines: POSITIVES are the LSH "
    f"near-dup pairs (dedup_minhash_pairs, both directions), HARD NEGATIVES "
    f"are same-IVF-bucket co-members that are NOT positives (semantically "
    f"close by the index, not near-duplicates) — per bucket: anchors, "
    f"positive pairs, hard-negative budget and its per-anchor average, the "
    f"yield readout before exporting triplets. Scale shape: the symmetric "
    f"pair list is LSH-candidate-bounded; bucket assignment joins are "
    f"vec_id-keyed; the {N_CENTROIDS}-row bucket-size table joins hint-free "
    f"— never an all-pairs product (north-star similarity / training data)",
    tags=("similarity", "dedup", "pipeline", "bench_extra"),
)
def sim_contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import dedup_minhash_pairs

    pairs = dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # symmetrize with ONE explode instead of a 2-branch union, so the
    # LSH candidate lineage runs once (no reliance on exchange reuse)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("anchor"), F.col("doc_b").alias("partner")
                ),
                F.struct(
                    F.col("doc_b").alias("anchor"), F.col("doc_a").alias("partner")
                ),
            )
        ).alias("s")
    ).select("s.anchor", "s.partner")
    # (vec_id, bucket) IVF assignment pinned — literally the index-build
    # materialization: the anchor join, the partner join, and the
    # bucket-size agg all consumed it; unpinned each re-derived the
    # embeddings scan + centroid assignment (3 executed mapInPandas
    # passes — opaque Python subtrees get no AQE
    # exchange reuse). One embeddings pass now. The frame is
    # CORPUS-LINEAR (one row per vector), so fact_scale per the
    # pinning rule: a lineage-recoverable persist, never an
    # unreplicated local checkpoint of a fact-sized frame.
    asg = (
        ivf_assignments(spark, sf_dir, spread=False)  # measured: see ivf_assignments docstring
        .select("vec_id", "bucket")
        .transform(pin, fact_scale=True)
    )
    j = (
        sym.join(asg.select(F.col("vec_id").alias("anchor"), F.col("bucket").alias("abkt")), "anchor")
        .join(asg.select(F.col("vec_id").alias("partner"), F.col("bucket").alias("pbkt")), "partner")
    )
    per_anchor = j.groupBy("anchor", "abkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pos"),
        F.sum((F.col("abkt") == F.col("pbkt")).cast("long")).cast("bigint").alias("n_pos_same"),
    )
    bsize = asg.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    hard = F.col("sz") - 1 - F.col("n_pos_same")
    return (
        per_anchor.join(bsize, per_anchor["abkt"] == bsize["bucket"])
        .groupBy("abkt")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
            F.sum("n_pos").cast("bigint").alias("n_pos_pairs"),
            F.sum(hard).cast("bigint").alias("n_hard_negatives"),
            F.round(F.sum(hard) * 1.0 / F.count(F.lit(1)), 4).alias("avg_hard_neg"),
        )
        .select(
            F.col("abkt").alias("bucket"),
            "n_anchors",
            "n_pos_pairs",
            "n_hard_negatives",
            "avg_hard_neg",
        )
        .orderBy("bucket")
    )


# Row cap for one salted kNN sub-bucket. A bucket larger than this is
# split into S = ceil(size / cap) hash sub-buckets, and the kernel runs
# per (query-sub-bucket x neighbor-sub-bucket) group, so ONE
# applyInPandas group holds at most ~2*cap embedding rows (one query
# slice + one neighbor slice) AT ANY CORPUS SIZE — the bound is by
# construction, not by hoping buckets stay small. 4096 rows x 64 dims
# x 8 B ~ 2 MB per slice; the measured
# scales split as sf1 S=1 (2.5k-row buckets), sf5 S=4 (12.5k).
BUCKET_KNN_ROW_CAP = 4096


def _bucket_knn_partial_fn(k: int):
    """applyInPandas fn for ONE (bucket, query-salt, neighbor-salt)
    group: each query's top-k cosine neighbors within the group's
    neighbor slice (self excluded), emitted WITH the cosine so the
    cross-slice merge can re-rank globally. `roles` marks membership:
    0 = neighbor only, 1 = query only, 2 = both (the diagonal group,
    where a row is its own slice-mate — also the whole-bucket group
    when the bucket needed no split).

    Exactness of the two-phase shape: the global top-k under the total
    order (cos DESC, nid ASC) contains at most k rows from any one
    neighbor slice, so per-slice top-k under the SAME total order
    followed by a global merge loses nothing; cosines are the
    fold-exact kernels (functions/veclib.py), bit-identical for a given
    (q, n) pair regardless of slice composition (fold_dot tiles
    partition independent outputs, never an element's accumulation
    order — property-tested), so cross-slice ties are exact and nid
    breaks them identically to the SQL oracle's row_number. The
    quadratic tile runs in numpy, not per-pair interpreted Catalyst
    lambdas (~50x slower, measured); query rows stream in
    chunks so the cos tile is O(chunk x slice), never O(slice^2)."""
    import pandas as pd

    from http_datafusion_spark.functions.veclib import (
        fold_dot,
        fold_norms,
        stack_embeddings,
    )

    CHUNK = 1024
    EMPTY = {"qid": "int64", "qlabel": "int64", "nid": "int64",
             "nlabel": "int64", "cos": "float64"}

    def fn(pdf):
        roles = pdf["roles"].to_numpy()
        q = pdf[roles != 0]
        nb = pdf[roles != 1]
        if len(q) == 0 or len(nb) == 0 or (len(nb) == 1 and len(q) == 1
                                           and q.iloc[0]["vec_id"] == nb.iloc[0]["vec_id"]):
            return pd.DataFrame({c: [] for c in EMPTY}).astype(EMPTY)
        # neighbor slice sorted by vec_id: columns ascend, so the stable
        # sort below breaks cosine ties toward the smaller nid — the
        # oracle's (cos DESC, nid ASC) order even when ties straddle
        # the k-th boundary.
        nb = nb.iloc[np.argsort(nb["vec_id"].to_numpy(), kind="stable")]
        nids = nb["vec_id"].to_numpy()
        nlabels = nb["label"].to_numpy()
        Mn = stack_embeddings(nb["embedding"])
        nrm_n = fold_norms(Mn)
        qids = q["vec_id"].to_numpy()
        qlabels = q["label"].to_numpy()
        Mq = stack_embeddings(q["embedding"])
        nrm_q = fold_norms(Mq)
        m = len(nids)
        kk = min(k, m)
        chunks = []
        for lo in range(0, len(qids), CHUNK):
            hi = min(lo + CHUNK, len(qids))
            rows = hi - lo
            neg = -(fold_dot(Mq[lo:hi], Mn) / np.outer(nrm_q[lo:hi], nrm_n))
            # exclude self where the query's own row sits in this slice
            pos = np.searchsorted(nids, qids[lo:hi])
            hitr = np.flatnonzero((pos < m) & (nids[np.minimum(pos, m - 1)] == qids[lo:hi]))
            neg[hitr, pos[hitr]] = np.inf
            # Exact top-k selection (full-row argsort was 7x the fold's
            # cost): O(m) partition for the kk-th
            # value, tie-inclusive mask, stable sort of the boundary set.
            kth = np.partition(neg, kk - 1, axis=1)[:, kk - 1]
            top = np.empty((rows, kk), dtype=np.int64)
            for r in range(rows):
                cand = np.flatnonzero(neg[r] <= kth[r])
                order = np.argsort(neg[r, cand], kind="stable")[:kk]
                top[r] = cand[order]
            negvals = np.take_along_axis(neg, top, axis=1)
            # a self-inf can be selected only when the slice has < kk+1
            # finite entries for that row — drop it here
            valid = np.isfinite(negvals).ravel()
            flat = top.ravel()[valid]
            chunks.append(
                pd.DataFrame(
                    {
                        "qid": np.repeat(qids[lo:hi], kk)[valid],
                        "qlabel": np.repeat(qlabels[lo:hi], kk)[valid],
                        "nid": nids[flat],
                        "nlabel": nlabels[flat],
                        "cos": -negvals.ravel()[valid],
                    }
                )
            )
        return pd.concat(chunks, ignore_index=True)

    return fn


def salted_bucket_groups(
    spark: SparkSession, sf_dir: str, row_cap: int = BUCKET_KNN_ROW_CAP
) -> DataFrame:
    """(bucket, vec_id, label, embedding, gq, gn, roles): the IVF
    assignment exploded into bounded pairwise work groups — the shared
    scaffold of every bucket-local all-pairs operator (kNN audits,
    SemDeDup).

    A bucket of size ``bsz`` is hash-split into S = ceil(bsz/cap)
    sub-buckets (xxhash64 of vec_id — id-pattern correlation with the
    IVF assignment cannot skew a slice); each vector then joins 2S-1
    groups keyed (bucket, gq, gn): its own salt's query slice against
    every neighbor salt (roles=1), its own salt's neighbor slice under
    every query salt (roles=0), and the shared diagonal (roles=2).
    Grouping on (bucket, gq, gn) therefore hands a pandas kernel ONE
    query slice + ONE neighbor slice, <= ~2*cap rows w.h.p., at any
    corpus size, while the union of a query's groups covers its whole
    bucket exactly once. S = 1 degenerates to one diagonal group per
    bucket. The B-row size frame is localCheckpointed (one tiny eager
    job) and broadcast, so the big side sees no extra exchange."""
    asg = ivf_assignments(spark, sf_dir).select("vec_id", "label", "embedding", "bucket")
    sizes = (
        asg.groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("bsz"))
        .transform(pin)
    )
    n_sub = F.greatest(F.lit(1), F.ceil(F.col("bsz") / F.lit(row_cap))).cast("int")
    salt = F.pmod(F.xxhash64("vec_id"), F.col("n_sub")).cast("int")
    salted = (
        asg.join(F.broadcast(sizes), "bucket")
        .withColumn("n_sub", n_sub)
        .withColumn("salt", salt)
    )
    seq = F.sequence(F.lit(0), F.col("n_sub") - F.lit(1))
    off_diag = F.filter(seq, lambda i: i != F.col("salt"))
    reps = F.concat(
        # neighbor-only: this row's slice serves every OTHER query slice
        F.transform(
            off_diag,
            lambda i: F.struct(
                i.alias("gq"), F.col("salt").alias("gn"), F.lit(0).alias("roles")
            ),
        ),
        # query-only: this row queries every OTHER neighbor slice
        F.transform(
            off_diag,
            lambda j: F.struct(
                F.col("salt").alias("gq"), j.alias("gn"), F.lit(1).alias("roles")
            ),
        ),
        # diagonal: both roles in one membership (S = 1 => only this)
        F.array(
            F.struct(
                F.col("salt").alias("gq"),
                F.col("salt").alias("gn"),
                F.lit(2).alias("roles"),
            )
        ),
    )
    return salted.select(
        "bucket", "vec_id", "label", "embedding", F.explode(reps).alias("g")
    ).select("bucket", "vec_id", "label", "embedding", "g.gq", "g.gn", "g.roles")


def bucket_knn_pairs(
    spark: SparkSession, sf_dir: str, k: int, row_cap: int = BUCKET_KNN_ROW_CAP
) -> DataFrame:
    """(qid, qlabel, nid, nlabel, rn): every vector's top-k bucket-local
    cosine neighbors — the shared candidate frame of the hubness audit
    and the LOO label eval.

    Scale shape:
    a bucket larger than ``row_cap`` is hash-split into
    S = ceil(size / cap) sub-buckets (xxhash64 of vec_id, so id-pattern
    correlation with the IVF assignment cannot skew a slice), and the
    Arrow kernel runs per (bucket, query-salt, neighbor-salt) group —
    each group holds ONE query slice + ONE neighbor slice, <= ~2*cap
    rows w.h.p. under the hash split, at ANY corpus size. Each vector
    is exploded into 2S-1 group memberships (S as query, S as
    neighbor, diagonal shared), so the exchange carries
    O(rows * S * dims) bytes — a factor ~cap/dims below the
    O(rows^2/B) cosine compute that any exact bucket-local kNN pays,
    i.e. the shuffle never becomes the bottleneck before the flops do.
    Per-slice top-k lists then merge per query under the same
    (cos DESC, nid ASC) total order (row_number window keyed by qid —
    WindowGroupLimit prunes map-side), which is lossless because a
    global top-k takes at most k rows from any one slice and the
    fold-exact cosines make cross-slice ties bit-identical
    (property-tested in tests/test_similarity_kernel.py). S = 1
    degenerates to one diagonal group per bucket, the pre-split plan."""
    from pyspark.sql.window import Window as W

    exploded = salted_bucket_groups(spark, sf_dir, row_cap)
    partial = exploded.groupBy("bucket", "gq", "gn").applyInPandas(
        _bucket_knn_partial_fn(k),
        schema="qid bigint, qlabel bigint, nid bigint, nlabel bigint, cos double",
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "qlabel", "nid", "nlabel", F.col("rn").cast("bigint").alias("rn"))
    )


# ------------------------------------------- kNN hubness audit

# Hubness (Radovanovic et al. 2010, public): in high-dimensional
# spaces the k-occurrence distribution N_k(x) — how many other
# vectors' kNN lists contain x — grows right-skewed: a few "hub"
# vectors appear in a large fraction of neighbor lists while many
# "antihubs" appear in none. Retrieval quality degrades with hubness
# (hubs crowd out true neighbors), so an ANN corpus audit reports the
# skewness of N_k before an index ships. Computed bucket-locally over
# the IVF assignment — the same locality an IVF index serves with, so
# the audit measures the hubness queries will actually see AND stays
# sum-of-bucket-squares instead of corpus-squared at 100 TB.
HUB_K = 10


@query(
    "sim_knn_hubness_audit",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL}
    , pairs AS (
      SELECT q.vec_id AS qid, x.vec_id AS nid,
             {_DOT_SQL.format(a='x.embedding', b='q.embedding')}
               / (x.nrm * q.nrm) AS cos
      FROM assigned q JOIN assigned x
        ON x.bucket = q.bucket AND x.vec_id <> q.vec_id
    ), knn AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        FROM pairs) WHERE rn <= {HUB_K}
    ), occ AS (
      SELECT a.vec_id, CAST(coalesce(k.n, 0) AS BIGINT) AS nk
      FROM assigned a LEFT JOIN (
        SELECT nid, count(*) AS n FROM knn GROUP BY nid) k
        ON k.nid = a.vec_id
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(nk) AS BIGINT) AS s1,
             CAST(sum(nk * nk) AS BIGINT) AS s2,
             CAST(sum(nk * nk * nk) AS BIGINT) AS s3,
             CAST(sum(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_antihubs,
             CAST(max(nk) AS BIGINT) AS max_occurrence
      FROM occ
    )
    SELECT n AS n_vectors,
           round(s1 * 1.0 / n, 6) AS mean_k_occurrence,
           round(
             (s3 * 1.0 / n - 3.0 * (s1 * 1.0 / n) * (s2 * 1.0 / n)
              + 2.0 * (s1 * 1.0 / n) * (s1 * 1.0 / n) * (s1 * 1.0 / n))
             / pow(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n), 1.5), 6
           ) AS k_occurrence_skewness,
           n_antihubs,
           max_occurrence
    FROM m
    """,
    doc=f"kNN hubness audit (Radovanovic et al. 2010): k-occurrence "
    f"N_{HUB_K}(x) — how many other vectors' top-{HUB_K} cosine lists "
    f"contain x — computed bucket-locally over the IVF assignment, then "
    f"the distribution's skewness + antihub count + max hub occurrence; "
    f"right-skew is the standard pre-ship red flag for ANN retrieval "
    f"quality. Scale shape: pairs are sum-of-bucket-squares (the IVF "
    f"locality an index serves with), never corpus-squared; the per-"
    f"query ranking carries a LITERAL top-{HUB_K} bound "
    f"(WindowGroupLimit prunes map-side); the three distribution "
    f"moments are INTEGER sums (exact cross-engine, no float-order "
    f"hazard) with skewness derived from them in scalar arithmetic "
    f"(north-star similarity / ANN index audit)",
    tags=("similarity",),
)
def sim_knn_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    knn = bucket_knn_pairs(spark, sf_dir, HUB_K)
    base = ivf_assignments(spark, sf_dir).select("vec_id")
    occ = (
        base.join(
            knn.groupBy("nid").agg(F.count(F.lit(1)).alias("n")),
            base["vec_id"] == F.col("nid"),
            "left",
        )
        .select(F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("nk"))
    )
    m = occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("nk").cast("bigint").alias("s1"),
        F.sum(F.col("nk") * F.col("nk")).cast("bigint").alias("s2"),
        F.sum(F.col("nk") * F.col("nk") * F.col("nk")).cast("bigint").alias("s3"),
        F.sum(F.when(F.col("nk") == 0, 1).otherwise(0)).cast("bigint").alias("n_antihubs"),
        F.max("nk").cast("bigint").alias("max_occurrence"),
    )
    mu = F.col("s1") * 1.0 / F.col("n")
    m2 = F.col("s2") * 1.0 / F.col("n") - mu * mu
    m3 = (
        F.col("s3") * 1.0 / F.col("n")
        - F.lit(3.0) * mu * (F.col("s2") * 1.0 / F.col("n"))
        + F.lit(2.0) * mu * mu * mu
    )
    return m.select(
        F.col("n").alias("n_vectors"),
        F.round(mu, 6).alias("mean_k_occurrence"),
        F.round(m3 / F.pow(m2, F.lit(1.5)), 6).alias("k_occurrence_skewness"),
        "n_antihubs",
        "max_occurrence",
    )


def knn_loo_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, qlabel, plabel): each vector's leave-one-out kNN majority
    label (top-HUB_K bucket-local cosine neighbors vote, ties to the
    smallest label). Vectors alone in their bucket have no neighbors
    and therefore no prediction row."""
    from pyspark.sql.window import Window as W

    knn = bucket_knn_pairs(spark, sf_dir, HUB_K)
    votes = knn.groupBy("qid", "qlabel", "nlabel").agg(F.count(F.lit(1)).alias("c"))
    return votes.select(
        "qid",
        "qlabel",
        F.col("nlabel").alias("plabel"),
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("c"), F.asc("nlabel")))
        .alias("rv"),
    ).filter(F.col("rv") == 1)


# ------------------------------------------- kNN LOO label eval

@query(
    "sim_knn_loo_label_eval",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL}
    , pairs AS (
      SELECT q.vec_id AS qid, q.label AS qlabel, x.label AS nlabel, x.vec_id AS nid,
             {_DOT_SQL.format(a='x.embedding', b='q.embedding')}
               / (x.nrm * q.nrm) AS cos
      FROM assigned q JOIN assigned x
        ON x.bucket = q.bucket AND x.vec_id <> q.vec_id
    ), knn AS (
      SELECT qid, qlabel, nlabel FROM (
        SELECT qid, qlabel, nlabel,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        FROM pairs) WHERE rn <= {HUB_K}
    ), votes AS (
      SELECT qid, qlabel, nlabel, count(*) AS c
      FROM knn GROUP BY 1, 2, 3
    ), pred AS (
      SELECT qid, qlabel, nlabel AS plabel FROM (
        SELECT qid, qlabel, nlabel,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, nlabel) AS rv
        FROM votes) WHERE rv = 1
    )
    SELECT CAST(qlabel AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(sum(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS accuracy
    FROM pred
    GROUP BY qlabel
    ORDER BY label
    """,
    doc=f"leave-one-out kNN label evaluation — the standard intrinsic "
    f"embedding-quality probe (does local cosine neighborhood structure "
    f"predict the label?): each vector's top-{HUB_K} bucket-local cosine "
    f"neighbors (self excluded = LOO by construction) vote; majority "
    f"label (ties to smallest) is compared to the vector's own label, "
    f"reported per label as n/correct/accuracy. Complements the nearest-"
    f"centroid eval (sim_centroid_classifier_eval grades the PARAMETRIC "
    f"decision rule; this grades the raw neighborhood geometry an ANN "
    f"serving stack actually uses). Same scale shape as the hubness "
    f"audit: bucket-local pairs, literal top-{HUB_K} WindowGroupLimit, "
    f"integer votes (exact cross-engine) "
    f"(north-star similarity / embedding quality)",
    tags=("similarity",),
)
def sim_knn_loo_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = knn_loo_predictions(spark, sf_dir)
    hit = F.when(F.col("plabel") == F.col("qlabel"), 1).otherwise(0)
    return (
        pred.groupBy(F.col("qlabel").cast("bigint").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            F.round(F.sum(hit) * 1.0 / F.count(F.lit(1)), 6).alias("accuracy"),
        )
        .orderBy("label")
    )


# ------------------------------------------- SemDeDup semantic dedup

# Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication", public): cluster embeddings (k-means;
# here the repo's fixed IVF codebook), then within each cluster prune
# every vector that is cosine-similar above tau to a KEPT-PRIORITY
# neighbor. The paper keeps, within a duplicate group, the example with
# the LOWEST cosine to the cluster centroid (prefer the hard/diverse
# member); the deterministic non-iterative form of that rule — the one
# a single pass can evaluate and SQL can express — is the order-based
# greedy: prune q iff SOME x earlier in (centroid-cos ASC, vec_id ASC)
# order has cos(x, q) >= tau, whether or not x itself was pruned.
# tau is corpus-relative: the synthetic embeddings are near-isotropic
# (within-bucket cosine p99 ~ 0.33, max ~ 0.49 at sf0.01), so the
# paper's 0.9x range would prune nothing; 0.25 sits at ~p95.
SEMDEDUP_TAU = 0.25


def _semdedup_partial_fn(cents_by_bucket: dict[int, np.ndarray]):
    """applyInPandas fn for one (bucket, q-salt, n-salt) group of
    salted_bucket_groups: for each query, the MAX cosine to any
    neighbor in THIS slice that precedes it in (centroid-cos ASC,
    vec_id ASC) order; queries with no earlier slice-mate emit nothing.
    Per-slice maxima MAX together across a query's groups, which is
    exact because max distributes over the slice union — and carrying
    the maximum instead of a thresholded flag makes EVERY tau's prune
    decision (best >= tau) derivable from ONE kernel pass, so the
    threshold sweep costs nothing extra. Centroid cosines are computed
    inside the kernel from the closure-captured O(K) codebook —
    fold-exact, so the order matches the SQL oracle's bit-for-bit and
    ties break identically."""
    import pandas as pd

    from http_datafusion_spark.functions.veclib import (
        fold_dot,
        fold_norms,
        stack_embeddings,
    )

    CHUNK = 1024
    EMPTY = {"qid": "int64", "best": "float64"}

    def fn(key, pdf):
        bucket = int(key[0])
        cv = cents_by_bucket[bucket]
        c_nrm = float(fold_norms(cv[None, :])[0])
        roles = pdf["roles"].to_numpy()
        q = pdf[roles != 0]
        nb = pdf[roles != 1]
        if len(q) == 0 or len(nb) == 0:
            return pd.DataFrame({c: [] for c in EMPTY}).astype(EMPTY)
        qids = q["vec_id"].to_numpy()
        Mq = stack_embeddings(q["embedding"])
        nrm_q = fold_norms(Mq)
        ccos_q = fold_dot(Mq, cv[None, :])[:, 0] / (nrm_q * c_nrm)
        nids = nb["vec_id"].to_numpy()
        Mn = stack_embeddings(nb["embedding"])
        nrm_n = fold_norms(Mn)
        ccos_n = fold_dot(Mn, cv[None, :])[:, 0] / (nrm_n * c_nrm)
        chunks = []
        for lo in range(0, len(qids), CHUNK):
            hi = min(lo + CHUNK, len(qids))
            cos = fold_dot(Mq[lo:hi], Mn) / np.outer(nrm_q[lo:hi], nrm_n)
            # x precedes q: (ccos_x, xid) < (ccos_q, qid) lexicographic —
            # strict, so the self-pair can never fire
            earlier = (ccos_n[None, :] < ccos_q[lo:hi, None]) | (
                (ccos_n[None, :] == ccos_q[lo:hi, None])
                & (nids[None, :] < qids[lo:hi, None])
            )
            best = np.where(earlier, cos, -np.inf).max(axis=1)
            keep = np.isfinite(best)
            chunks.append(
                pd.DataFrame({"qid": qids[lo:hi][keep], "best": best[keep]})
            )
        return pd.concat(chunks, ignore_index=True)

    return fn


def semdedup_best_earlier_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, best): per vector, the max cosine to any KEPT-PRIORITY
    (earlier-ordered) cluster-mate — the sufficient statistic for
    SemDeDup at EVERY threshold. One salted-kernel pass + a qid max."""
    cents = _fetch_vectors(spark, sf_dir, CENTROID_VEC_IDS)
    groups = salted_bucket_groups(spark, sf_dir)
    partial = groups.groupBy("bucket", "gq", "gn").applyInPandas(
        _semdedup_partial_fn(cents),
        schema="qid bigint, best double",
    )
    return partial.groupBy("qid").agg(F.max("best").alias("best"))


@query(
    "sim_semdedup_prune",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL}
    , cn AS (
      SELECT cid, cv, sqrt({_DOT_SQL.format(a='cv', b='cv')}) AS c_nrm
      FROM cents
    ), scored AS (
      SELECT a.vec_id, a.embedding, a.nrm, a.bucket,
             {_DOT_SQL.format(a='a.embedding', b='c.cv')} / (a.nrm * c.c_nrm)
               AS ccos
      FROM assigned a JOIN cn c ON c.cid = a.bucket
    ), hits AS (
      -- EXISTS spelled as join+max: DuckDB list lambdas cannot capture
      -- correlated subquery bindings, a join scope can
      SELECT q.vec_id,
             max(CASE WHEN {_DOT_SQL.format(a='x.embedding', b='q.embedding')}
                        / (x.nrm * q.nrm) >= {SEMDEDUP_TAU}
                 THEN 1 ELSE 0 END) AS pruned
      FROM scored q JOIN scored x
        ON x.bucket = q.bucket
       AND (x.ccos < q.ccos OR (x.ccos = q.ccos AND x.vec_id < q.vec_id))
      GROUP BY q.vec_id
    ), flags AS (
      SELECT s.vec_id, s.bucket, coalesce(h.pruned, 0) AS pruned
      FROM scored s LEFT JOIN hits h ON h.vec_id = s.vec_id
    )
    SELECT CAST(bucket AS BIGINT)        AS bucket,
           CAST(count(*) AS BIGINT)      AS n_vectors,
           CAST(sum(pruned) AS BIGINT)   AS n_pruned,
           CAST(count(*) - sum(pruned) AS BIGINT) AS n_kept,
           round(1.0 - sum(pruned) * 1.0 / count(*), 6) AS keep_rate
    FROM flags
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc=f"SemDeDup semantic dedup (Abbas et al. 2023, public): IVF-"
    f"cluster the corpus, then within each cluster prune every vector "
    f"with cosine >= {SEMDEDUP_TAU} to a kept-priority neighbor — "
    f"priority = lowest centroid-cosine first (the paper's keep-the-"
    f"hard-example rule), ties to smaller vec_id, evaluated as the "
    f"order-based greedy EXISTS (deterministic, single-pass). Completes "
    f"the dedup arc's embedding-level stage (exact -> MinHash/LSH -> "
    f"SimHash -> semantic). Scale shape: rides salted_bucket_groups — "
    f"the SAME capped (bucket, q-salt, n-salt) groups as the kNN "
    f"kernel, <= ~2*cap rows per pandas group at any corpus size; "
    f"per-slice EXISTS flags OR-merge per query (one tiny agg), stats "
    f"are one {N_CENTROIDS}-row rollup "
    f"(north-star similarity / training-data curation)",
    tags=("similarity", "dedup", "pipeline"),
)
def sim_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    best = semdedup_best_earlier_cos(spark, sf_dir)
    flags = best.select(
        "qid", (F.col("best") >= SEMDEDUP_TAU).cast("long").alias("pruned")
    )
    asg = ivf_assignments(spark, sf_dir).select("vec_id", "bucket")
    return (
        asg.join(flags, asg["vec_id"] == flags["qid"], "left")
        .withColumn("pruned", F.coalesce(F.col("pruned"), F.lit(0)))
        .groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("pruned").cast("bigint").alias("n_pruned"),
            (F.count(F.lit(1)) - F.sum("pruned")).cast("bigint").alias("n_kept"),
            F.round(1.0 - F.sum("pruned") * 1.0 / F.count(F.lit(1)), 6).alias(
                "keep_rate"
            ),
        )
        .orderBy("bucket")
    )


# ------------------------------------- inter-annotator agreement (kappa)

@query(
    "sim_classifier_agreement_kappa",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL}
    , pairs AS (
      SELECT q.vec_id AS qid, q.label AS qlabel, x.label AS nlabel, x.vec_id AS nid,
             {_DOT_SQL.format(a='x.embedding', b='q.embedding')}
               / (x.nrm * q.nrm) AS cos
      FROM assigned q JOIN assigned x
        ON x.bucket = q.bucket AND x.vec_id <> q.vec_id
    ), knn AS (
      SELECT qid, qlabel, nlabel FROM (
        SELECT qid, qlabel, nlabel,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        FROM pairs) WHERE rn <= {HUB_K}
    ), votes AS (
      SELECT qid, qlabel, nlabel, count(*) AS c FROM knn GROUP BY 1, 2, 3
    ), kpred AS (
      SELECT qid, nlabel AS pk FROM (
        SELECT qid, nlabel,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, nlabel) AS rv
        FROM votes) WHERE rv = 1
    ), ccomp AS (
      SELECT vec_id, label, i.i AS i,
             CAST(round(CAST(embedding[i.i] AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
    ), ccent AS (
      SELECT label AS clabel, i,
             CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS DECIMAL(18,6)) AS m
      FROM ccomp GROUP BY label, i
    ), cdists AS (
      SELECT c.vec_id, t.clabel,
             sum(CAST((c.x - t.m) AS DECIMAL(18,6))
                 * CAST((c.x - t.m) AS DECIMAL(18,6))) AS d2
      FROM ccomp c JOIN ccent t ON c.i = t.i
      GROUP BY c.vec_id, t.clabel
    ), cpred AS (
      SELECT vec_id, clabel AS pc FROM (
        SELECT vec_id, clabel,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rk
        FROM cdists) WHERE rk = 1
    ), j AS (
      SELECT c.pc, k.pk FROM kpred k JOIN cpred c ON c.vec_id = k.qid
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pc = pk THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
      FROM j
    ), marg AS (
      SELECT CAST(coalesce(sum(rc.n_c * kc.n_k), 0) AS BIGINT) AS s_marg
      FROM (SELECT pc AS l, count(*) AS n_c FROM j GROUP BY pc) rc
      JOIN (SELECT pk AS l, count(*) AS n_k FROM j GROUP BY pk) kc USING (l)
    )
    SELECT t.n AS n_vectors,
           t.n_agree,
           round(t.n_agree * 1.0 / t.n, 6) AS agree_rate,
           round(m.s_marg * 1.0 / (t.n * t.n), 6) AS chance_rate,
           round((t.n_agree * 1.0 / t.n - m.s_marg * 1.0 / (t.n * t.n))
                 / (1.0 - m.s_marg * 1.0 / (t.n * t.n)), 6) AS kappa
    FROM tot t, marg m
    """,
    doc=f"Cohen's kappa between the repo's two embedding classifiers — "
    f"nearest-centroid (parametric decision rule, exact decimal "
    f"distances) and leave-one-out top-{HUB_K} kNN vote (neighborhood "
    f"geometry): chance-corrected inter-annotator agreement "
    f"(po - pe)/(1 - pe), the standard readout for whether two weak "
    f"labelers can cross-validate each other before auto-labeling a "
    f"corpus. po and pe come from INTEGER counts/marginals (exact "
    f"cross-engine); vectors alone in their IVF bucket have no kNN "
    f"vote and are excluded by the inner join on both engines. Scale "
    f"shape: rides the capped salted kNN kernel + the (label x dim)-"
    f"bounded centroid frame; the join is vec_id-keyed; marginals are "
    f"a label-cardinality table (north-star similarity / labeling QA)",
    tags=("similarity", "agg"),
)
def sim_classifier_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    kpred = knn_loo_predictions(spark, sf_dir).select("qid", F.col("plabel").alias("pk"))
    cpred = centroid_assignments(spark, sf_dir).select("vec_id", F.col("pred_label").alias("pc"))
    # One (pc, pk) row per vector, but three consumers (totals + both
    # marginals) re-derived the two upstream classifier pipelines 6x
    # unpinned — checkpoint the label-pair frame.
    j = (
        kpred.join(cpred, kpred["qid"] == cpred["vec_id"])
        .select("pc", "pk")
        .transform(pin)
    )
    tot = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("pc") == F.col("pk"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
    )
    rc = j.groupBy(F.col("pc").alias("l")).agg(F.count(F.lit(1)).alias("n_c"))
    kc = j.groupBy(F.col("pk").alias("l")).agg(F.count(F.lit(1)).alias("n_k"))
    marg = (
        rc.join(kc, "l")
        .agg(F.coalesce(F.sum(F.col("n_c") * F.col("n_k")), F.lit(0)).cast("bigint").alias("s_marg"))
    )
    po = F.col("n_agree") * 1.0 / F.col("n")
    pe = F.col("s_marg") * 1.0 / (F.col("n") * F.col("n"))
    return tot.crossJoin(marg).select(
        F.col("n").alias("n_vectors"),
        "n_agree",
        F.round(po, 6).alias("agree_rate"),
        F.round(pe, 6).alias("chance_rate"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


# --------------------------------------- JL ranking fidelity (Spearman)

FIDELITY_TOP_K = 50  # exact-top-k candidate set the rank comparison runs on


@query(
    "sim_spearman_rank_fidelity",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ), q AS (
      SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = {QUERY_VEC_ID}
    ), exact AS (
      SELECT vec_id, rn AS exact_rank FROM (
        SELECT vec_id,
               row_number() OVER (
                 ORDER BY {_DOT_SQL.format(a='embedding', b='qv')} / (nrm * qn) DESC,
                          vec_id) AS rn
        FROM e, q WHERE vec_id <> {QUERY_VEC_ID}
      ) WHERE rn <= {FIDELITY_TOP_K}
    ), cand AS (
      SELECT vec_id FROM exact UNION ALL SELECT {QUERY_VEC_ID}
    ), comp AS (
      SELECT c.vec_id, i.i AS i,
             CAST(round(CAST(e2.embedding[i.i] AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
      FROM cand c JOIN embeddings e2 USING (vec_id),
           (SELECT unnest(range(1, {JL_IN_DIM} + 1)) AS i) i
    ), proj AS (
      SELECT c.vec_id, j.j AS j,
             CAST(sum(c.x * {_jl_sign_sql("c.i", "j.j")}) AS DECIMAL(28,6)) AS y
      FROM comp c, (SELECT unnest(range(1, {JL_OUT_DIM} + 1)) AS j) j
      GROUP BY c.vec_id, j.j
    ), qproj AS (
      SELECT j, y AS qy FROM proj WHERE vec_id = {QUERY_VEC_ID}
    ), jd AS (
      SELECT p.vec_id,
             sum(CAST((p.y - qp.qy) AS DECIMAL(18,6))
                 * CAST((p.y - qp.qy) AS DECIMAL(18,6))) AS d2
      FROM proj p JOIN qproj qp USING (j)
      WHERE p.vec_id <> {QUERY_VEC_ID}
      GROUP BY p.vec_id
    ), jr AS (
      SELECT vec_id, row_number() OVER (ORDER BY d2, vec_id) AS jl_rank FROM jd
    ), dd AS (
      SELECT CAST(e3.exact_rank - j3.jl_rank AS BIGINT) AS d
      FROM exact e3 JOIN jr j3 USING (vec_id)
    )
    SELECT CAST(count(*) AS BIGINT)       AS n_candidates,
           CAST(sum(d * d) AS BIGINT)     AS sum_d2,
           round(1.0 - 6.0 * sum(d * d)
                 / (count(*) * 1.0 * (count(*) * 1.0 * count(*) - 1)), 6)
             AS spearman_rho
    FROM dd
    """,
    doc=f"ranking fidelity of the JL projection, measured as Spearman's "
    f"rho: the exact cosine top-{FIDELITY_TOP_K} for the standing query "
    f"vector is re-ranked by squared distance in the {JL_OUT_DIM}-dim "
    f"JL space (same md5 +-1 sign matrix as embedding_jl_projection), "
    f"and rho = 1 - 6*sum(d^2)/(n(n^2-1)) over the INTEGER rank "
    f"displacements — the rank-ORDER complement of the recall@k and "
    f"distance-ratio audits (recall says the right set survives "
    f"compression; rho says the ORDER within it survives). Everything "
    f"past the exact top-k is bounded by the literal {FIDELITY_TOP_K}: "
    f"both rankings are windows over a <= {FIDELITY_TOP_K}-row frame "
    f"behind TakeOrderedAndProject, the JL coordinates are exact "
    f"decimals, and rho is a closed form of integer sums "
    f"(north-star similarity / index design)",
    tags=("similarity",),
)
def sim_spearman_rank_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from http_datafusion_spark.functions.hashing import md5_int

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", "embedding", emb.alias("emb"), _norm(emb).alias("nrm"))
    qrow = base.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("emb").alias("qv"), F.col("nrm").alias("qn")
    )
    cos = _dot(F.col("emb"), F.col("qv")) / (F.col("nrm") * F.col("qn"))
    exact = (
        base.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qrow))
        .withColumn("cos", cos)
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(FIDELITY_TOP_K)
        .withColumn(
            "exact_rank",
            F.row_number().over(W.orderBy(F.col("cos").desc(), F.col("vec_id"))),
        )
        .select("vec_id", "embedding", "exact_rank")
        # FIDELITY_TOP_K rows carrying the full exact-scoring scan; the
        # candidate branch and the final rank join each re-derived it
        # (8x embeddings scans with proj's two consumers compounding)
        # — checkpoint the bounded frame.
        .transform(pin)
    )
    cand = exact.select("vec_id", "embedding").unionAll(
        # .limit(1): vec_id is unique so this changes nothing, but it
        # makes the bound STRUCTURAL — without it this branch is the
        # one unbounded scan-to-window path and the ranking-window
        # guard (correctly) refuses to trust a mere filter
        e.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("vec_id", "embedding")
        .limit(1)
    )
    comp = cand.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("p", "xf")
    ).select(
        "vec_id",
        (F.col("p") + 1).alias("i"),
        quantize(F.col("xf").cast("double"), 6).alias("x"),
    )
    dims = spark.range(1, JL_OUT_DIM + 1).select(F.col("id").alias("j"))
    sign = (
        md5_int(
            F.concat(
                F.lit("jl|"), F.col("i").cast("string"), F.lit("|"), F.col("j").cast("string")
            )
        )
        % 2
    ) * 2 - 1
    proj = (
        comp.crossJoin(F.broadcast(dims))
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("x") * sign).cast("decimal(28,6)").alias("y"))
        .transform(pin)  # (k+1) x JL_OUT_DIM rows; 2 consumers
    )
    qproj = proj.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "j", F.col("y").alias("qy")
    )
    pdiff = (F.col("y") - F.col("qy")).cast("decimal(18,6)")
    jd = (
        proj.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qproj), "j")
        .groupBy("vec_id")
        .agg(F.sum(pdiff * pdiff).alias("d2"))
    )
    jr = jd.withColumn(
        "jl_rank", F.row_number().over(W.orderBy(F.col("d2"), F.col("vec_id")))
    ).select("vec_id", "jl_rank")
    d = (F.col("exact_rank") - F.col("jl_rank")).cast("bigint")
    nn = F.count(F.lit(1))
    return (
        exact.select("vec_id", "exact_rank")
        .join(jr, "vec_id")
        .select(d.alias("d"))
        .agg(
            nn.cast("bigint").alias("n_candidates"),
            F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sum_d2"),
            F.round(
                1.0
                - 6.0
                * F.sum(F.col("d") * F.col("d"))
                / (nn * 1.0 * (nn * 1.0 * nn - 1)),
                6,
            ).alias("spearman_rho"),
        )
    )


SEMDEDUP_TAU_GRID = (0.15, 0.20, 0.25, 0.30, 0.35, 0.40)


@query(
    "sim_semdedup_threshold_sweep",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL}
    , cn AS (
      SELECT cid, cv, sqrt({_DOT_SQL.format(a='cv', b='cv')}) AS c_nrm
      FROM cents
    ), scored AS (
      SELECT a.vec_id, a.embedding, a.nrm, a.bucket,
             {_DOT_SQL.format(a='a.embedding', b='c.cv')} / (a.nrm * c.c_nrm)
               AS ccos
      FROM assigned a JOIN cn c ON c.cid = a.bucket
    ), hits AS (
      SELECT q.vec_id,
             max({_DOT_SQL.format(a='x.embedding', b='q.embedding')}
                 / (x.nrm * q.nrm)) AS best
      FROM scored q JOIN scored x
        ON x.bucket = q.bucket
       AND (x.ccos < q.ccos OR (x.ccos = q.ccos AND x.vec_id < q.vec_id))
      GROUP BY q.vec_id
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM scored)
    SELECT CAST(t.tau AS DOUBLE) AS tau,
           n.n_total             AS n_vectors,
           CAST(coalesce(sum(CASE WHEN h.best >= t.tau THEN 1 ELSE 0 END), 0)
                AS BIGINT)       AS n_pruned,
           round(1.0 - coalesce(sum(CASE WHEN h.best >= t.tau THEN 1 ELSE 0 END), 0)
                 * 1.0 / n.n_total, 6) AS keep_rate
    FROM (SELECT unnest({list(SEMDEDUP_TAU_GRID)}) AS tau) t
    CROSS JOIN n LEFT JOIN hits h ON true
    GROUP BY t.tau, n.n_total
    ORDER BY tau
    """,
    doc=f"SemDeDup threshold sweep over tau in {SEMDEDUP_TAU_GRID}: the "
    f"keep-rate curve a curation run reads before committing a "
    f"threshold (Abbas et al. sweep dedup aggressiveness against "
    f"downstream quality; this is the data half of that trade). The "
    f"sufficient statistic — each vector's MAX cosine to a kept-"
    f"priority cluster-mate — comes from ONE salted-kernel pass "
    f"(semdedup_best_earlier_cos, the same capped groups as "
    f"sim_semdedup_prune), so the whole {len(SEMDEDUP_TAU_GRID)}-point "
    f"sweep costs one pass + a {len(SEMDEDUP_TAU_GRID)}-row grid "
    f"cross join over the per-vector maxima — the threshold-sweep-"
    f"off-one-pass discipline of dedup_minhash_threshold_sweep "
    f"(north-star similarity / curation tuning)",
    tags=("similarity", "dedup", "pipeline"),
)
def sim_semdedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    best = semdedup_best_earlier_cos(spark, sf_dir)
    n = ivf_assignments(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    grid = spark.createDataFrame([(t,) for t in SEMDEDUP_TAU_GRID], "tau double")
    pruned = F.when(F.col("best") >= F.col("tau"), 1).otherwise(0)
    # Left-join the tau grid against the per-tau pruned counts so every
    # tau row is emitted even when `best` is empty (no vector has an
    # earlier cluster-mate) — matches the oracle's CROSS JOIN n LEFT
    # JOIN hits shape, which always yields the full grid with
    # n_pruned=0.
    counts = (
        grid.crossJoin(best)
        .groupBy("tau")
        .agg(F.sum(pruned).cast("bigint").alias("n_pruned"))
    )
    return (
        grid.join(counts, "tau", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "tau",
            F.col("n_total").alias("n_vectors"),
            F.coalesce(F.col("n_pruned"), F.lit(0)).cast("bigint").alias("n_pruned"),
            F.round(
                1.0
                - F.coalesce(F.col("n_pruned"), F.lit(0)) * 1.0 / F.col("n_total"),
                6,
            ).alias("keep_rate"),
        )
        .orderBy("tau")
    )


# ------------------------------------------------ isotropy / geometry audits

EMB_DIM = 64  # the embeddings table's fixed dimensionality

_Q6_SQL = "CAST(round({x}, 6) AS DECIMAL(18,6))"


@query(
    "embedding_isotropy_audit",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ),
    dims AS (SELECT unnest(range(1, {EMB_DIM} + 1)) AS dim),
    ud AS (
      SELECT e.vec_id, d.dim,
             {_Q6_SQL.format(x='CAST(embedding[d.dim] AS DOUBLE) / nrm')} AS uq,
             {_Q6_SQL.format(x='(CAST(embedding[d.dim] AS DOUBLE) / nrm) * (CAST(embedding[d.dim] AS DOUBLE) / nrm)')} AS usq,
             {_Q6_SQL.format(x='CAST(embedding[d.dim] AS DOUBLE)')} AS xq,
             {_Q6_SQL.format(x='CAST(embedding[d.dim] AS DOUBLE) * CAST(embedding[d.dim] AS DOUBLE)')} AS xsq
      FROM e CROSS JOIN dims d
    ),
    per_dim AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             sum(uq) AS s_u, sum(usq) AS t_u, sum(xq) AS s_x, sum(xsq) AS t_x
      FROM ud GROUP BY dim
    ),
    vd AS (
      SELECT dim, n,
             {_Q6_SQL.format(x='CAST(s_u AS DOUBLE) * CAST(s_u AS DOUBLE)')} AS s_u_sq,
             t_u,
             round(CAST(t_x AS DOUBLE) / n
                   - (CAST(s_x AS DOUBLE) / n) * (CAST(s_x AS DOUBLE) / n), 6) AS var_k
      FROM per_dim
    ),
    fin AS (
      SELECT max(n) AS n,
             CAST(sum(s_u_sq) AS DOUBLE) AS ssq,
             CAST(sum(t_u) AS DOUBLE) AS sumsq_u,
             max(var_k) AS max_var,
             CAST(sum(CAST(var_k AS DECIMAL(18,6))) AS DOUBLE) AS sum_var,
             CAST(sum({_Q6_SQL.format(x='var_k * var_k')}) AS DOUBLE) AS sum_var_sq
      FROM vd
    )
    SELECT CAST(n AS BIGINT) AS n_vectors,
           round((ssq - sumsq_u) / (n * (n - 1.0)), 6) AS mean_pair_cos,
           round(max_var, 6) AS max_dim_var,
           round(sum_var / {EMB_DIM}, 6) AS mean_dim_var,
           round(max_var / (sum_var / {EMB_DIM}), 6) AS var_ratio,
           round(sum_var * sum_var / sum_var_sq, 6) AS diag_participation_ratio
    FROM fin
    """,
    doc=f"embedding-space isotropy audit (Ethayarajh 2019 anisotropy; Mu & "
    f"Viswanath 2018 all-but-the-top): EXACT mean pairwise cosine over ALL "
    f"n(n-1) ordered pairs WITHOUT materializing a single pair, via the "
    f"sum-vector identity sum_ij<cos> = ||S||^2 - sum_i||u_i||^2 where S is "
    f"the sum of unit vectors — the anisotropy readout that tells a "
    f"retrieval pipeline its embedding space has collapsed toward a common "
    f"direction (high mean cos => cosine scores saturate and kNN loses "
    f"contrast). Plus per-dimension variance concentration: max/mean "
    f"variance ratio and the diagonal participation ratio (sum v)^2/sum v^2 "
    f"— an {EMB_DIM}-dim effective-dimensionality proxy (= {EMB_DIM} when "
    f"isotropic, ~1 when one dimension dominates). One dim-exploded scan, "
    f"{EMB_DIM}-key partial agg, 6dp-decimal sums throughout so every "
    f"moment is order-independent; at 100 TB this is a map-side pass + one "
    f"{EMB_DIM}-row merge — no shuffle on pairs ever exists",
    tags=("similarity", "pipeline"),
)
def embedding_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]

    x = F.col("embedding").cast("array<double>")
    ed = (
        spread(e.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id",
            x.alias("x"),
            F.sqrt(
                F.aggregate(x, F.lit(0.0), lambda acc, v: acc + v * v)
            ).alias("nrm"),
        )
        .select("vec_id", "nrm", F.posexplode("x").alias("dim", "v"))
        .select(
            "dim",
            quantize(F.col("v") / F.col("nrm"), 6).alias("uq"),
            quantize((F.col("v") / F.col("nrm")) * (F.col("v") / F.col("nrm")), 6).alias("usq"),
            quantize(F.col("v"), 6).alias("xq"),
            quantize(F.col("v") * F.col("v"), 6).alias("xsq"),
        )
    )
    per_dim = ed.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("uq").alias("s_u"),
        F.sum("usq").alias("t_u"),
        F.sum("xq").alias("s_x"),
        F.sum("xsq").alias("t_x"),
    )
    vd = per_dim.select(
        "n",
        quantize(F.col("s_u").cast("double") * F.col("s_u").cast("double"), 6).alias("s_u_sq"),
        "t_u",
        F.round(
            F.col("t_x").cast("double") / F.col("n")
            - (F.col("s_x").cast("double") / F.col("n"))
            * (F.col("s_x").cast("double") / F.col("n")),
            6,
        ).alias("var_k"),
    )
    fin = vd.agg(
        F.max("n").alias("n"),
        F.sum("s_u_sq").cast("double").alias("ssq"),
        F.sum("t_u").cast("double").alias("sumsq_u"),
        F.max("var_k").alias("max_var"),
        F.sum(F.col("var_k").cast("decimal(18,6)")).cast("double").alias("sum_var"),
        F.sum(quantize(F.col("var_k") * F.col("var_k"), 6)).cast("double").alias("sum_var_sq"),
    )
    n = F.col("n").cast("double")
    return fin.select(
        F.col("n").cast("bigint").alias("n_vectors"),
        F.round((F.col("ssq") - F.col("sumsq_u")) / (n * (n - 1.0)), 6).alias(
            "mean_pair_cos"
        ),
        F.round(F.col("max_var"), 6).alias("max_dim_var"),
        F.round(F.col("sum_var") / EMB_DIM, 6).alias("mean_dim_var"),
        F.round(F.col("max_var") / (F.col("sum_var") / EMB_DIM), 6).alias("var_ratio"),
        F.round(
            F.col("sum_var") * F.col("sum_var") / F.col("sum_var_sq"), 6
        ).alias("diag_participation_ratio"),
    )


_EUCLID_SQL = (
    "sqrt(list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
    "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))))"
)


@query(
    "sim_silhouette_simplified",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL},
    d AS (
      SELECT a.vec_id, a.bucket, c.cid,
             {_EUCLID_SQL.format(a='a.embedding', b='c.cv')} AS dist
      FROM assigned a CROSS JOIN cents c
    ),
    ab AS (
      SELECT vec_id, bucket,
             min(CASE WHEN cid = bucket THEN dist END) AS a_dist,
             min(CASE WHEN cid <> bucket THEN dist END) AS b_dist
      FROM d GROUP BY vec_id, bucket
    ),
    s AS (
      SELECT bucket, vec_id,
             CASE WHEN greatest(a_dist, b_dist) = 0 THEN 0.0
                  ELSE (b_dist - a_dist) / greatest(a_dist, b_dist) END AS sil
      FROM ab
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(CAST(sum({_Q6_SQL.format(x='sil')}) AS DOUBLE) / count(*), 6)
             AS mean_silhouette,
           round(min(sil), 6) AS min_silhouette,
           round(CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS frac_negative
    FROM s GROUP BY bucket ORDER BY bucket
    """,
    doc="simplified silhouette per IVF bucket (the centroid-based silhouette "
    "of Hruschka et al. — the standard O(n*K) surrogate for the O(n^2) "
    "silhouette): per vector a = Euclidean distance to its OWN centroid, "
    "b = min distance to any OTHER centroid, s = (b-a)/max(a,b); per-bucket "
    "mean/min/negative-fraction is the clustering-quality readout that "
    "decides whether the IVF index needs re-clustering (negative s = vector "
    "closer to a foreign centroid = recall leak for that bucket; pairs with "
    "sim_ivf_recall which measures the SYMPTOM). Assignment rides the same "
    "argmin-distance kernel as every IVF operator; distances are an 8-row "
    "broadcast cross join, so at 100 TB this is one map-side pass + a "
    "K-key aggregate — the n^2 silhouette is never materialized; "
    "6dp-decimal mean keeps the sum order-independent",
    tags=("similarity",),
)
def sim_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    asg = ivf_assignments(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x"), "bucket"
    )
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    cents = e.filter(F.col("vec_id").isin(list(CENTROID_VEC_IDS))).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("x"), F.col("cv"), lambda u, v: (u - v) * (u - v)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    d = asg.crossJoin(F.broadcast(cents)).select(
        "vec_id", "bucket", "cid", dist.alias("dist")
    )
    ab = d.groupBy("vec_id", "bucket").agg(
        F.min(F.when(F.col("cid") == F.col("bucket"), F.col("dist"))).alias("a_dist"),
        F.min(F.when(F.col("cid") != F.col("bucket"), F.col("dist"))).alias("b_dist"),
    )
    g = F.greatest("a_dist", "b_dist")
    s = ab.select(
        "bucket",
        F.when(g == 0, F.lit(0.0))
        .otherwise((F.col("b_dist") - F.col("a_dist")) / g)
        .alias("sil"),
    )
    return (
        s.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(F.sum(quantize(F.col("sil"), 6)).cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_silhouette"
            ),
            F.round(F.min("sil"), 6).alias("min_silhouette"),
            F.round(
                F.sum(F.when(F.col("sil") < 0, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("frac_negative"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------- SRP-LSH multiprobe recall

SRP_BITS = 6  # hyperplanes -> 2^6 = 64 buckets
# plane j = embedding(2j+1) - embedding(2j+2): deterministic data-derived
# directions (difference vectors are approximately mean-free), standing
# in for Gaussian hyperplanes the way CENTROID_VEC_IDS stand in for a
# k-means fit — no RNG on either engine.
SRP_PLANE_PAIRS = tuple((2 * j + 1, 2 * j + 2) for j in range(SRP_BITS))
SRP_HAMMING_MASKS = (0,) + tuple(1 << j for j in range(SRP_BITS))  # dist <= 1

_SRP_PAIR_VALUES = ", ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(SRP_PLANE_PAIRS)
)

_SRP_CODES_SQL = f"""
    pl AS (
      SELECT t.j,
             list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE)
                  - CAST(b.embedding[i] AS DOUBLE)) AS pv
      FROM (VALUES {_SRP_PAIR_VALUES}) AS t(j, ia, ib)
      JOIN embeddings a ON a.vec_id = t.ia
      JOIN embeddings b ON b.vec_id = t.ib
    ),
    codes AS (
      SELECT e.vec_id,
             CAST(sum(CASE WHEN round({_DOT_SQL.format(a='e.embedding', b='pl.pv')}, 6) >= 0
                           THEN (CAST(1 AS BIGINT) << pl.j) ELSE 0 END) AS BIGINT) AS code
      FROM e CROSS JOIN pl
      GROUP BY e.vec_id
    )
"""


@query(
    "sim_srp_lsh_recall",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ),
    {_SRP_CODES_SQL},
    q AS (
      SELECT e.embedding AS qv, e.nrm AS qn, c.code AS qcode
      FROM e JOIN codes c USING (vec_id) WHERE vec_id = {QUERY_VEC_ID}
    ),
    probes AS (
      SELECT xor(q.qcode, m.m) AS pcode
      FROM q CROSS JOIN (SELECT unnest({list(SRP_HAMMING_MASKS)}) AS m) m
    ),
    cand AS (
      SELECT c.vec_id FROM codes c
      WHERE c.code IN (SELECT pcode FROM probes) AND c.vec_id <> {QUERY_VEC_ID}
    ),
    approx AS (
      SELECT e.vec_id
      FROM e JOIN cand USING (vec_id) CROSS JOIN q
      ORDER BY {_DOT_SQL.format(a='e.embedding', b='qv')} / (e.nrm * qn) DESC, e.vec_id
      LIMIT {TOP_K}
    ),
    exact AS (
      SELECT e.vec_id
      FROM e, q
      WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY {_DOT_SQL.format(a='e.embedding', b='qv')} / (e.nrm * qn) DESC, e.vec_id
      LIMIT {TOP_K}
    )
    SELECT CAST({TOP_K} AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           CAST(count(*) AS BIGINT) AS n_hits,
           round(count(*) * 1.0 / {TOP_K}, 6) AS recall_at_k
    FROM approx JOIN exact USING (vec_id)
    """,
    doc=f"signed-random-projection LSH recall audit (Charikar 2002 "
    f"SimHash-for-cosine; Lv et al. 2007 multi-probe): {SRP_BITS} "
    f"deterministic difference-vector hyperplanes give every vector a "
    f"{SRP_BITS}-bit sign code; the query probes its own bucket plus "
    f"all Hamming-distance-1 neighbors ({len(SRP_HAMMING_MASKS)} "
    f"literal codes), candidates are re-ranked by exact cosine, and "
    f"recall@{TOP_K} is measured against the exact scan — the OTHER "
    f"ANN hash family beside IVF (sim_ivf_recall), hyperplane signs "
    f"instead of centroid Voronoi cells, so the two audits disagree "
    f"exactly where a codebook is mis-fit. Codes are one shuffle-free "
    f"projection per vector ({SRP_BITS} JVM fold expressions against "
    f"literal plane arrays — the oracle's bounded x{SRP_BITS} cross "
    f"join is the SQL spelling of the same bits); the probe set is a "
    f"LITERAL IN filter, partition-prunable when the index is written "
    f"out partitioned by code; plane dots are 6dp-rounded before the "
    f"sign so both engines bucket identically. Driver holds only the "
    f"{2 * SRP_BITS} plane-pair vectors + query (memoized "
    f"_fetch_vectors)",
    tags=("similarity",),
)
def sim_srp_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.veclib import fold_dot

    plane_ids = tuple(sorted({i for p in SRP_PLANE_PAIRS for i in p}))
    vecs = _fetch_vectors(spark, sf_dir, plane_ids + (QUERY_VEC_ID,))
    planes = [vecs[a] - vecs[b] for a, b in SRP_PLANE_PAIRS]
    qv = vecs[QUERY_VEC_ID]
    # query code with the SAME strict left-fold dot + 6dp-round-before-
    # sign as the per-row JVM expressions and the SQL oracle
    qcode = sum(
        (1 << j)
        for j, p in enumerate(planes)
        if round(float(fold_dot(qv[None, :], p[None, :])[0, 0]), 6) >= 0
    )
    probes = [qcode ^ m for m in SRP_HAMMING_MASKS]

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    bits = [
        F.when(
            F.round(_dot(emb, F.array(*[F.lit(float(x)) for x in p])), 6) >= 0,
            F.lit(1 << j).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for j, p in enumerate(planes)
    ]
    code = bits[0]
    for b in bits[1:]:
        code = code + b
    coded = spread(e.select("vec_id", "embedding"), "vec_id").select(
        "vec_id", emb.alias("emb"), _norm(emb).alias("nrm"), code.alias("code")
    )
    # Pin the bucket-bounded multi-probe candidate set: its two
    # consumers (the count and the exact rerank) each re-derived the
    # full coded projection — 2 of the 5 embeddings scans the scan
    # audit counted here. The query row comes from the driver-held
    # vector (vecs already fetched it, memoized) as literals: fold_norms
    # is the same left-fold as _norm/the oracle, and qn is a constant
    # scale factor across candidates so the top-k ordering is exact
    # regardless. Plan after both: ONE full coded pass + the exact
    # tier's own scans (the truth side of the recall audit).
    cand = coded.filter(
        F.col("code").isin(*probes) & (F.col("vec_id") != QUERY_VEC_ID)
    ).transform(pin)
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    qn = float(fold_norms(qv[None, :])[0])
    qrow = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in qv]).alias("qv"),
        F.lit(qn).alias("qn"),
    )
    cos = _dot(F.col("emb"), F.col("qv")) / (F.col("nrm") * F.col("qn"))
    approx = (
        cand.crossJoin(F.broadcast(qrow))
        .orderBy(cos.desc(), F.col("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    exact = sim_bruteforce_topk(spark, sf_dir).select(F.col("vec_id").alias("x_id"))
    hits = approx.join(exact, approx["vec_id"] == exact["x_id"], "inner")
    return hits.agg(
        F.lit(TOP_K).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.round(F.count(F.lit(1)) / TOP_K, 6).alias("recall_at_k"),
    ).crossJoin(F.broadcast(n_cand)).select(
        "k", "n_candidates", "n_hits", "recall_at_k"
    )


# ------------------------------------------- batch-to-batch drift audit

DRIFT_Z_BAR = 3.0  # standardized mean-shift alert threshold


@query(
    "embedding_drift_audit",
    oracle=f"""
    WITH dims AS (SELECT unnest(range(1, {EMB_DIM} + 1)) AS dim),
    x AS (
      SELECT dims.dim,
             CAST(vec_id % 2 AS BIGINT) AS batch,
             CAST(round(CAST(embedding[dims.dim] AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS v
      FROM embeddings CROSS JOIN dims
    ),
    m AS (
      SELECT dim,
             CAST(sum(CASE WHEN batch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN batch = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN batch = 0 THEN v END) AS DOUBLE) AS s0,
             CAST(sum(CASE WHEN batch = 1 THEN v END) AS DOUBLE) AS s1,
             CAST(sum(CASE WHEN batch = 0 THEN CAST(round(CAST(v AS DOUBLE) * CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) END) AS DOUBLE) AS t0,
             CAST(sum(CASE WHEN batch = 1 THEN CAST(round(CAST(v AS DOUBLE) * CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) END) AS DOUBLE) AS t1
      FROM x GROUP BY dim
    )
    SELECT CAST(dim AS INT) AS dim, n0, n1,
           round(s0 / n0, 6) AS mean_a,
           round(s1 / n1, 6) AS mean_b,
           round(abs(s1 / n1 - s0 / n0)
                 / sqrt((t0 / n0 - (s0 / n0) * (s0 / n0)) / n0
                      + (t1 / n1 - (s1 / n1) * (s1 / n1)) / n1), 6) AS shift_z,
           abs(s1 / n1 - s0 / n0)
             / sqrt((t0 / n0 - (s0 / n0) * (s0 / n0)) / n0
                  + (t1 / n1 - (s1 / n1) * (s1 / n1)) / n1) > {DRIFT_Z_BAR}
             AS drift_flag
    FROM m ORDER BY dim
    """,
    doc=f"per-dimension embedding drift audit between two ingest batches "
    f"(batch = vec_id %% 2, the deterministic stand-in for "
    f"yesterday's-model vs today's-model re-embeds): for each of the "
    f"{EMB_DIM} dimensions, the two-sample standardized mean shift "
    f"z = |mu_b - mu_a| / sqrt(var_a/n_a + var_b/n_b), flagged above "
    f"{DRIFT_Z_BAR} — the upstream-model-swap detector a vector store "
    f"runs before trusting mixed-batch ANN results (a silent encoder "
    f"update makes cosine scores incomparable; embedding_centroid_shift "
    f"watches labels move, this watches the COORDINATE SYSTEM move). "
    f"One {EMB_DIM}x-exploded scan into a (dim, batch) partial "
    f"aggregate ({EMB_DIM * 2} cells), all moments 6dp-decimal "
    f"quantized, the z formula (+,-,*,/,sqrt)-only so both engines "
    f"agree bit-for-bit; at 100 TB this is one map-side-combinable "
    f"pass, grain bounded by dimensionality not corpus",
    tags=("similarity", "pipeline"),
)
def embedding_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]

    x = e.select(
        (F.col("vec_id") % 2).cast("bigint").alias("batch"),
        F.posexplode("embedding").alias("pos", "raw"),
    ).select(
        "batch",
        (F.col("pos") + 1).cast("int").alias("dim"),
        quantize(F.col("raw").cast("double"), 6).alias("v"),
    )
    vd = F.col("v").cast("double")
    m = x.groupBy("dim").agg(
        F.sum(F.when(F.col("batch") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("batch") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("batch") == 0, F.col("v"))).cast("double").alias("s0"),
        F.sum(F.when(F.col("batch") == 1, F.col("v"))).cast("double").alias("s1"),
        F.sum(F.when(F.col("batch") == 0, quantize(vd * vd, 6))).cast("double").alias("t0"),
        F.sum(F.when(F.col("batch") == 1, quantize(vd * vd, 6))).cast("double").alias("t1"),
    )
    mean0 = F.col("s0") / F.col("n0")
    mean1 = F.col("s1") / F.col("n1")
    z = F.abs(mean1 - mean0) / F.sqrt(
        (F.col("t0") / F.col("n0") - mean0 * mean0) / F.col("n0")
        + (F.col("t1") / F.col("n1") - mean1 * mean1) / F.col("n1")
    )
    return m.select(
        "dim",
        "n0",
        "n1",
        F.round(mean0, 6).alias("mean_a"),
        F.round(mean1, 6).alias("mean_b"),
        F.round(z, 6).alias("shift_z"),
        (z > DRIFT_Z_BAR).alias("drift_flag"),
    ).orderBy("dim")


# --------------------------------------------- whitening isotropy gain


@query(
    "embedding_whitening_audit",
    oracle=f"""
    WITH dims AS (SELECT unnest(range(1, {EMB_DIM} + 1)) AS dim),
    raw AS (
      SELECT e.vec_id, d.dim,
             CAST(embedding[d.dim] AS DOUBLE) AS x
      FROM embeddings e CROSS JOIN dims d
    ),
    st AS (
      SELECT dim,
             round(CAST(sum({_Q6_SQL.format(x='x')}) AS DOUBLE) / count(*), 6) AS mu,
             round(sqrt(CAST(sum({_Q6_SQL.format(x='x * x')}) AS DOUBLE) / count(*)
                   - (CAST(sum({_Q6_SQL.format(x='x')}) AS DOUBLE) / count(*))
                   * (CAST(sum({_Q6_SQL.format(x='x')}) AS DOUBLE) / count(*))), 6) AS sd
      FROM raw GROUP BY dim
    ),
    zf AS (
      SELECT r.vec_id, r.dim,
             round((r.x - s.mu) / s.sd, 6) AS z,
             round(r.x, 6) AS xr
      FROM raw r JOIN st s ON r.dim = s.dim
    ),
    nrm AS (
      SELECT vec_id,
             sqrt(CAST(sum({_Q6_SQL.format(x='z * z')}) AS DOUBLE)) AS nz,
             sqrt(CAST(sum({_Q6_SQL.format(x='xr * xr')}) AS DOUBLE)) AS nx
      FROM zf GROUP BY vec_id
    ),
    ud AS (
      SELECT z.dim,
             {_Q6_SQL.format(x='z.z / n.nz')} AS uz,
             {_Q6_SQL.format(x='(z.z / n.nz) * (z.z / n.nz)')} AS uzsq,
             {_Q6_SQL.format(x='z.xr / n.nx')} AS ux,
             {_Q6_SQL.format(x='(z.xr / n.nx) * (z.xr / n.nx)')} AS uxsq
      FROM zf z JOIN nrm n ON z.vec_id = n.vec_id
    ),
    per_dim AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             sum(uz) AS s_z, sum(uzsq) AS t_z,
             sum(ux) AS s_x, sum(uxsq) AS t_x
      FROM ud GROUP BY dim
    ),
    fin AS (
      SELECT max(n) AS n,
             CAST(sum({_Q6_SQL.format(x='CAST(s_z AS DOUBLE) * CAST(s_z AS DOUBLE)')}) AS DOUBLE) AS ssq_z,
             CAST(sum(t_z) AS DOUBLE) AS tsum_z,
             CAST(sum({_Q6_SQL.format(x='CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE)')}) AS DOUBLE) AS ssq_x,
             CAST(sum(t_x) AS DOUBLE) AS tsum_x
      FROM per_dim
    )
    SELECT CAST(n AS BIGINT) AS n_vectors,
           round((ssq_x - tsum_x) / (n * (n - 1.0)), 6) AS mean_pair_cos_raw,
           round((ssq_z - tsum_z) / (n * (n - 1.0)), 6) AS mean_pair_cos_whitened,
           round((ssq_x - tsum_x) / (n * (n - 1.0))
                 - (ssq_z - tsum_z) / (n * (n - 1.0)), 6) AS isotropy_gain
    FROM fin
    """,
    doc=f"whitening isotropy gain (the measurement behind Mu & Viswanath "
    f"2018 'all-but-the-top' and Su et al. 2021 whitening-for-retrieval): "
    f"mean pairwise cosine over all n(n-1) pairs BEFORE vs AFTER "
    f"per-dimension standardization z = (x-mu_d)/sd_d — diagonal "
    f"whitening, the cheap first-order fix for a collapsed common "
    f"direction — both computed with ZERO pair materialization via the "
    f"sum-vector identity ||S||^2 - sum||u||^2 (the "
    f"embedding_isotropy_audit machinery applied to two coordinate "
    f"systems in one query). A large gain says cosine scores were "
    f"saturating on the common component and the store should whiten "
    f"before ANN; ~0 says the space was already isotropic. Cost: one "
    f"{EMB_DIM}-key stats pass (broadcast back at the dim grain), one "
    f"vec-grain norm aggregate, one co-partitioned rejoin — all linear, "
    f"no pair shuffle ever exists; mu/sd and every coordinate are "
    f"6dp-rounded before use so both engines transform identically",
    tags=("similarity", "pipeline"),
)
def embedding_whitening_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plan note (perf iteration, measured this round): two array-fold
    # drafts tried to eliminate the (vec, dim) x per-vector-norm join
    # by computing norms as exact integer-micros folds over the
    # embedding array (decimal-cast fold, then a cheaper
    # double-round-recovers-k fold). BOTH measured SLOWER than this
    # join form at sf1 (8.7 s join vs 13.0 s / 11.2 s folds; the
    # 64-element transform+element_at lambdas cost more than the
    # co-partitioned vec_id shuffle they remove) — reverted, negative
    # result recorded per the checkpoint-audit discipline. The join
    # form's shuffle is linear, co-partitioned on vec_id, and AQE-sized.
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]

    raw = e.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "x")
    xq = quantize(F.col("x"), 6)
    st = raw.groupBy("dim").agg(
        F.round(F.sum(xq).cast("double") / F.count(F.lit(1)), 6).alias("mu"),
        F.round(
            F.sqrt(
                F.sum(quantize(F.col("x") * F.col("x"), 6)).cast("double")
                / F.count(F.lit(1))
                - (F.sum(xq).cast("double") / F.count(F.lit(1)))
                * (F.sum(xq).cast("double") / F.count(F.lit(1)))
            ),
            6,
        ).alias("sd"),
    )
    zf = raw.join(F.broadcast(st), "dim").select(
        "vec_id",
        "dim",
        F.round((F.col("x") - F.col("mu")) / F.col("sd"), 6).alias("z"),
        F.round(F.col("x"), 6).alias("xr"),
    )
    nrm = zf.groupBy("vec_id").agg(
        F.sqrt(F.sum(quantize(F.col("z") * F.col("z"), 6)).cast("double")).alias("nz"),
        F.sqrt(F.sum(quantize(F.col("xr") * F.col("xr"), 6)).cast("double")).alias("nx"),
    )
    ud = zf.join(nrm, "vec_id").select(
        "dim",
        quantize(F.col("z") / F.col("nz"), 6).alias("uz"),
        quantize((F.col("z") / F.col("nz")) * (F.col("z") / F.col("nz")), 6).alias("uzsq"),
        quantize(F.col("xr") / F.col("nx"), 6).alias("ux"),
        quantize((F.col("xr") / F.col("nx")) * (F.col("xr") / F.col("nx")), 6).alias("uxsq"),
    )
    per_dim = ud.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("uz").alias("s_z"),
        F.sum("uzsq").alias("t_z"),
        F.sum("ux").alias("s_x"),
        F.sum("uxsq").alias("t_x"),
    )
    fin = per_dim.agg(
        F.max("n").alias("n"),
        F.sum(quantize(F.col("s_z").cast("double") * F.col("s_z").cast("double"), 6))
        .cast("double")
        .alias("ssq_z"),
        F.sum("t_z").cast("double").alias("tsum_z"),
        F.sum(quantize(F.col("s_x").cast("double") * F.col("s_x").cast("double"), 6))
        .cast("double")
        .alias("ssq_x"),
        F.sum("t_x").cast("double").alias("tsum_x"),
    )
    n = F.col("n").cast("double")
    raw_cos = (F.col("ssq_x") - F.col("tsum_x")) / (n * (n - 1.0))
    wht_cos = (F.col("ssq_z") - F.col("tsum_z")) / (n * (n - 1.0))
    return fin.select(
        F.col("n").cast("bigint").alias("n_vectors"),
        F.round(raw_cos, 6).alias("mean_pair_cos_raw"),
        F.round(wht_cos, 6).alias("mean_pair_cos_whitened"),
        F.round(raw_cos - wht_cos, 6).alias("isotropy_gain"),
    )


# ----------------------------- linear-kernel MMD two-sample audit

MMD_SPLIT_LABEL = 5  # groups: label < 5 ("x") vs label >= 5 ("y")


@query(
    "embedding_mmd_two_sample",
    oracle=f"""
    WITH dims AS (SELECT unnest(range(1, {EMB_DIM} + 1)) AS dim),
    ud AS (
      SELECT d.dim,
             CASE WHEN label < {MMD_SPLIT_LABEL} THEN 1 ELSE 0 END AS gx,
             {_Q6_SQL.format(x='CAST(embedding[d.dim] AS DOUBLE)')} AS xq,
             {_Q6_SQL.format(x='CAST(embedding[d.dim] AS DOUBLE) * CAST(embedding[d.dim] AS DOUBLE)')} AS xsq
      FROM embeddings CROSS JOIN dims d
    ),
    per_dim AS (
      SELECT dim,
             CAST(sum(gx) AS BIGINT) AS n_x,
             CAST(sum(1 - gx) AS BIGINT) AS n_y,
             CAST(sum(CASE WHEN gx = 1 THEN xq END) AS DOUBLE) AS s_x,
             CAST(sum(CASE WHEN gx = 0 THEN xq END) AS DOUBLE) AS s_y,
             CAST(sum(CASE WHEN gx = 1 THEN xsq END) AS DOUBLE) AS t_x,
             CAST(sum(CASE WHEN gx = 0 THEN xsq END) AS DOUBLE) AS t_y
      FROM ud GROUP BY dim
    ),
    md AS (
      SELECT n_x, n_y,
             {_Q6_SQL.format(x='(s_x / n_x - s_y / n_y) * (s_x / n_x - s_y / n_y)')} AS d2q,
             {_Q6_SQL.format(x='(s_x / n_x) * (s_y / n_y)')} AS xyq,
             {_Q6_SQL.format(x='(s_x / n_x) * (s_x / n_x)')} AS xxq,
             {_Q6_SQL.format(x='(s_y / n_y) * (s_y / n_y)')} AS yyq,
             {_Q6_SQL.format(x='((t_x - s_x * s_x / n_x) + (t_y - s_y * s_y / n_y)) / (n_x + n_y - 2)')} AS vwq
      FROM per_dim
    ),
    fin AS (
      SELECT max(n_x) AS n_x, max(n_y) AS n_y,
             CAST(sum(d2q) AS DOUBLE) AS mmd2,
             CAST(sum(xyq) AS DOUBLE) AS dot_xy,
             CAST(sum(xxq) AS DOUBLE) AS nx2,
             CAST(sum(yyq) AS DOUBLE) AS ny2,
             CAST(sum(vwq) AS DOUBLE) AS trace_w
      FROM md
    )
    SELECT CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
           round(mmd2, 6) AS mmd2,
           round(dot_xy / (sqrt(nx2) * sqrt(ny2)), 6) AS mean_cos,
           round(trace_w, 6) AS pooled_var_trace,
           round(mmd2 / trace_w, 6) AS mmd2_over_trace
    FROM fin
    """,
    doc=f"linear-kernel Maximum Mean Discrepancy two-sample audit (Gretton "
    f"et al. JMLR 2012) between the label<{MMD_SPLIT_LABEL} and "
    f"label>={MMD_SPLIT_LABEL} embedding populations: for the linear "
    f"kernel, MMD^2 collapses to ||mean_x - mean_y||^2 — computable from "
    f"per-dimension first moments alone, no pair ever materialized (the "
    f"two-sample sibling of embedding_drift_audit; this one adds the "
    f"pooled within-group variance trace so the gap reads in noise units, "
    f"a Hotelling-style effect size mmd2_over_trace, plus the cosine "
    f"between group means). One dim-exploded scan, {EMB_DIM}-key partial "
    f"agg, every cross-dim reduction a 6dp-decimal sum (order-independent "
    f"across partitions and engines); at 100 TB this is a map-side pass "
    f"plus a {EMB_DIM}-row merge — the audit a curation pipeline runs "
    f"before trusting that two corpus slices are exchangeable",
    tags=("similarity", "stats", "pipeline"),
)
def embedding_mmd_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]

    ed = spread(e.select("vec_id", "label", "embedding"), "vec_id").select(
        F.when(F.col("label") < MMD_SPLIT_LABEL, 1).otherwise(0).alias("gx"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    ).select(
        "dim",
        "gx",
        quantize(F.col("v"), 6).alias("xq"),
        quantize(F.col("v") * F.col("v"), 6).alias("xsq"),
    )
    gx1 = F.col("gx") == 1
    per_dim = ed.groupBy("dim").agg(
        F.sum("gx").cast("bigint").alias("n_x"),
        F.sum(F.lit(1) - F.col("gx")).cast("bigint").alias("n_y"),
        F.sum(F.when(gx1, F.col("xq"))).cast("double").alias("s_x"),
        F.sum(F.when(~gx1, F.col("xq"))).cast("double").alias("s_y"),
        F.sum(F.when(gx1, F.col("xsq"))).cast("double").alias("t_x"),
        F.sum(F.when(~gx1, F.col("xsq"))).cast("double").alias("t_y"),
    )
    mx = F.col("s_x") / F.col("n_x")
    my = F.col("s_y") / F.col("n_y")
    md = per_dim.select(
        "n_x",
        "n_y",
        quantize((mx - my) * (mx - my), 6).alias("d2q"),
        quantize(mx * my, 6).alias("xyq"),
        quantize(mx * mx, 6).alias("xxq"),
        quantize(my * my, 6).alias("yyq"),
        quantize((
                (F.col("t_x") - F.col("s_x") * F.col("s_x") / F.col("n_x"))
                + (F.col("t_y") - F.col("s_y") * F.col("s_y") / F.col("n_y"))
            )
            / (F.col("n_x") + F.col("n_y") - 2), 6).alias("vwq"),
    )
    fin = md.agg(
        F.max("n_x").alias("n_x"),
        F.max("n_y").alias("n_y"),
        F.sum("d2q").cast("double").alias("mmd2"),
        F.sum("xyq").cast("double").alias("dot_xy"),
        F.sum("xxq").cast("double").alias("nx2"),
        F.sum("yyq").cast("double").alias("ny2"),
        F.sum("vwq").cast("double").alias("trace_w"),
    )
    return fin.select(
        F.col("n_x").cast("bigint").alias("n_x"),
        F.col("n_y").cast("bigint").alias("n_y"),
        F.round(F.col("mmd2"), 6).alias("mmd2"),
        F.round(
            F.col("dot_xy") / (F.sqrt(F.col("nx2")) * F.sqrt(F.col("ny2"))), 6
        ).alias("mean_cos"),
        F.round(F.col("trace_w"), 6).alias("pooled_var_trace"),
        F.round(F.col("mmd2") / F.col("trace_w"), 6).alias("mmd2_over_trace"),
    )
