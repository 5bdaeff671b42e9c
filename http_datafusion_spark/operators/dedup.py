"""Deduplication operators over ``documents``/``embeddings`` —
north-star extension (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).

All variants are expressed as compositions of built-in DataFrame ops
(split / explode / groupBy-min / self-join) — no Python UDFs — so they
whole-stage-codegen and scale horizontally:

- exact dedup = hash-groupBy: one shuffle on the 128-bit fingerprint;
- MinHash: shingle explode is map-side; the signature is ONE shuffle
  (groupBy doc_id); LSH banding turns the quadratic all-pairs problem
  into an equi-join on (band, key) — the join key is what bounds the
  shuffle, and only near-dup candidates ever materialize;
- SimHash: token explode + per-bit majority vote, then byte-banding
  for candidate generation (hamming ≤ K verified with bit_count);
- n-gram Jaccard: inverted-index self-join on shingle — the exact
  (verification) counterpart to MinHash's approximation;
- embedding cosine: the DEFAULT is candidate-gated — multi-probe IVF
  bucket assignment (operators/similarity.py centroids) generates
  candidate pairs via a bucket equi-join, and exact fold-cosine
  verification runs only inside candidate sets, so compute is
  O(sum of bucket sizes squared), never O(N^2); the exact all-pairs
  tier (block-matrix Arrow tiles, bounded per-task memory) remains
  available as ``dedup_embedding_cosine_exact``.

Hashes are md5-derived (functions/hashing.py) — MinHash permutations
are universal-hash maps over ONE md5 per value — so the DuckDB oracle
reproduces every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from http_datafusion_spark.functions.fixedpoint import quantize
from http_datafusion_spark.functions.hashing import (
    md5_int,
    md5_int_sql,
    minhash_perm,
    minhash_perm_sql,
)
from http_datafusion_spark.functions.pinning import pin
from http_datafusion_spark.functions.tokens import whitespace_tokens
from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import load_tables, spread

N_MINHASH = 8  # permutations
N_BANDS = 4  # bands of 2 -> candidate recall ~J^2 per band
# Word-n-gram width of shingles_of / _SHINGLES_SQL. Consumers that
# reason "a doc emits >=1 shingle iff it has >= SHINGLE_WIDTH words"
# (decontaminate_threshold_sweep's denominator) must derive from this
# constant, not a literal 3.
SHINGLE_WIDTH = 3

_WORDS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, len(words) - 1), "
    "i -> concat_ws(' ', words[i], words[i+1], words[i+2])))"
)


def shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded from any (doc_id, text, ...) frame,
    duplicates retained — the df-generic core of :func:`shingle_stream`
    (also probed per micro-batch by streaming/queries.py's incremental
    dedup, where the input is a stream batch, not a loaded table).

    Implemented as posexplode + window lead instead of a per-row
    higher-order ``transform`` lambda: HOFs evaluate interpreted
    (outside whole-stage codegen) and measured ~15x slower here
    (8.2 s vs 0.54 s at sf0.1). The window shuffle partitions by
    doc_id, which also spreads the work across executors regardless of
    how few input files there are — and leaves the stream
    hash-partitioned on doc_id, so a following groupBy(doc_id) adds NO
    exchange.

    The (doc_id, text) rows are spread (``plans.tables.spread``) BEFORE
    the explode: the window needs hashpartitioning(doc_id) either way,
    so the exchange count is unchanged, but the one exchange carries raw
    text instead of the exploded tokens, and tokenize+explode runs at
    full shuffle width instead of in the scan task (6.6 s in one task of
    a 16 s sf5 wall, 32 cores).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos")
    return (
        spread(docs.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "w"))
        .withColumn("w1", F.lead("w", 1).over(w))
        .withColumn("w2", F.lead("w", 2).over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w1", "w2").alias("shingle"))
    )


def shingle_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) over the documents table — see :func:`shingles_of`."""
    return shingles_of(load_tables(spark, sf_dir, "documents")["documents"])


def shingled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) DISTINCT — for the set-semantics consumers
    (Jaccard, containment, decontamination).
    ``distinct()`` on (doc_id, shingle) == per-doc array_distinct."""
    return shingle_stream(spark, sf_dir).distinct()


def minhash_signature_of(docs: DataFrame, k: int = N_MINHASH) -> DataFrame:
    """One row per doc with k min-hash components h0..h{k-1}, from any
    (doc_id, text, ...) frame (batch table or stream micro-batch).

    ONE md5 per shingle occurrence, then k universal-hash permutations
    (functions/hashing.py minhash_perm) — integer codegen instead of k
    digests. Duplicate shingles are NOT pre-deduped: min() is
    duplicate-insensitive, and skipping the distinct saves its whole
    shuffle (the window stage already partitions by doc_id, so the
    groupBy below is exchange-free). Measured 1.80 s -> ~0.75 s at
    sf0.1.
    """
    sh = shingles_of(docs).select("doc_id", md5_int(F.col("shingle")).alias("h"))
    return sh.groupBy("doc_id").agg(
        *[F.min(minhash_perm(F.col("h"), i)).alias(f"h{i}") for i in range(k)]
    )


def minhash_signature(spark: SparkSession, sf_dir: str, k: int = N_MINHASH) -> DataFrame:
    """MinHash signatures of the documents table — see :func:`minhash_signature_of`."""
    return minhash_signature_of(load_tables(spark, sf_dir, "documents")["documents"], k)


def banded_signature(
    sig: DataFrame, n_bands: int = N_BANDS, k: int = N_MINHASH
) -> DataFrame:
    """LSH banding of a signature frame: one row per (doc, band) with the
    band key (concat of the band's two minhash components) plus the full
    h0..h{k-1} columns carried through for verification joins. Shared by
    the batch incremental-store probe (operators/curation.py) and its
    streaming twin (streaming/queries.py). The signature columns are
    derived explicitly from ``k`` (h0..h{k-1}) rather than by prefix
    matching, so a caller frame carrying an unrelated h-prefixed column
    (e.g. "hash") can never be banded as a minhash component."""
    hcols = [f"h{i}" for i in range(k)]
    return sig.select(
        "doc_id",
        *hcols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.concat_ws("_", f"h{2 * j}", f"h{2 * j + 1}").alias("key"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *hcols, "bk.band", "bk.key")


def probe_band_store(new_bands: DataFrame, store: DataFrame, k: int = N_MINHASH) -> DataFrame:
    """Probe a banded signature store with a batch of new banded
    signatures: (band, key) equi-join generates candidates, the stored
    h-columns verify agreement (>= k/2 matching components), and the
    estimated Jaccard is the match fraction. Per-batch cost is
    O(batch + matches), never O(store) — the store side is
    partition-pruned by band and touched only at matching keys."""
    o, n = store.alias("o"), new_bands.alias("n")
    matches = sum(
        F.when(F.col(f"o.h{i}") == F.col(f"n.h{i}"), 1).otherwise(0) for i in range(k)
    )
    return (
        n.join(o, (F.col("n.band") == F.col("o.band")) & (F.col("n.key") == F.col("o.key")))
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("o.doc_id").alias("old_doc"),
            matches.alias("n_match"),
        )
        .distinct()
        .filter(F.col("n_match") >= k // 2)
        .select(
            "new_doc",
            "old_doc",
            F.round(F.col("n_match") / float(k), 4).alias("est_jaccard"),
        )
    )


def _minhash_signature_sql(k: int = N_MINHASH) -> str:
    mins = ",\n           ".join(
        f"min({minhash_perm_sql('h', i)}) AS h{i}" for i in range(k)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, {_WORDS_SQL} AS words FROM documents
    ), sh AS (
      SELECT doc_id, {md5_int_sql("unnest(" + _SHINGLES_SQL + ")")} AS h
      FROM w WHERE len(words) >= 3
    )
    SELECT doc_id,
           {mins}
    FROM sh
    GROUP BY doc_id
    """


@query(
    "dedup_exact",
    oracle=f"""
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT)    AS group_size,
           CAST(count(*) - 1 AS BIGINT) AS n_removed
    FROM documents
    GROUP BY fingerprint
    """,
    doc="exact dedup: hash-groupBy on normalized-text fingerprint, min-id survivor (north-star dedup)",
    tags=("dedup", "bench"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        d.select(F.md5(norm).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
            (F.count(F.lit(1)) - 1).alias("n_removed"),
        )
    )


@query(
    "dedup_normalized_exact",
    oracle="""
    SELECT md5(array_to_string(list_sort(list_distinct(
             list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> w <> ''))), ' ')) AS fingerprint,
           CAST(min(doc_id) AS BIGINT)  AS keep_doc_id,
           CAST(count(*) AS BIGINT)     AS group_size,
           CAST(count(*) - 1 AS BIGINT) AS n_removed
    FROM documents
    GROUP BY fingerprint
    """,
    doc="canonical-form exact dedup: the fingerprint is the md5 of the SORTED "
    "DISTINCT token set (lowercased), so documents that differ only in word "
    "order, repetition, or case collapse to one group — the normalization-"
    "robust tier between byte-exact dedup (dedup_exact) and MinHash near-dup. "
    "Same single-shuffle hash-groupBy shape as dedup_exact: the canonical "
    "form is computed map-side (split/sort/join are codegen'd array "
    "expressions), and only the 128-bit fingerprint shuffles — at 100 TB the "
    "exchange carries 16 bytes + ids per doc, never the text "
    "(north-star dedup)",
    tags=("dedup",),
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    canon = F.array_join(F.array_sort(F.array_distinct(whitespace_tokens(F.lower(F.trim(F.col("text")))))), " ")
    return (
        d.select(F.md5(canon).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
            (F.count(F.lit(1)) - 1).alias("n_removed"),
        )
    )


@query(
    "dedup_minhash_signature",
    oracle=_minhash_signature_sql(),
    doc="MinHash signatures: one md5 per shingle + k=8 universal-hash permutations mod 2^31-1 (pure int64 codegen) over word-3-gram shingles (north-star dedup)",
    tags=("dedup", "bench"),
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signature(spark, sf_dir)


def _minhash_pairs_sql() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, concat(h{2 * j}, '_', h{2 * j + 1}) AS key FROM sig"
        for j in range(N_BANDS)
    )
    matches = " + ".join(f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH))
    return f"""
    WITH sig AS ({_minhash_signature_sql()}),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b,
           round(({matches}) / {N_MINHASH}.0, 4) AS est_jaccard
    FROM cand
    JOIN sig a ON a.doc_id = doc_a
    JOIN sig b ON b.doc_id = doc_b
    WHERE ({matches}) >= {N_MINHASH // 2}
    """


@query(
    "dedup_minhash_pairs",
    oracle=_minhash_pairs_sql(),
    doc="MinHash-LSH near-dup pairs: 4 bands x 2 rows banding join, signature-agreement filter (north-star dedup)",
    tags=("dedup", "bench"),
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Band rows CARRY the full h0..h{k-1} signature (banded_signature,
    # the same shape probe_band_store serves the incremental store
    # with), so the band self-join verifies agreement inline and the
    # two signature re-joins of the naive plan disappear: one band
    # shuffle + one distinct instead of three shuffles. Cost is a wider
    # band row (k ints). Full-suite bench medians at sf0.1: 1.302 s
    # (naive) -> 1.221 s (this plan); isolated same-session A/Bs
    # showed larger gains (1.02 -> 0.89) but lack full-suite JVM warmup
    # context. At sf1 the rewrite measured -51%. At cluster scale it
    # trades two candidate-sized shuffles for k*8 bytes/row on the band
    # exchange — strictly fewer stages.
    # n_match is a pure function of (doc_a, doc_b), so distinct on the
    # triple equals distinct on the pair.
    sig_bands = banded_signature(minhash_signature(spark, sf_dir))
    bands = sig_bands.transform(pin, fact_scale=True)
    a, b = bands.alias("a"), bands.alias("b")
    matches = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0) for i in range(N_MINHASH)
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            matches.alias("n_match"),
        )
        .distinct()
        .filter(F.col("n_match") >= N_MINHASH // 2)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_match") / float(N_MINHASH), 4).alias("est_jaccard"),
        )
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS_SQL} AS words FROM documents
    ), sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
      FROM w WHERE len(words) >= 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.7
    """,
    doc="exact n-gram Jaccard near-dup pairs via inverted-index self-join (north-star dedup)",
    tags=("dedup", "bench_extra"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingled_docs ends in distinct() — an Exchange Catalyst reuses
    # across the sizes aggregate and both join sides per execution; no
    # pinned .cache() needed.
    sh = shingled_docs(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    common = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        common.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.7)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


N_SIMHASH_BITS = 60  # md5_int yields 60 usable bits; 32 is too few to
N_SIMHASH_BANDS = 4  # separate near-dups on a shared-vocabulary corpus
SIMHASH_BAND_BITS = N_SIMHASH_BITS // N_SIMHASH_BANDS
SIMHASH_HAMMING_MAX = 10


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per doc: per-bit majority vote over token hashes
    (all token occurrences — natural TF weighting)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    d = spread(d.select("doc_id", "text"), "doc_id")
    toks = d.select("doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("w")).select(
        "doc_id", md5_int(F.col("w")).alias("h")
    )
    votes = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(N_SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    sig = sum(
        F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        for b in range(N_SIMHASH_BITS)
    )
    return per_doc.select("doc_id", sig.alias("simhash"))


def _simhash_sql() -> str:
    h = md5_int_sql("w")
    votes = ",\n             ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(N_SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST(1 AS BIGINT) << {b} ELSE 0 END"
        for b in range(N_SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {h} AS h
      FROM (SELECT doc_id, unnest({_WORDS_SQL}) AS w FROM documents)
    ), votes AS (
      SELECT doc_id,
             {votes}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
    """


@query(
    "dedup_simhash",
    oracle=_simhash_sql(),
    doc="SimHash 32-bit signatures: per-bit majority vote over token hashes (north-star dedup)",
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(spark, sf_dir)


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sig AS ({_simhash_sql()}),
    bands AS (
      SELECT doc_id, simhash, b AS band,
             (simhash >> (b * {SIMHASH_BAND_BITS})) & {(1 << SIMHASH_BAND_BITS) - 1} AS chunk
      FROM sig, unnest(range(0, {N_SIMHASH_BANDS})) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.simhash AS sig_a, y.simhash AS sig_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_HAMMING_MAX}
    """,
    doc=f"SimHash near-dup pairs: {SIMHASH_BAND_BITS}-bit banding candidates + hamming<={SIMHASH_HAMMING_MAX} verification (north-star dedup)",
    tags=("dedup",),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Terminal Exchange for per-execution reuse across both band sides
    # (the dedup_minhash_pairs pattern — no cross-invocation pinning).
    sig = simhash_signatures(spark, sf_dir).repartition("doc_id")
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(N_SIMHASH_BANDS - 1))).alias("band"),
    ).withColumn("chunk", F.expr(f"(simhash >> (band * {SIMHASH_BAND_BITS})) & {mask}"))
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sig_a"),
            F.col("y.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("sig_a ^ sig_b"))
    return cand.filter(hamming <= SIMHASH_HAMMING_MAX).select(
        "doc_a", "doc_b", hamming.cast("bigint").alias("hamming")
    )


@query(
    "dedup_near_apply",
    oracle=f"""
    WITH pairs AS ({_minhash_pairs_sql()})
    SELECT d.doc_id, d.source,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_b FROM pairs)
    """,
    doc="apply near-dedup: drop the higher-id member of every MinHash near-dup pair, keep survivors (north-star dedup end-to-end)",
    tags=("dedup", "bench_extra"),
)
def dedup_near_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Greedy survivor selection (anti-join on the pair's doc_b side) —
    # one pass, no iterative connected components; at scale this is an
    # anti-join against the (small) candidate-pair set.
    d = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = dedup_minhash_pairs(spark, sf_dir)
    return (
        d.join(pairs.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti")
        .select("doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars"))
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH pairs AS ({_minhash_pairs_sql()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    dropped AS (
      SELECT DISTINCT e.a AS doc_id
      FROM edges e
      JOIN documents da ON da.doc_id = e.a
      JOIN documents db ON db.doc_id = e.b
      WHERE db.n_chars > da.n_chars
         OR (db.n_chars = da.n_chars AND db.doc_id < da.doc_id)
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
    doc="content-aware near-dup survivorship: keep the LONGER member of every "
    "MinHash pair (tie: lower doc_id) instead of dedup_near_apply's arbitrary "
    "keep-lower-id — the keep-best policy real cleaning pipelines use; a doc "
    "is dropped iff some pair-neighbor dominates it, one join against the "
    "small candidate-pair set (north-star dedup end-to-end)",
    tags=("dedup",),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dominance (n_chars, then doc_id) makes the greedy
    pairwise policy order-independent — no iteration, no clustering —
    while still preferring content: fan the pairs into directed edges,
    keep docs with no dominating neighbor via one anti-join."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # The pair list fans into both edge directions (2x the MinHash
    # pipeline unpinned — 7x documents scans total),
    # and the dominance check reads (doc_id, n_chars) on both sides;
    # checkpoint the LSH-bounded pairs and the two-column length frame
    # so the final plan scans documents once (the survivor projection).
    pairs = dedup_minhash_pairs(spark, sf_dir).transform(pin)
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).unionAll(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    lens = d.select("doc_id", "n_chars").transform(pin)
    da = lens.select(F.col("doc_id").alias("a"), F.col("n_chars").alias("ca"))
    db = lens.select(F.col("doc_id").alias("b"), F.col("n_chars").alias("cb"))
    dominated = (
        edges.join(da, "a").join(db, "b")
        .filter(
            (F.col("cb") > F.col("ca"))
            | ((F.col("cb") == F.col("ca")) & (F.col("b") < F.col("a")))
        )
        .select(F.col("a").alias("doc_id"))
        .distinct()
    )
    return (
        d.join(dominated, "doc_id", "left_anti")
        .select("doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars"))
    )


# Buckets each vector lands in (multi-probe). 3 (not 2) is the default
# because measured recall vs the exact tier on the test corpus is 0.95
# at n_probe=3 vs 0.80 at 2 (tests/test_operators_unit.py gates >= 0.9);
# a dedup stage that silently passes 20% of true dup pairs is a quality
# bug even when the oracle (which mirrors the probes) agrees with it.
IVF_DEDUP_PROBES = 3

# The dot/sqdist folds below mirror operators/similarity.py's oracle
# fragments: strict left-fold double accumulation on both engines, so
# the UNROUNDED > threshold comparison decides membership identically.
_EMB_NRM_SQL = """
    e AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                                          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      FROM embeddings
    )"""

_PAIR_DOT_SQL = """list_sum(list_transform(range(1, len(a.embedding) + 1),
                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"""


def _ivf_dedup_oracle(threshold: float, n_probe: int) -> str:
    from http_datafusion_spark.operators.similarity import CENTROID_VEC_IDS

    return f"""
    WITH {_EMB_NRM_SQL}, cents AS (
      SELECT vec_id AS cid, embedding AS cv FROM e WHERE vec_id IN {CENTROID_VEC_IDS}
    ), ranked AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_sum(list_transform(range(1, len(e.embedding) + 1),
                          i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                             * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)))), c.cid
               ) AS rn
        FROM e CROSS JOIN cents c
      ) WHERE rn <= {n_probe}
    ), cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM ranked x JOIN ranked y ON x.cid = y.cid AND x.vec_id < y.vec_id
    )
    SELECT cand.vec_a, cand.vec_b,
           round({_PAIR_DOT_SQL} / (a.nrm * b.nrm), 4) AS cosine
    FROM cand
    JOIN e a ON a.vec_id = cand.vec_a
    JOIN e b ON b.vec_id = cand.vec_b
    WHERE {_PAIR_DOT_SQL} / (a.nrm * b.nrm) > {threshold}
    """


@query(
    "dedup_embedding_cosine",
    oracle=_ivf_dedup_oracle(0.4, IVF_DEDUP_PROBES),
    doc=(
        "embedding-cosine near-dup pairs, candidate-gated DEFAULT: multi-probe IVF "
        "bucket join generates candidates, exact fold-cosine scores only those — "
        "sub-quadratic; exact all-pairs behind dedup_embedding_cosine_exact "
        "(north-star dedup)"
    ),
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return embedding_pairs_ivf(spark, sf_dir, e, threshold=0.4)


@query(
    "dedup_embedding_cosine_exact",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                                          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_sum(list_transform(range(1, len(a.embedding) + 1),
                          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (a.nrm * b.nrm), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
          / (a.nrm * b.nrm) > 0.4
    """,
    doc=(
        "embedding-cosine near-dup pairs, EXACT all-pairs via distributed "
        "block-matrix tiles — O(N^2) flops, the verification tier behind the "
        "candidate-gated default (north-star dedup)"
    ),
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return embedding_pairs_blocked(spark, e, threshold=0.4)


def _multi_probe_assign_fn(cids: list[int], C, n_probe: int):
    """mapInPandas fn: each vector's ``n_probe`` nearest centroids
    (fold-exact squared-L2; stable argsort ties to smallest cid, the
    oracle's ``ORDER BY d2, cid``). Centroids ride in the task closure —
    no join, no shuffle for the assignment itself."""
    import numpy as np
    import pandas as pd

    from http_datafusion_spark.functions.veclib import fold_sqdist, stack_embeddings

    cid_arr = np.asarray(cids, dtype=np.int64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = stack_embeddings(pdf["embedding"])
            d2 = fold_sqdist(M, C)
            order = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), order.shape[1]),
                    "bucket": cid_arr[order].ravel(),
                }
            )

    return fn


IVF_SUBBLOCKS = 8  # within-bucket block grid for the tile verification
_TILE_ROW_CHUNK = 1024  # A-side rows scored per kernel call (memory bound)


def _ivf_tile_assign_fn(cids: list[int], C, n_probe: int, nb: int):
    """mapInPandas fn for the tile verification path: each vector is
    replicated to (its ``n_probe`` nearest centroids) x (the ``nb``
    within-bucket block tasks its hash block participates in), carrying
    its embedding, so the downstream groupBy((bucket, bi, bj)) shuffles
    once and every tile task holds exactly the two sub-blocks it
    scores. Assignment parity with the SQL oracle is unchanged from
    :func:`_multi_probe_assign_fn` (fold-exact squared-L2, stable
    argsort ties to smallest cid = ``ORDER BY d2, cid``)."""
    import numpy as np
    import pandas as pd

    from http_datafusion_spark.functions.veclib import fold_sqdist, stack_embeddings

    cid_arr = np.asarray(cids, dtype=np.int64)
    # block b participates in tasks (min(b, j), max(b, j)) for j in 0..nb-1
    task_bi = np.array([[min(b, j) for j in range(nb)] for b in range(nb)], dtype=np.int32)
    task_bj = np.array([[max(b, j) for j in range(nb)] for b in range(nb)], dtype=np.int32)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = stack_embeddings(pdf["embedding"])
            d2 = fold_sqdist(M, C)
            order = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]  # (n, p)
            n, p = order.shape
            vids = pdf["vec_id"].to_numpy()
            blks = (vids % nb).astype(np.int32)
            # output ordering: vector-major, probe-next, task-minor
            yield pd.DataFrame(
                {
                    "bucket": np.repeat(cid_arr[order].ravel(), nb),
                    "bi": task_bi[blks].repeat(p, axis=0).ravel(),
                    "bj": task_bj[blks].repeat(p, axis=0).ravel(),
                    "vec_id": np.repeat(vids, p * nb),
                    "blk": np.repeat(blks, p * nb),
                    "embedding": np.repeat(pdf["embedding"].to_numpy(), p * nb),
                }
            )

    return fn


def _ivf_bucket_tile_fn(threshold: float, row_chunk: int = _TILE_ROW_CHUNK):
    """applyInPandas fn: score one (bucket, block_i, block_j) tile with
    the fold-exact numpy kernel; emit pairs above ``threshold`` (the
    UNROUNDED comparison, like the oracle), cosine rounded to 4dp.
    A-side rows are processed in ``row_chunk`` chunks so task memory is
    O(chunk x |B-side|) at any bucket size. ``row_chunk`` is captured
    by value in the closure (workers re-import this module, so a
    module-global would not reach them — the unit test relies on
    passing a small chunk explicitly)."""
    import numpy as np
    import pandas as pd

    from http_datafusion_spark.functions.veclib import fold_dot, fold_norms, stack_embeddings

    empty = pd.DataFrame(
        {
            "vec_a": pd.Series([], dtype="int64"),
            "vec_b": pd.Series([], dtype="int64"),
            "cosine": pd.Series([], dtype="float64"),
        }
    )

    def tile(key, pdf):
        _bucket, bi, bj = (int(k) for k in key)
        a = pdf[pdf["blk"] == bi]
        b = pdf if bi == bj else pdf[pdf["blk"] == bj]
        if not len(a) or not len(b):
            return empty
        MB = stack_embeddings(b["embedding"])
        nrm_b = fold_norms(MB)
        ids_b = b["vec_id"].to_numpy()
        outs = []
        ids_a_all = a["vec_id"].to_numpy()
        for c0 in range(0, len(a), row_chunk):
            ac = a.iloc[c0 : c0 + row_chunk]
            MA = stack_embeddings(ac["embedding"])
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = fold_dot(MA, MB) / np.outer(fold_norms(MA), nrm_b)
            ids_a = ids_a_all[c0 : c0 + row_chunk]
            # NaN (a zero-norm embedding: 0/0) must PASS the filter —
            # both the JVM comparison this kernel replaced and the
            # DuckDB oracle treat NaN as greater than any number,
            # whereas numpy's `>` is False for NaN.
            mask = np.isnan(cos) | (cos > threshold)
            # same-block tile: strict upper triangle; cross-block tiles
            # see each (x, y) exactly once (blk(x)=bi, blk(y)=bj), so
            # only self-pairs need excluding before orienting a < b.
            mask &= ids_a[:, None] < ids_b[None, :] if bi == bj else ids_a[:, None] != ids_b[None, :]
            ia, ib = np.nonzero(mask)
            if not len(ia):
                continue
            va, vb = ids_a[ia], ids_b[ib]
            lo, hi = np.minimum(va, vb), np.maximum(va, vb)
            outs.append(
                pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": np.round(cos[ia, ib], 4)})
            )
        return pd.concat(outs) if outs else empty

    return tile


def embedding_pairs_ivf(
    spark: SparkSession,
    sf_dir: str,
    e: DataFrame,
    threshold: float,
    n_probe: int = IVF_DEDUP_PROBES,
) -> DataFrame:
    """Candidate-gated cosine near-dup pairs — the 100 TB default.

    Stage 1 (candidates): every vector is assigned to its ``n_probe``
    nearest of the K fixed IVF centroids (operators/similarity.py) in
    one shuffle-free Arrow pass. Stage 2 (verification):
    within-bucket pairs are scored by the fold-exact numpy tile kernel
    (functions/veclib.py) — each bucket's members are hash-split into
    ``IVF_SUBBLOCKS`` sub-blocks and every (bucket, bi, bj) tile is an
    independent ``applyInPandas`` task, so per-task memory is
    O(chunk x sub-block) at any bucket size and parallelism is
    K x nb(nb+1)/2 tasks, not K. Hydrating candidate
    PAIRS through two vec_id joins and scored them with the
    interpreted JVM fold (~17-20x slower than the vectorized kernel)
    measured 363 s at sf1 on 32 cores for this function's main
    consumer vs ~12 s with the tile kernel, IDENTICAL output (same
    candidate set, same left-fold accumulation, same 4dp rounding; the
    SQL oracle is untouched).

    Why the quantizer stays at K fixed centroids rather than a
    scale-adaptive sample-trained k-means (measured): every
    true pair of this corpus lies at cosine 0.40-0.51 — the noise
    floor — so recall collapses under any sub-cluster partitioning
    (K=sqrt(N) hash-seeded: 0.76; 5-iter Lloyd-trained: 0.88; both
    below the 0.9 gate), and widening n_probe to compensate costs more
    candidates than all-pairs. At production near-dup thresholds
    (>= 0.9, tight pairs) the same plan with larger K IS sub-quadratic;
    at this row's declared 0.4 the within-cluster quadratic is the
    data's own bound, and the tile kernel makes its constant the
    vectorized-flops floor. The oracle mirrors the same deterministic
    probe assignment, and the exact tier
    (:func:`dedup_embedding_cosine_exact`) remains the verification
    path. Recall measured at sf0.01: 0.95+ at n_probe=3 (the default,
    gated by a recall >= 0.9 test against the exact tier).
    """
    import numpy as np

    from http_datafusion_spark.operators.similarity import (
        CENTROID_VEC_IDS,
        _fetch_vectors,
    )

    cents = _fetch_vectors(spark, sf_dir, CENTROID_VEC_IDS)
    cids = sorted(cents)
    C = np.stack([cents[c] for c in cids])
    nb = IVF_SUBBLOCKS
    grid = e.select("vec_id", "embedding").mapInPandas(
        _ivf_tile_assign_fn(cids, C, n_probe, nb),
        schema="bucket bigint, bi int, bj int, vec_id bigint, blk int, embedding array<float>",
    )
    pairs = grid.groupBy("bucket", "bi", "bj").applyInPandas(
        _ivf_bucket_tile_fn(threshold), schema="vec_a bigint, vec_b bigint, cosine double"
    )
    # a pair can surface from up to n_probe shared buckets with the
    # identical fold-exact cosine — distinct collapses the duplicates
    return pairs.distinct()


N_VEC_BLOCKS = 8
BROADCAST_MAX_ROWS = 100_000


def embedding_pairs_blocked(
    spark: SparkSession,
    e: DataFrame,
    threshold: float,
    n_blocks: int = N_VEC_BLOCKS,
) -> DataFrame:
    """Exact all-pairs cosine above ``threshold`` — block-matrix form.

    Rows are hashed into ``n_blocks`` row-blocks; every block *pair*
    (bi <= bj) is an independent task that computes its (n_i x n_j)
    cosine tile with the Arrow-batched fold-exact kernel
    (functions/veclib.py). Nothing ever materializes on the driver and
    per-task memory is bounded by two blocks — at 100 TB you raise
    n_blocks ~ sqrt(cluster parallelism) and the same plan holds.
    Replication cost: each row is shuffled n_blocks+1 times (its row
    tasks + its column tasks) — the standard price of exact all-pairs;
    sub-quadratic candidate generation is the MinHash/IVF path above.

    The cosine is dot/(|a||b|) accumulated in strict left-fold order,
    bit-identical to the DuckDB oracle's list_sum fold, so the
    UNROUNDED > threshold comparison decides membership identically on
    both sides (no boundary flips from summation-order divergence).
    """
    import numpy as np
    import pandas as pd

    from http_datafusion_spark.functions.veclib import fold_dot, fold_norms, stack_embeddings

    tasks = spark.createDataFrame(
        [(bi, bj) for bi in range(n_blocks) for bj in range(bi, n_blocks)], "bi int, bj int"
    )
    rows = e.select(
        "vec_id", "embedding", (F.col("vec_id") % n_blocks).cast("int").alias("blk")
    )
    rep = rows.join(
        F.broadcast(tasks), (F.col("blk") == F.col("bi")) | (F.col("blk") == F.col("bj"))
    )

    def tile(key, pdf):
        bi, bj = key
        a = pdf[pdf["blk"] == bi]
        b = pdf[pdf["blk"] == bj]
        if not len(a) or not len(b):
            return pd.DataFrame(
                {
                    "vec_a": pd.Series([], dtype="int64"),
                    "vec_b": pd.Series([], dtype="int64"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        MA, MB = stack_embeddings(a["embedding"]), stack_embeddings(b["embedding"])
        ids_a, ids_b = a["vec_id"].to_numpy(), b["vec_id"].to_numpy()
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = fold_dot(MA, MB) / np.outer(fold_norms(MA), fold_norms(MB))
        # NaN-is-greatest parity with the JVM/DuckDB comparison (see tile()).
        mask = np.isnan(cos) | (cos > threshold)
        if bi == bj:
            # same block on both sides: keep the strict upper triangle
            mask &= ids_a[:, None] < ids_b[None, :]
        ia, ib = np.nonzero(mask)
        va, vb = ids_a[ia], ids_b[ib]
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)  # oracle orients a < b
        return pd.DataFrame(
            {"vec_a": lo, "vec_b": hi, "cosine": np.round(cos[ia, ib], 4)}
        )

    return rep.groupBy("bi", "bj").applyInPandas(
        tile, schema="vec_a bigint, vec_b bigint, cosine double"
    )


def embedding_pairs_broadcast(
    spark: SparkSession, e: DataFrame, threshold: float, max_rows: int = BROADCAST_MAX_ROWS
) -> DataFrame:
    """Small-table fast path: one driver copy of the matrix broadcast to
    every executor, each Arrow batch scored against it. EXPLICITLY
    size-guarded — driver memory is O(N·d), so this refuses to run past
    ``max_rows`` instead of silently OOMing at scale; use
    :func:`embedding_pairs_blocked` (the default) beyond that.
    """
    import numpy as np
    import pandas as pd

    from http_datafusion_spark.functions.veclib import fold_dot, fold_norms, stack_embeddings

    n = e.count()
    if n > max_rows:
        raise ValueError(
            f"embedding_pairs_broadcast: {n} rows exceeds the {max_rows}-row driver "
            "guard; use embedding_pairs_blocked"
        )
    pdf = e.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = stack_embeddings(pdf["embedding"])
    nrm = fold_norms(mat)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)
    b_nrm = spark.sparkContext.broadcast(nrm)

    def pairs(it):
        all_ids, all_mat, all_nrm = b_ids.value, b_mat.value, b_nrm.value
        for batch in it:
            if not len(batch):
                continue
            M = stack_embeddings(batch["embedding"])
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = fold_dot(M, all_mat) / np.outer(fold_norms(M), all_nrm)
            vids = batch["vec_id"].to_numpy()
            # NaN-is-greatest parity with the JVM/DuckDB comparison.
            mask = (np.isnan(cos) | (cos > threshold)) & (
                vids[:, None] < all_ids[None, :]
            )
            ia, ib = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "vec_a": vids[ia],
                    "vec_b": all_ids[ib],
                    "cosine": np.round(cos[ia, ib], 4),
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        pairs, schema="vec_a bigint, vec_b bigint, cosine double"
    )


NGRAM_COV_W = 5  # sliding word-5-grams (the exact-substring unit)


@query(
    "dedup_ngram_coverage",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS_SQL} AS words FROM documents
    ), g AS (
      SELECT doc_id,
             concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3], words[i+4]) AS gram
      FROM w, unnest(range(1, len(words) - 3)) AS t(i)
      WHERE len(words) >= {NGRAM_COV_W}
    ), dfreq AS (
      SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
           round(CAST(sum(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_frac
    FROM g JOIN dfreq ON g.gram = dfreq.gram
    GROUP BY g.doc_id
    """,
    doc=f"cross-document exact-substring coverage (Lee et al. dedup signal): fraction of "
    f"each doc's sliding word-{NGRAM_COV_W}-gram positions whose gram also occurs in "
    f"ANOTHER document. Complements dedup_segments (non-overlapping keep-first) and "
    f"text_repetition (within-doc): this measures how much of a doc is copied text "
    f"anywhere in the corpus. Gram explode is map-side (posexplode + window leads, "
    f"codegen); document frequency is one partial-agg shuffle on gram; the score join "
    f"shuffles on gram — counting only, no pairwise join, so shingle skew cannot go "
    f"quadratic (north-star dedup)",
    tags=("dedup",),
)
def dedup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    w = W.partitionBy("doc_id").orderBy("pos")
    # spread: raw text across the window's exchange, tokenize
    # post-exchange at full width. Measured sf5 15.49 -> 4.97 s; sf0.1
    # 1.18 -> 0.94 s.
    grams = (
        spread(d.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "w"))
        .withColumn("w1", F.lead("w", 1).over(w))
        .withColumn("w2", F.lead("w", 2).over(w))
        .withColumn("w3", F.lead("w", 3).over(w))
        .withColumn("w4", F.lead("w", 4).over(w))
        .filter(F.col("w4").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w1", "w2", "w3", "w4").alias("gram"))
        # (doc, gram) feeds BOTH the document-frequency aggregation and
        # the score join; the repartition's Exchange is computed once
        # per execution and reused by both branches (the 5.5 s double
        # pass measured at sf1 stays removed, with no cross-invocation
        # cache pinning).
        .repartition("doc_id")
    )
    dfreq = grams.groupBy("gram").agg(F.count_distinct("doc_id").cast("bigint").alias("df"))
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return (
        grams.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            dup.cast("bigint").alias("n_dup_grams"),
            F.round(dup.cast("double") / F.count(F.lit(1)), 6).alias("dup_frac"),
        )
    )


PREFIX_BLOCK_K = 32  # block key length; documents shorter than this ride dedup_exact


@query(
    "dedup_prefix_pairs",
    oracle=f"""
    SELECT a.doc_id AS prefix_doc,
           b.doc_id AS container_doc,
           CAST(a.n_chars AS BIGINT) AS prefix_len,
           CAST(b.n_chars AS BIGINT) AS container_len
    FROM documents a JOIN documents b
      ON substring(a.text, 1, {PREFIX_BLOCK_K}) = substring(b.text, 1, {PREFIX_BLOCK_K})
     AND a.doc_id <> b.doc_id
     AND starts_with(b.text, a.text)
     AND (a.n_chars < b.n_chars OR (a.n_chars = b.n_chars AND a.doc_id < b.doc_id))
    """,
    doc=f"exact prefix-containment dedup pairs (truncation/re-crawl duplicates that "
    f"near-dup shingles can miss when the container is much longer): equi-join on a "
    f"{PREFIX_BLOCK_K}-char block key — NOT all-pairs — then startswith verify; ties "
    f"(identical text) orient by doc_id. Block key requires len >= {PREFIX_BLOCK_K} "
    f"(fixture min is 48); shorter docs are exact-dedup territory (north-star dedup)",
    tags=("dedup",),
)
def dedup_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB the block key is the shuffle key: each bucket holds docs
    sharing a 32-char prefix (tiny groups for natural text), and the
    quadratic verify runs within buckets only — same bucketed-candidate
    shape as the MinHash band join."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    key = F.substring("text", 1, PREFIX_BLOCK_K)
    a = d.select(
        F.col("doc_id").alias("prefix_doc"), F.col("text").alias("ta"),
        F.col("n_chars").alias("prefix_len"), key.alias("bk"),
    )
    b = d.select(
        F.col("doc_id").alias("container_doc"), F.col("text").alias("tb"),
        F.col("n_chars").alias("container_len"), key.alias("bk"),
    )
    return (
        a.join(b, "bk")
        .filter(
            (F.col("prefix_doc") != F.col("container_doc"))
            & F.col("tb").startswith(F.col("ta"))
            & (
                (F.col("prefix_len") < F.col("container_len"))
                | ((F.col("prefix_len") == F.col("container_len"))
                   & (F.col("prefix_doc") < F.col("container_doc")))
            )
        )
        .select(
            "prefix_doc", "container_doc",
            F.col("prefix_len").cast("bigint").alias("prefix_len"),
            F.col("container_len").cast("bigint").alias("container_len"),
        )
    )


# ---------------------------------------------- LSH candidate budget plan


def _candidate_budget_oracle() -> str:
    band_variants = []
    for nb in (2, 4):
        band_rows = " UNION ALL ".join(
            f"SELECT doc_id, {j} AS band, concat(h{(N_MINHASH // nb) * j}, '_', "
            + ", '_', ".join(
                f"h{(N_MINHASH // nb) * j + r}" for r in range(1, N_MINHASH // nb)
            )
            + ") AS key FROM sig"
            if N_MINHASH // nb > 1
            else f"SELECT doc_id, {j} AS band, CAST(h{j} AS VARCHAR) AS key FROM sig"
            for j in range(nb)
        )
        band_variants.append(f"""
    SELECT CAST({nb} AS BIGINT) AS n_bands,
           CAST({N_MINHASH // nb} AS BIGINT) AS rows_per_band,
           CAST(sum(c * (c - 1) / 2) AS BIGINT) AS predicted_candidates,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM (SELECT band, key, CAST(count(*) AS BIGINT) AS c
          FROM ({band_rows}) GROUP BY 1, 2)
    WHERE c > 1""")
    return f"WITH sig AS ({_minhash_signature_sql()}) " + " UNION ALL ".join(band_variants)


@query(
    "dedup_candidate_budget",
    oracle=_candidate_budget_oracle(),
    doc="LSH candidate-budget planning: for each banding configuration (2 bands "
    f"of {N_MINHASH // 2} rows, {N_BANDS} bands of {N_MINHASH // N_BANDS}), the EXACT "
    "candidate-pair count the banding join would emit — sum over band buckets "
    "of C(c,2), read off the bucket histogram WITHOUT running any join (the "
    "join_size_preflight discipline applied to LSH tuning: more bands = higher "
    "recall = quadratically more candidates, and this is the number that "
    "decides whether the cluster can afford it). One signature pass + a "
    "bucket-histogram agg per configuration; output is configs-bounded "
    "(north-star dedup / capacity planning)",
    tags=("dedup", "agg"),
)
def dedup_candidate_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    import functools

    sig = minhash_signature(spark, sf_dir).transform(pin)

    def plan(nb: int) -> DataFrame:
        rows_per = N_MINHASH // nb
        bands = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band"),
                            F.concat_ws(
                                "_", *[f"h{rows_per * j + r}" for r in range(rows_per)]
                            ).alias("key"),
                        )
                        for j in range(nb)
                    ]
                )
            ).alias("bk"),
        ).select("bk.band", "bk.key")
        hist = (
            bands.groupBy("band", "key")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .filter(F.col("c") > 1)
        )
        return hist.agg(
            F.lit(nb).cast("bigint").alias("n_bands"),
            F.lit(rows_per).cast("bigint").alias("rows_per_band"),
            F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("bigint").alias(
                "predicted_candidates"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        )

    return functools.reduce(lambda a, b: a.unionByName(b), (plan(nb) for nb in (2, 4)))


# --------------------------- semantic-dedup threshold calibration

# Sweep grid for the deploy-threshold calibration. 0.5 is excluded:
# the synthetic corpus has zero exact pairs above it at sf0.001 and a
# 0-denominator recall row is noise, not signal.
CALIB_THRESHOLDS = (0.30, 0.35, 0.40, 0.45)
CALIB_TRUTH_FLOOR = 0.30  # exact ground truth computed once at the loosest t
CALIB_DEPLOY_T = 0.4      # the production gate under calibration


def _calib_oracle() -> str:
    from http_datafusion_spark.operators.similarity import CENTROID_VEC_IDS

    ts = ", ".join(f"{t:.2f}" for t in CALIB_THRESHOLDS)
    return f"""
    WITH {_EMB_NRM_SQL}, cents AS (
      SELECT vec_id AS cid, embedding AS cv FROM e WHERE vec_id IN {CENTROID_VEC_IDS}
    ), ranked AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_sum(list_transform(range(1, len(e.embedding) + 1),
                          i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                             * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)))), c.cid
               ) AS rn
        FROM e CROSS JOIN cents c
      ) WHERE rn <= {IVF_DEDUP_PROBES}
    ), cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM ranked x JOIN ranked y ON x.cid = y.cid AND x.vec_id < y.vec_id
    ), pred AS (
      SELECT cand.vec_a, cand.vec_b
      FROM cand
      JOIN e a ON a.vec_id = cand.vec_a
      JOIN e b ON b.vec_id = cand.vec_b
      WHERE {_PAIR_DOT_SQL} / (a.nrm * b.nrm) > {CALIB_DEPLOY_T}
    ), truth AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round({_PAIR_DOT_SQL} / (a.nrm * b.nrm), 4) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {_PAIR_DOT_SQL} / (a.nrm * b.nrm) > {CALIB_TRUTH_FLOOR}
    ), marked AS (
      SELECT t.cosine, CASE WHEN p.vec_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM truth t LEFT JOIN pred p ON t.vec_a = p.vec_a AND t.vec_b = p.vec_b
    ), np AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM pred),
    sweep AS (SELECT CAST(unnest(ARRAY[{ts}]) AS DOUBLE) AS threshold)
    SELECT round(s.threshold, 2) AS threshold,
           np.n_pred,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(sum(m.hit) AS BIGINT) AS n_hit,
           round(sum(m.hit) * 1.0 / np.n_pred, 6) AS pair_precision,
           round(sum(m.hit) * 1.0 / count(*), 6) AS pair_recall
    FROM sweep s JOIN marked m ON m.cosine > s.threshold
    CROSS JOIN np
    GROUP BY s.threshold, np.n_pred
    """


@query(
    "dedup_semantic_threshold_calibration",
    oracle=_calib_oracle(),
    doc=f"semantic-dedup threshold calibration — the standard artifact before "
    f"deploying embedding dedup at corpus scale: the deployed candidate-gated "
    f"pair set (IVF multi-probe + exact verify at t={CALIB_DEPLOY_T}, exactly "
    "dedup_embedding_cosine's plan) is scored against the EXACT all-pairs "
    f"cosine ground truth at each sweep threshold {CALIB_THRESHOLDS}: "
    "pair_precision(t) = |pred AND truth(t)|/|pred| (how much of what we'd "
    "delete is truly above t), pair_recall(t) = |pred AND truth(t)|/|truth(t)| "
    "(how much true duplication above t the gated path captures — <1 at the "
    "deploy t itself measures IVF candidate misses). The truth tier is the "
    "documented O(N^2) block-matrix verification path run ONCE at the loosest "
    "threshold; at 100 TB this runs on an eval sample, while the pred side is "
    "the production sub-quadratic path (north-star dedup / calibration)",
    tags=("dedup", "similarity"),
)
def dedup_semantic_threshold_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # pred is sim-bounded but carries the whole IVF pipeline; the
    # scoring join AND the n_pred count each re-derived it (9x
    # embeddings scans) — checkpoint the pair list.
    pred = (
        embedding_pairs_ivf(spark, sf_dir, e, threshold=CALIB_DEPLOY_T)
        .select("vec_a", "vec_b", F.lit(1).alias("hit"))
        .transform(pin)
    )
    truth = embedding_pairs_blocked(spark, e, threshold=CALIB_TRUTH_FLOOR)
    # truth pairs are the near-dup set (sim-bounded, << N^2 rows); pred is
    # its subset scored by the same exact kernel — the left join below is
    # pair-keyed and AQE-sized, the 4-row-constant sweep explodes map-side
    marked = truth.join(pred, ["vec_a", "vec_b"], "left").select(
        "cosine", F.coalesce("hit", F.lit(0)).alias("hit")
    )
    n_pred = pred.agg(F.count(F.lit(1)).cast("bigint").alias("n_pred"))
    swept = marked.select(
        "cosine",
        "hit",
        F.explode(F.array(*[F.lit(float(t)) for t in CALIB_THRESHOLDS])).alias(
            "threshold"
        ),
    ).filter(F.col("cosine") > F.col("threshold"))
    return (
        swept.groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.sum("hit").cast("bigint").alias("n_hit"),
        )
        .crossJoin(F.broadcast(n_pred))
        .select(
            F.round("threshold", 2).alias("threshold"),
            "n_pred",
            "n_true",
            "n_hit",
            F.round(F.col("n_hit") * 1.0 / F.col("n_pred"), 6).alias("pair_precision"),
            F.round(F.col("n_hit") * 1.0 / F.col("n_true"), 6).alias("pair_recall"),
        )
    )


# ----------------------------------------- cluster-agreement eval (ARI)


@query(
    "dedup_cluster_ari",
    oracle=f"""
    WITH sig AS ({_minhash_signature_sql()}),
    pred AS (
      SELECT doc_id,
             concat_ws('_', {", ".join(f"h{i}" for i in range(N_MINHASH))}) AS pa
      FROM sig
    ), truth AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           w -> w <> ''))), ' ')) AS pb
      FROM documents
    ), scoped AS (
      SELECT p.pa, t.pb FROM pred p JOIN truth t ON p.doc_id = t.doc_id
    ), cont AS (
      SELECT pa, pb, CAST(count(*) AS BIGINT) AS n FROM scoped GROUP BY 1, 2
    ), rows_a AS (
      SELECT pa, CAST(sum(n) AS BIGINT) AS na FROM cont GROUP BY 1
    ), rows_b AS (
      SELECT pb, CAST(sum(n) AS BIGINT) AS nb FROM cont GROUP BY 1
    ), sums AS (
      SELECT (SELECT sum(n * (n - 1) // 2) FROM cont) AS sij,
             (SELECT sum(na * (na - 1) // 2) FROM rows_a) AS sa,
             (SELECT sum(nb * (nb - 1) // 2) FROM rows_b) AS sb,
             (SELECT sum(n) FROM cont) AS nd,
             (SELECT count(*) FROM rows_a) AS ga,
             (SELECT count(*) FROM rows_b) AS gb
    )
    SELECT CAST(nd AS BIGINT) AS n_docs,
           CAST(ga AS BIGINT) AS n_pred_groups,
           CAST(gb AS BIGINT) AS n_truth_groups,
           CAST(sij AS BIGINT) AS pairs_agree,
           CAST(sa AS BIGINT) AS pairs_pred,
           CAST(sb AS BIGINT) AS pairs_truth,
           round((sij - CAST(sa AS DOUBLE) * sb / (nd * (nd - 1) // 2))
                 / NULLIF((CAST(sa AS DOUBLE) + sb) / 2
                          - CAST(sa AS DOUBLE) * sb / (nd * (nd - 1) // 2), 0), 6)
             AS ari
    FROM sums
    """,
    doc=f"dedup-stack self-evaluation: Adjusted Rand Index (Hubert-Arabie) "
    f"between the {N_MINHASH}-component full-signature-identity partition "
    "(the coarsest LSH tier — signature collision implies Jaccard ~1) and the "
    "normalized-exact fingerprint partition as ground truth. Pair counts come "
    "from the (pred x truth) contingency table — one doc per cell, so the "
    "table is at most |docs| rows and every sum is an integer until the final "
    "division; no pair materialization anywhere. Shuffles at 100 TB: the "
    "signature groupBy, one doc_id-keyed join, the contingency groupBy — all "
    "equi-keyed and SF-linear (north-star dedup / eval)",
    tags=("dedup", "agg"),
)
def dedup_cluster_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_signature(spark, sf_dir)
    pred = sig.select(
        "doc_id",
        F.concat_ws("_", *[F.col(f"h{i}") for i in range(N_MINHASH)]).alias("pa"),
    )
    d = load_tables(spark, sf_dir, "documents")["documents"]
    canon = F.array_join(
        F.array_sort(F.array_distinct(whitespace_tokens(F.lower(F.trim(F.col("text")))))), " "
    )
    truth = d.select("doc_id", F.md5(canon).alias("pb"))
    # The contingency table (one row per (pred, truth) cluster pair)
    # feeds three branches (both marginals + the agreement sums);
    # unpinned, each re-derived the signature + canon pipelines (6x
    # documents scans) — checkpoint the cells.
    cont = (
        pred.join(truth, "doc_id")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .transform(pin)
    )
    c2 = lambda c: F.expr(f"CAST({c} * ({c} - 1) DIV 2 AS BIGINT)")  # noqa: E731
    rows_a = cont.groupBy("pa").agg(F.sum("n").cast("bigint").alias("na"))
    rows_b = cont.groupBy("pb").agg(F.sum("n").cast("bigint").alias("nb"))
    sums = (
        cont.agg(
            F.sum(c2("n")).alias("sij"),
            F.sum("n").cast("bigint").alias("nd"),
        )
        .crossJoin(rows_a.agg(F.sum(c2("na")).alias("sa"), F.count(F.lit(1)).alias("ga")))
        .crossJoin(rows_b.agg(F.sum(c2("nb")).alias("sb"), F.count(F.lit(1)).alias("gb")))
    )
    t_pairs = F.expr("CAST(nd * (nd - 1) DIV 2 AS BIGINT)")
    exp = F.col("sa").cast("double") * F.col("sb") / t_pairs
    denom = (F.col("sa").cast("double") + F.col("sb")) / 2 - exp
    return sums.select(
        F.col("nd").cast("bigint").alias("n_docs"),
        F.col("ga").cast("bigint").alias("n_pred_groups"),
        F.col("gb").cast("bigint").alias("n_truth_groups"),
        F.col("sij").cast("bigint").alias("pairs_agree"),
        F.col("sa").cast("bigint").alias("pairs_pred"),
        F.col("sb").cast("bigint").alias("pairs_truth"),
        F.round(
            F.when(denom != 0, (F.col("sij") - exp) / denom).otherwise(F.lit(None)), 6
        ).alias("ari"),
    )


# ----------------------- lexical-vs-semantic cluster agreement (ARI)


def _lexical_semantic_ari_oracle() -> str:
    return f"""
    WITH RECURSIVE lpairs AS ({_minhash_pairs_sql()}),
    ledges AS (
      SELECT doc_a AS a, doc_b AS b FROM lpairs
      UNION SELECT doc_b, doc_a FROM lpairs
    ),
    lreach(src, dst) AS (
      SELECT a, a FROM ledges
      UNION
      SELECT r.src, e.b FROM lreach r JOIN ledges e ON r.dst = e.a
    ),
    lcomp AS (SELECT src AS node, min(dst) AS c FROM lreach GROUP BY src),
    spairs AS ({_ivf_dedup_oracle(0.4, IVF_DEDUP_PROBES)}),
    sedges AS (
      SELECT vec_a AS a, vec_b AS b FROM spairs
      UNION SELECT vec_b, vec_a FROM spairs
    ),
    sreach(src, dst) AS (
      SELECT a, a FROM sedges
      UNION
      SELECT r.src, e.b FROM sreach r JOIN sedges e ON r.dst = e.a
    ),
    scomp AS (SELECT src AS node, min(dst) AS c FROM sreach GROUP BY src),
    assigned AS (
      SELECT coalesce(l.c, d.doc_id) AS la, coalesce(s.c, d.doc_id) AS lb
      FROM documents d
      LEFT JOIN lcomp l ON l.node = d.doc_id
      LEFT JOIN scomp s ON s.node = d.doc_id
    ),
    cont AS (SELECT la, lb, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY 1, 2),
    rows_a AS (SELECT la, CAST(sum(n) AS BIGINT) AS na FROM cont GROUP BY 1),
    rows_b AS (SELECT lb, CAST(sum(n) AS BIGINT) AS nb FROM cont GROUP BY 1),
    sums AS (
      SELECT (SELECT sum(n * (n - 1) // 2) FROM cont)      AS sij,
             (SELECT sum(na * (na - 1) // 2) FROM rows_a)  AS sa,
             (SELECT sum(nb * (nb - 1) // 2) FROM rows_b)  AS sb,
             (SELECT sum(n) FROM cont)                     AS nd,
             (SELECT count(*) FROM rows_a)                 AS ga,
             (SELECT count(*) FROM rows_b)                 AS gb
    )
    SELECT CAST(nd AS BIGINT) AS n_docs,
           CAST(ga AS BIGINT) AS n_lex_groups,
           CAST(gb AS BIGINT) AS n_sem_groups,
           CAST(sij AS BIGINT) AS pairs_agree,
           CAST(sa AS BIGINT) AS pairs_lex,
           CAST(sb AS BIGINT) AS pairs_sem,
           round((sij - CAST(sa AS DOUBLE) * sb / (nd * (nd - 1) // 2))
                 / NULLIF((CAST(sa AS DOUBLE) + sb) / 2
                          - CAST(sa AS DOUBLE) * sb / (nd * (nd - 1) // 2), 0), 6)
             AS ari
    FROM sums
    """


@query(
    "dedup_lexical_semantic_ari",
    oracle=_lexical_semantic_ari_oracle(),
    doc="Adjusted Rand Index (Hubert & Arabie 1985) between the LEXICAL "
    "near-dup partition (connected components over MinHash-LSH pairs, "
    "dedup_clusters) and the SEMANTIC one (components over the IVF-gated "
    "embedding-cosine pairs, dedup_semantic_clusters), both extended to "
    "the full corpus with singleton clusters for unclustered docs — the "
    "ship/no-ship readout for layering semantic dedup ON TOP of lexical: "
    "ARI near 1 means the embedding tier only rediscovers what shingles "
    "already caught (skip the GPU pass); low ARI with nontrivial semantic "
    "mass means paraphrase duplication survives lexical dedup. Pair "
    "counts come from the (la, lb) contingency table — one row per doc "
    "label pair, never materialized pairs — and every sum is integer "
    "until the final division (the dedup_cluster_ari algebra). Both pair "
    "pipelines are sub-quadratic (banded LSH / IVF-gated); components "
    "run the checkpointed star contraction; the contingency and its "
    "marginals read ONE checkpointed cell table (one scan per source) "
    "(north-star dedup / eval)",
    tags=("dedup", "similarity", "graph"),
)
def dedup_lexical_semantic_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.components import connected_components

    d = load_tables(spark, sf_dir, "documents")["documents"].select("doc_id")
    lex = dedup_minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    sem = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    lc = connected_components(lex).select(
        F.col("node").alias("doc_id"), F.col("component").alias("ca")
    )
    sc = connected_components(sem).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cb")
    )
    assigned = (
        d.join(lc, "doc_id", "left")
        .join(sc, "doc_id", "left")
        .select(
            F.coalesce("ca", "doc_id").alias("la"),
            F.coalesce("cb", "doc_id").alias("lb"),
        )
    )
    # contingency cells feed both marginals + the agreement sums —
    # checkpoint once (the dedup_cluster_ari pattern).
    cont = (
        assigned.groupBy("la", "lb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .transform(pin)
    )
    c2 = lambda c: F.expr(f"CAST({c} * ({c} - 1) DIV 2 AS BIGINT)")  # noqa: E731
    rows_a = cont.groupBy("la").agg(F.sum("n").cast("bigint").alias("na"))
    rows_b = cont.groupBy("lb").agg(F.sum("n").cast("bigint").alias("nb"))
    sums = (
        cont.agg(
            F.sum(c2("n")).alias("sij"),
            F.sum("n").cast("bigint").alias("nd"),
        )
        .crossJoin(rows_a.agg(F.sum(c2("na")).alias("sa"), F.count(F.lit(1)).alias("ga")))
        .crossJoin(rows_b.agg(F.sum(c2("nb")).alias("sb"), F.count(F.lit(1)).alias("gb")))
    )
    t_pairs = F.expr("CAST(nd * (nd - 1) DIV 2 AS BIGINT)")
    exp = F.col("sa").cast("double") * F.col("sb") / t_pairs
    denom = (F.col("sa").cast("double") + F.col("sb")) / 2 - exp
    return sums.select(
        F.col("nd").cast("bigint").alias("n_docs"),
        F.col("ga").cast("bigint").alias("n_lex_groups"),
        F.col("gb").cast("bigint").alias("n_sem_groups"),
        F.col("sij").cast("bigint").alias("pairs_agree"),
        F.col("sa").cast("bigint").alias("pairs_lex"),
        F.col("sb").cast("bigint").alias("pairs_sem"),
        F.round(
            F.when(denom != 0, (F.col("sij") - exp) / denom).otherwise(F.lit(None)), 6
        ).alias("ari"),
    )


# -------------------------------------------- LSH band-plan tuning

# Candidate (bands, rows) splits of the k=8 signature. For each, the
# S-curve P(candidate | s) = 1 - (1 - s^r)^b (Broder/LSH theory,
# public) is evaluated against the OBSERVED estimated-Jaccard
# histogram of the current candidate pairs — the data-driven audit
# that picks a banding before re-running corpus dedup under it.
BAND_TUNING_GRID = ((1, 8), (2, 4), (4, 2), (8, 1))


def _pow_tree_sql(expr: str, n: int) -> str:
    """Square-and-multiply x^n as a SQL string — the SAME expression
    tree the Spark side builds, so both engines run the identical
    sequence of exactly-rounded IEEE multiplies (no pow(), whose libm
    rounding may differ across engines). Odd n multiplies the squared
    half by the base (a bare n//2 recursion silently drops the odd bit,
    so x^3 would evaluate as x^2 — wrong for any (3,4)-style split)."""
    if n == 1:
        return expr
    h = _pow_tree_sql(expr, n // 2)
    sq = f"({h} * {h})"
    return f"({sq} * {expr})" if n % 2 else sq


def _pow_tree_col(col: Column, n: int) -> Column:
    if n == 1:
        return col
    h = _pow_tree_col(col, n // 2)
    sq = h * h
    return sq * col if n % 2 else sq


def _band_tuning_oracle() -> str:
    import math

    branches = []
    for b, r in BAND_TUNING_GRID:
        s_half = round((1.0 - 0.5 ** (1.0 / b)) ** (1.0 / r), 6)
        # validate EVERY grid entry's 50%-threshold, not just the last
        # one via the leaked loop variable
        assert math.isfinite(s_half)
        sr = _pow_tree_sql("s", r)
        qb = _pow_tree_sql(f"(1.0 - {sr})", b)
        p = f"(1.0 - {qb})"
        branches.append(f"""
        SELECT CAST({b} AS BIGINT) AS n_bands, CAST({r} AS BIGINT) AS rows_per_band,
               {s_half!r} AS s_half,
               CAST(sum(n) AS BIGINT) AS n_pairs,
               round(CAST(sum(CAST(round(n * {p}, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / sum(n), 6) AS exp_recall,
               round(CAST(sum(CAST(round(n * (1.0 - {p}), 6) AS DECIMAL(18,6)))
                     AS DOUBLE), 4) AS exp_missed_pairs
        FROM hist
        """)
    return f"""
    WITH cand AS ({_minhash_pairs_sql()}),
    hist AS (
      SELECT est_jaccard AS s, CAST(count(*) AS BIGINT) AS n
      FROM cand GROUP BY 1
    )
    SELECT * FROM ({" UNION ALL ".join(branches)}) ORDER BY n_bands
    """


@query(
    "dedup_minhash_band_tuning",
    oracle=_band_tuning_oracle(),
    doc="LSH band-plan tuning: for each (bands, rows) split of the k=8 "
    "signature, the Broder S-curve P(candidate|s) = 1-(1-s^r)^b is "
    "integrated against the observed estimated-Jaccard histogram of the "
    "current candidate pairs, emitting expected recall, expected missed "
    "pairs, and the 50%-catch similarity threshold per plan — the audit a "
    "dedup deployment reads before re-banding (more bands = more recall = "
    "more candidate volume). The histogram is |distinct est| rows (<= k/2+1 "
    "buckets, est is n_match/8), the grid is 4 constant rows; every "
    "S-curve power is a binary multiplication tree (identical IEEE "
    "rounding on both engines — no libm pow). All post-candidate work is "
    "on bounded relations; the candidate generation itself is the audited "
    "sub-quadratic LSH path (north-star dedup / calibration)",
    tags=("dedup", "text"),
)
def dedup_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = (
        dedup_minhash_pairs(spark, sf_dir)
        .groupBy(F.col("est_jaccard").alias("s"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # ONE candidate-generation pass: one aggregation branch per grid row
    # would each re-derive the full LSH candidate join (4x the dominant
    # step). Instead the
    # <= k/2+1 row histogram cross-joins the broadcast 4-row grid and a
    # literal CASE selects each plan's S-curve power tree — identical
    # per-branch IEEE expressions, selected not recomputed — then one
    # grouped aggregation emits all plans.
    grid = spark.createDataFrame(
        [
            (b, r, round((1.0 - 0.5 ** (1.0 / b)) ** (1.0 / r), 6))
            for b, r in BAND_TUNING_GRID
        ],
        "n_bands bigint, rows_per_band bigint, s_half double",
    )
    p = None
    for b, r in BAND_TUNING_GRID:
        sr = _pow_tree_col(F.col("s"), r)
        qb = _pow_tree_col(F.lit(1.0) - sr, b)
        branch = F.lit(1.0) - qb
        cond = (F.col("n_bands") == b) & (F.col("rows_per_band") == r)
        p = F.when(cond, branch) if p is None else p.when(cond, branch)
    caught = quantize(F.col("n") * p, 6)
    missed = quantize(F.col("n") * (F.lit(1.0) - p), 6)
    return (
        hist.crossJoin(F.broadcast(grid))
        .groupBy("n_bands", "rows_per_band", "s_half")
        .agg(
            F.sum("n").cast("bigint").alias("n_pairs"),
            F.round(F.sum(caught).cast("double") / F.sum("n"), 6).alias("exp_recall"),
            F.round(F.sum(missed).cast("double"), 4).alias("exp_missed_pairs"),
        )
        .orderBy("n_bands")
    )


SUBSTR_RUN_W = 5  # seed unit: shared word-5-gram (same unit as NGRAM_COV_W)
SUBSTR_RUN_MIN = 20  # report docs whose longest shared run >= this many tokens
SUBSTR_RUN_DF_CAP = 64  # drop boilerplate grams shared by more docs than this


@query(
    "dedup_substring_runs",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    g AS (
      SELECT doc_id, i AS pos,
             concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3], words[i+4]) AS gram
      FROM w, unnest(range(1, len(words) - 3)) AS t(i)
      WHERE len(words) >= {SUBSTR_RUN_W}
    ),
    keyed AS (
      SELECT gram FROM g GROUP BY gram
      HAVING count(DISTINCT doc_id) BETWEEN 2 AND {SUBSTR_RUN_DF_CAP}
    ),
    gk AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN keyed k ON g.gram = k.gram),
    seeds AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, a.pos - b.pos AS diag
      FROM gk a JOIN gk b ON b.gram = a.gram AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT da, db, diag, pa,
             pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS grp
      FROM seeds
    ),
    runs AS (
      SELECT da, db, max(pa) - min(pa) + {SUBSTR_RUN_W} AS run_len
      FROM isl GROUP BY da, db, diag, grp
    ),
    pair_best AS (SELECT da, db, max(run_len) AS run FROM runs GROUP BY da, db),
    per_doc AS (
      SELECT da AS doc_id, db AS partner, run FROM pair_best
      UNION ALL
      SELECT db AS doc_id, da AS partner, run FROM pair_best
    ),
    best AS (
      SELECT doc_id, partner, run,
             row_number() OVER (PARTITION BY doc_id ORDER BY run DESC, partner ASC) AS rn
      FROM per_doc
    )
    SELECT doc_id,
           partner AS partner_doc,
           CAST(run AS BIGINT) AS max_run
    FROM best WHERE rn = 1 AND run >= {SUBSTR_RUN_MIN}
    ORDER BY doc_id
    """,
    doc=f"exact-substring dedup tier (Lee et al. 2022 'Deduplicating Training "
    f"Data Makes Language Models Better'): per document, the LONGEST token run "
    f"shared verbatim with any other document, reported when >= {SUBSTR_RUN_MIN} "
    f"tokens (the paper gates at 50 BPE tokens at production scale). Spark-first "
    f"suffix-array replacement: seeds are shared word-{SUBSTR_RUN_W}-grams "
    f"(block keys from the same shingle stream as dedup_ngram_coverage) with a "
    f"document-frequency guard [2..{SUBSTR_RUN_DF_CAP}] that drops boilerplate "
    f"grams BEFORE the pair join — the candidate set is bounded by "
    f"df_cap^2 per gram, never corpus^2; a run of L shared tokens is L-4 "
    f"consecutive seeds on one (pair, diagonal), so the exact run length is a "
    f"gaps-and-islands window over (da, db, diag) — partitions bounded by "
    f"document length, not corpus size. Completes the dedup ladder between "
    f"dedup_ngram_coverage (how MUCH is copied) and dedup_segments (drop "
    f"copies): WHERE the longest copy is and who it is shared with",
    tags=("dedup", "pipeline"),
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    w = W.partitionBy("doc_id").orderBy("pos")
    # spread: raw text across the window's exchange, tokenize
    # post-exchange at full width (sf5 55.4 -> 54.3 s — the gram
    # self-join dominates here; sf0.1 1.55 -> 1.40 s).
    grams = (
        spread(d.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "wd"))
        .withColumn("w1", F.lead("wd", 1).over(w))
        .withColumn("w2", F.lead("wd", 2).over(w))
        .withColumn("w3", F.lead("wd", 3).over(w))
        .withColumn("w4", F.lead("wd", 4).over(w))
        .filter(F.col("w4").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.concat_ws(" ", "wd", "w1", "w2", "w3", "w4").alias("gram"),
        )
    )
    keyed = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= SUBSTR_RUN_DF_CAP))
        .select("gram")
    )
    # The df-gated gram table feeds both sides of the seed self-join;
    # unpinned, a and b each re-derived grams + keyed (8x documents
    # scans). Pinning gk fixes the plan at TWO corpus
    # scans — the induce-then-apply floor (keyed needs the df histogram
    # before gk can filter) — while materializing only the df-in-[2,cap]
    # grams, never the full gram stream (which is ~5x corpus bytes and
    # would be the wrong trade at 100 TB). fact_scale: gk is
    # CORPUS-LINEAR, and the checkpoint's size-blind stats let the
    # planner BROADCAST it into the seed self-join at every scale — at
    # sf5 a ~12M-row hash relation in every task's heap (GCLocker
    # thrash, 45 s sort tasks). The persist's accurate size stats make
    # AQE keep the broadcast only while gk is genuinely small
    # (sf5: 54 -> 23 s; the seed join becomes a shuffle join at scale).
    gk = grams.join(keyed, "gram").transform(pin, fact_scale=True)
    a = gk.select(
        F.col("doc_id").alias("da"), F.col("pos").alias("pa"), F.col("gram")
    )
    b = gk.select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"), F.col("gram")
    )
    seeds = a.join(b, "gram").filter(F.col("da") < F.col("db")).select(
        "da", "db", "pa", (F.col("pa") - F.col("pb")).alias("diag")
    )
    wd = W.partitionBy("da", "db", "diag").orderBy("pa")
    runs = (
        seeds.withColumn("grp", F.col("pa") - F.row_number().over(wd))
        .groupBy("da", "db", "diag", "grp")
        .agg((F.max("pa") - F.min("pa") + SUBSTR_RUN_W).alias("run_len"))
        .groupBy("da", "db")
        .agg(F.max("run_len").alias("run"))
    )
    per_doc = runs.select(
        F.col("da").alias("doc_id"), F.col("db").alias("partner"), "run"
    ).unionAll(
        runs.select(
            F.col("db").alias("doc_id"), F.col("da").alias("partner"), "run"
        )
    )
    wb = W.partitionBy("doc_id").orderBy(F.col("run").desc(), F.col("partner").asc())
    return (
        per_doc.withColumn("rn", F.row_number().over(wb))
        .filter((F.col("rn") == 1) & (F.col("run") >= SUBSTR_RUN_MIN))
        .select(
            "doc_id",
            F.col("partner").alias("partner_doc"),
            F.col("run").cast("bigint").alias("max_run"),
        )
        .orderBy("doc_id")
    )


SHRA_SAMPLE_MOD = 16  # judge 1/16 of the candidate union (fixed hash gate)


@query(
    "dedup_simhash_recall_audit",
    oracle=f"""
    WITH sig AS ({_simhash_sql()}),
    bands AS (
      SELECT doc_id, simhash, b AS band,
             (simhash >> (b * {SIMHASH_BAND_BITS})) & {(1 << SIMHASH_BAND_BITS) - 1} AS chunk
      FROM sig, unnest(range(0, {N_SIMHASH_BANDS})) AS t(b)
    ),
    sh_pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
               x.simhash AS sig_a, y.simhash AS sig_b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
      ) WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_HAMMING_MAX}
    ),
    mh AS ({_minhash_pairs_sql()}),
    u AS (
      SELECT coalesce(s.doc_a, m.doc_a) AS doc_a,
             coalesce(s.doc_b, m.doc_b) AS doc_b,
             s.doc_a IS NOT NULL AS in_sh,
             m.doc_a IS NOT NULL AS in_mh
      FROM sh_pairs s
      FULL OUTER JOIN (SELECT doc_a, doc_b FROM mh) m
        ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b
    ),
    judged AS (
      SELECT * FROM u
      WHERE {md5_int_sql("concat('shra|', CAST(doc_a AS VARCHAR), '|', CAST(doc_b AS VARCHAR))")} % {SHRA_SAMPLE_MOD} = 0
    ),
    w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    shd AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle
      FROM w WHERE len(words) >= 3
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shd GROUP BY doc_id),
    shared AS (
      SELECT j.doc_a, j.doc_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM judged j
      JOIN shd a ON a.doc_id = j.doc_a
      JOIN shd b ON b.doc_id = j.doc_b AND b.shingle = a.shingle
      GROUP BY j.doc_a, j.doc_b
    ),
    scored AS (
      SELECT j.in_sh, j.in_mh,
             coalesce(s.n_shared, 0) * 1.0
               / (za.sz + zb.sz - coalesce(s.n_shared, 0)) >= 0.7 AS is_true
      FROM judged j
      LEFT JOIN shared s ON s.doc_a = j.doc_a AND s.doc_b = j.doc_b
      JOIN sizes za ON za.doc_id = j.doc_a
      JOIN sizes zb ON zb.doc_id = j.doc_b
    ),
    totals AS (
      SELECT CAST(sum(CASE WHEN in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash_pairs,
             CAST(sum(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_pairs,
             CAST(count(*) AS BIGINT) AS n_union_pairs
      FROM u
    )
    SELECT t.n_simhash_pairs, t.n_minhash_pairs, t.n_union_pairs,
           CAST(count(*) AS BIGINT) AS n_judged_pairs,
           CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pairs,
           round(CAST(sum(CASE WHEN in_sh AND is_true THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(sum(CASE WHEN in_sh THEN 1 ELSE 0 END), 0), 6) AS precision_simhash,
           round(CAST(sum(CASE WHEN in_mh AND is_true THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(sum(CASE WHEN in_mh THEN 1 ELSE 0 END), 0), 6) AS precision_minhash,
           round(CAST(sum(CASE WHEN in_sh AND is_true THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0), 6) AS rel_recall_simhash,
           round(CAST(sum(CASE WHEN in_mh AND is_true THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0), 6) AS rel_recall_minhash
    FROM scored CROSS JOIN totals t
    GROUP BY t.n_simhash_pairs, t.n_minhash_pairs, t.n_union_pairs
    """,
    doc=f"SimHash-vs-MinHash fingerprint agreement audit, Henzinger 2006 "
    f"methodology: both sub-quadratic candidate machines (hamming<="
    f"{SIMHASH_HAMMING_MAX} banded SimHash; the k={N_MINHASH} LSH banded "
    f"MinHash) are scored against EXACT shingle Jaccard>=0.7 computed ONLY "
    f"on the candidate-pair UNION — candidate-then-verify, the "
    f"dedup_minhash_estimator_calibration pattern — and the verify runs on "
    f"a FIXED 1/{SHRA_SAMPLE_MOD} hash sample of the union (judged pairs), "
    f"so the expensive step is budget-bounded the way Henzinger's own "
    f"sampled judgments were: a full inverted-index truth join is "
    f"quadratic under replicated data, and verifying the UNSAMPLED union "
    f"drags every simhash candidate through the shingle join. Absolute "
    f"truth is unknowable at scale, so each "
    f"method is judged by precision and RELATIVE recall — its share of "
    f"the true pairs either method surfaced — on the judged sample; full "
    f"candidate counts stay exact. The decision readout for which "
    f"fingerprint family ships (north-star dedup)",
    tags=("dedup", "sketch"),
)
def dedup_simhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh_pairs = dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    mh_pairs = dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    u = (
        sh_pairs.withColumn("in_sh", F.lit(True))
        .join(
            mh_pairs.withColumn("in_mh", F.lit(True)),
            ["doc_a", "doc_b"],
            "full_outer",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("in_sh").isNotNull().alias("in_sh"),
            F.col("in_mh").isNotNull().alias("in_mh"),
        )
    )
    # Full-set counts are cheap (no verify); the verify join runs only
    # on the fixed 1/SHRA_SAMPLE_MOD hash sample of the union — judged
    # pairs, Henzinger-style. The union is LSH-banding-bounded, so an
    # eager checkpoint materializes it ONCE for its three consumers
    # (totals, shared, scored) — the repartition it replaces only
    # shared an Exchange per execution, and the scan audit showed
    # Catalyst still re-derived the two candidate pipelines 16x.
    u = u.transform(pin)
    totals = u.agg(
        F.sum(F.when(F.col("in_sh"), 1).otherwise(0)).cast("bigint").alias("n_simhash_pairs"),
        F.sum(F.when(F.col("in_mh"), 1).otherwise(0)).cast("bigint").alias("n_minhash_pairs"),
        F.count(F.lit(1)).cast("bigint").alias("n_union_pairs"),
    )
    gate = (
        md5_int(
            F.concat(
                F.lit("shra|"),
                F.col("doc_a").cast("string"),
                F.lit("|"),
                F.col("doc_b").cast("string"),
            )
        )
        % SHRA_SAMPLE_MOD
        == 0
    )
    judged = u.filter(gate)
    # The verify frame only ever joins to judged docs, so restrict the
    # corpus-sized shingle explode to the sample-bounded judged doc set
    # BEFORE checkpointing: one documents scan, and the materialized
    # frame is judged-docs-sized, not corpus-sized. sizes/a/b all read
    # the checkpoint (was: three independent re-derivations of the
    # explode lineage). Value-identical: sizes beyond judged docs were
    # only ever dropped by the za/zb joins.
    jdocs = (
        judged.select(F.col("doc_a").alias("doc_id"))
        .unionByName(judged.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        shingled_docs(spark, sf_dir)
        .join(jdocs, "doc_id")
        .transform(pin)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        judged.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    ns = F.coalesce(F.col("n_shared"), F.lit(0))
    scored = (
        judged.join(shared, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "in_sh",
            "in_mh",
            (ns * 1.0 / (F.col("sz_a") + F.col("sz_b") - ns) >= 0.7).alias("is_true"),
        )
    )
    t = F.col("is_true")
    tp_s = F.sum(F.when(F.col("in_sh") & t, 1).otherwise(0))
    tp_m = F.sum(F.when(F.col("in_mh") & t, 1).otherwise(0))
    n_s = F.sum(F.when(F.col("in_sh"), 1).otherwise(0))
    n_m = F.sum(F.when(F.col("in_mh"), 1).otherwise(0))
    n_t = F.sum(F.when(t, 1).otherwise(0))
    return (
        scored.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_judged_pairs"),
            n_t.cast("bigint").alias("n_true_pairs"),
            F.round(tp_s.cast("double") / F.nullif(n_s, F.lit(0)), 6).alias(
                "precision_simhash"
            ),
            F.round(tp_m.cast("double") / F.nullif(n_m, F.lit(0)), 6).alias(
                "precision_minhash"
            ),
            F.round(tp_s.cast("double") / F.nullif(n_t, F.lit(0)), 6).alias(
                "rel_recall_simhash"
            ),
            F.round(tp_m.cast("double") / F.nullif(n_t, F.lit(0)), 6).alias(
                "rel_recall_minhash"
            ),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "n_simhash_pairs",
            "n_minhash_pairs",
            "n_union_pairs",
            "n_judged_pairs",
            "n_true_pairs",
            "precision_simhash",
            "precision_minhash",
            "rel_recall_simhash",
            "rel_recall_minhash",
        )
    )
