"""Text-analysis operators over the ``documents`` table — north-star
extension (beyond the reference's surface; see build brief + FIXTURES.md).

Everything here is built from JVM-side expressions (split, regexp,
aggregate over arrays) — no Python UDFs in the hot path — so the same
code whole-stage-codegens on a cluster at 100 TB. Each operator has an
exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from http_datafusion_spark.functions.hashing import md5_int_sql
from http_datafusion_spark.functions.pinning import pin
from http_datafusion_spark.plans.registry import query
from http_datafusion_spark.plans.tables import load_tables

# Stopword lists for the n-gram/stopword language heuristic. The
# documents fixture has synthetic vocab, so the heuristic is defined on
# function-word frequency *ratios* and remains fully deterministic.
_EN_STOPWORDS = ("the", "a", "and", "of", "to")


def whitespace_tokens(col: Column) -> Column:
    """Split on whitespace runs; empty string -> empty array."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda w: w != "")


def token_count(col: Column) -> Column:
    """Whitespace-token COUNT without materializing the token array:
    count of maximal non-whitespace runs == size(whitespace_tokens(col))
    (equivalence asserted in tests/test_operators_unit.py). regexp_count
    is a single codegen'd scan — no array allocation and no interpreted
    higher-order filter, which matters in-suite where GC pressure is the
    multiplier on explode-adjacent stages (measured 5.18 -> 4.55 s for
    a corpus-wide count at sf25, and less garbage besides)."""
    return F.regexp_count(col, F.lit(r"\S+"))


def bpe_ish_token_estimate(col: Column) -> Column:
    """Rough BPE token count: word-piece regex (letter runs, digit runs,
    single punctuation) — the standard ~GPT-2 pre-tokenizer shape."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))


def partitioned_docs(df: DataFrame, *cols: str) -> DataFrame:
    """(doc_id[, cols...], text) hash-partitioned by doc_id at the
    session's shuffle width — for the posexplode + window(doc_id) token
    shapes (bigram/shingle streams). The window forces this exchange
    anyway; taking it BEFORE the explode makes it carry raw text
    instead of the exploded token stream (strictly fewer bytes at every
    scale) and runs tokenize at full width instead of inside the scan
    task (one 6.6 s serial map task at sf5 became 32-way on 32
    cores, the ``shingles_of`` pattern). Explicit N because AQE would coalesce the small
    text exchange back to one partition at bench SFs. Sibling token
    streams in the same query should derive from THIS frame so the one
    exchange feeds them all."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.select("doc_id", *cols, "text").repartition(n_part, "doc_id")


def spread_docs(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Scale-ADAPTIVE spread for CPU-heavy per-row map work (tokenize /
    regex / explode): when the source scan yields fewer partitions than
    the session's parallelism — one small parquet file at bench SFs, or
    one unsplittable file in production (guide §2.5 "input skew") — the
    whole tokenize pass runs in that handful of scan tasks while the
    rest of the cluster idles (task-histogram measured: a single 6.6 s
    map task for text_token_stats at sf5). A deterministic hash
    repartition on ``key`` spreads it; the explicit width (the
    session's shuffle-partition conf) stops AQE coalescing the small
    text exchange straight back to one partition. When the scan is
    already at least core-wide (the many-file 100 TB layout), or at
    least as wide as that target, this is a NO-OP — no exchange is
    added, so it never pessimizes a parallel scan and never narrows one.
    Pass only the columns the map work needs before calling (the
    exchange carries every column given to it)."""
    width = df.rdd.getNumPartitions()
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if width >= df.sparkSession.sparkContext.defaultParallelism or width >= n_part:
        return df
    return df.repartition(n_part, key)


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]')) AS BIGINT)  AS n_bpe_tokens,
           CAST(length(text) AS BIGINT)                                                           AS n_chars,
           round(CAST(length(text) AS DOUBLE)
                 / greatest(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')), 1), 4) AS chars_per_token
    FROM documents
    """,
    doc="token counting: whitespace + BPE-ish regex tokenizer (north-star text analysis)",
    tags=("text", "bench"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # Tokenize once in its own projection — Catalyst does not
    # subexpression-eliminate the split across select-list items
    # (measured on bm25: 2.46 s vs 1.59 s at sf1 for a 4-use list).
    # spread_docs: this is a pure map query, so a narrow scan runs the
    # whole regex pass serially (sf5: one 6.6 s task). Measured on 32
    # cores: sf5 6.60 -> 2.64 s, sf0.1 0.48 -> 0.34 s.
    pre = spread_docs(d.select("doc_id", "text")).select(
        "doc_id",
        "text",
        token_count(F.col("text")).alias("n_toks"),
    )
    return pre.select(
        "doc_id",
        F.col("n_toks").cast("bigint").alias("n_ws_tokens"),
        bpe_ish_token_estimate(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.round(
            F.length("text").cast("double") / F.greatest(F.col("n_toks"), F.lit(1)), 4
        ).alias("chars_per_token"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                  w -> list_contains({list(_EN_STOPWORDS)!r}, lower(w)))) AS DOUBLE) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           n_words,
           round(n_punct / greatest(n_chars, 1), 6)              AS punct_ratio,
           round(n_stop / greatest(CAST(n_words AS DOUBLE), 1), 6) AS stopword_ratio,
           round(n_chars / greatest(CAST(n_words AS DOUBLE), 1), 4) AS avg_word_len,
           (n_words >= 5 AND n_chars / greatest(CAST(n_words AS DOUBLE), 1) BETWEEN 2 AND 12) AS passes_quality
    FROM t
    """,
    doc="quality scoring: length/punctuation/stopword ratios + pass flag (north-star text analysis)",
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    stop_arr = F.array(*[F.lit(w) for w in _EN_STOPWORDS])
    # split once (see text_token_stats note)
    d = d.select("doc_id", "text", whitespace_tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n_chars = F.length("text").cast("double")
    n_words = F.size(toks).cast("bigint")
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?,;:]"), F.lit(0))).cast("double")
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, F.lower(w)))).cast("double")
    n_words_d = n_words.cast("double")
    avg_word_len = n_chars / F.greatest(n_words_d, F.lit(1.0))
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1.0)), 6).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_words_d, F.lit(1.0)), 6).alias("stopword_ratio"),
        F.round(avg_word_len, 4).alias("avg_word_len"),
        ((n_words >= 5) & avg_word_len.between(2.0, 12.0)).alias("passes_quality"),
    )


@query(
    "text_language_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> '') AS words
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(words, w -> list_contains({list(_EN_STOPWORDS)!r}, w))) AS DOUBLE)
               / greatest(len(words), 1) AS en_score,
             CAST(len(list_filter(words, w -> length(w) > 6)) AS DOUBLE)
               / greatest(len(words), 1) AS long_word_ratio
      FROM t
    )
    SELECT doc_id, lang,
           round(en_score, 6) AS en_score,
           round(long_word_ratio, 6) AS long_word_ratio,
           CASE WHEN en_score >= 0.05 THEN 'en-like'
                WHEN long_word_ratio >= 0.4 THEN 'agglutinative-like'
                ELSE 'other' END AS lang_guess
    FROM scored
    """,
    doc="language-ID heuristic: function-word + word-shape n-gram scores (north-star text analysis)",
    tags=("text",),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # split once (see text_token_stats note)
    d = d.select("doc_id", "lang", whitespace_tokens(F.lower(F.col("text"))).alias("lw"))
    words = F.col("lw")
    stop_arr = F.array(*[F.lit(w) for w in _EN_STOPWORDS])
    denom = F.greatest(F.size(words), F.lit(1)).cast("double")
    en_score = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).cast("double") / denom
    long_ratio = F.size(F.filter(words, lambda w: F.length(w) > 6)).cast("double") / denom
    return d.select(
        "doc_id",
        "lang",
        F.round(en_score, 6).alias("en_score"),
        F.round(long_ratio, 6).alias("long_word_ratio"),
        F.when(en_score >= 0.05, "en-like")
        .when(long_ratio >= 0.4, "agglutinative-like")
        .otherwise("other")
        .alias("lang_guess"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))            AS fp_md5,
           CAST(concat('0x', substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15)) AS BIGINT)
                                                                               AS fp_int,
           substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 8) AS fp_short
    FROM documents
    """,
    doc="document fingerprinting: normalized-text digest, 60-bit int form (north-star text analysis)",
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.hashing import md5_int

    d = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        md5_int(norm).alias("fp_int"),
        F.substring(F.md5(norm), 1, 8).alias("fp_short"),
    )


@query(
    "text_per_source_profile",
    oracle="""
    SELECT source, lang,
           CAST(count(*) AS BIGINT)                  AS n_docs,
           CAST(sum(n_chars) AS BIGINT)              AS total_chars,
           round(avg(CAST(n_chars AS DOUBLE)), 4)    AS avg_chars,
           round(median(CAST(n_chars AS DOUBLE)), 1) AS median_chars
    FROM documents
    GROUP BY source, lang
    """,
    doc="corpus profiling: per-source/lang document statistics (north-star text analysis)",
    tags=("text",),
)
def text_per_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        F.round(F.median(F.col("n_chars").cast("double")), 1).alias("median_chars"),
    )


@query(
    "text_top_bigrams",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '') AS words FROM documents
    ), bg AS (
      SELECT lower(words[i]) || ' ' || lower(words[i + 1]) AS bigram
      FROM w, unnest(range(1, len(words))) AS t(i)
      WHERE len(words) >= 2
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS n
    FROM bg
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
    doc="corpus-level top-k frequent bigrams (contamination/boilerplate screening): map-side explode + partial-agg + TakeOrdered — scan-shaped at 100 TB (north-star text)",
    tags=("text",),
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode + window lead (codegen) rather than a HOF transform,
    same as the MinHash shingle stage; count + top-k fuse into partial
    aggregation and TakeOrderedAndProject — no global sort."""
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    w = W.partitionBy("doc_id").orderBy("pos")
    words = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    # partitioned_docs: text crosses the window's exchange raw;
    # tokenize runs post-exchange at full width (sf5 6.67 -> 1.27 s).
    return (
        partitioned_docs(d)
        .select("doc_id", F.posexplode(words).alias("pos", "w"))
        .withColumn("w1", F.lead("w", 1).over(w))
        .filter(F.col("w1").isNotNull())
        .select(F.concat_ws(" ", F.lower("w"), F.lower("w1")).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


REP_FLAG_RATIO = 0.2  # >20% repeated 3-grams => repetitious doc


@query(
    "text_repetition",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ), t AS (
      SELECT doc_id, CAST(len(words) - 2 AS BIGINT) AS n_shingles
      FROM w WHERE len(words) >= 3
    ), dd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct FROM (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(words) - 1),
                      i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))) AS shingle
        FROM w WHERE len(words) >= 3
      ) GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_shingles, dd.n_distinct,
           round(CAST(1 AS DOUBLE) - CAST(dd.n_distinct AS DOUBLE) / t.n_shingles, 6) AS rep_ratio,
           (CAST(1 AS DOUBLE) - CAST(dd.n_distinct AS DOUBLE) / t.n_shingles)
             > CAST({REP_FLAG_RATIO} AS DOUBLE) AS flagged
    FROM t JOIN dd ON t.doc_id = dd.doc_id
    """,
    doc=f"repetition detection (Gopher-style quality rule): fraction of repeated word-3-grams per doc, flag > {REP_FLAG_RATIO}; total count is computed from the word count (no explode), only the distinct count aggregates — one shuffle (north-star text analysis)",
    tags=("text",),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import shingled_docs

    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = whitespace_tokens(F.col("text"))
    totals = (
        d.select("doc_id", (F.size(words) - 2).cast("bigint").alias("n_shingles"))
        .filter(F.col("n_shingles") >= 1)
    )
    distincts = (
        shingled_docs(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    rep = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_shingles")
    return (
        totals.join(distincts, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_distinct",
            F.round(rep, 6).alias("rep_ratio"),
            (rep > REP_FLAG_RATIO).alias("flagged"),
        )
    )


# PII patterns kept to the regex subset both Java (Spark) and RE2
# (DuckDB) treat identically: character classes, bounded quantifiers,
# ASCII \b — no lookaround, no backreferences.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "pii_redact",
    oracle=f"""
    WITH wt AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text
                  ELSE text || ' reach ' || source || '_' || CAST(doc_id AS VARCHAR)
                       || '@example.com tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' ip 10.' || CAST(doc_id % 200 AS VARCHAR)
                       || '.' || CAST((doc_id * 3) % 200 AS VARCHAR)
                       || '.' || CAST(doc_id % 250 AS VARCHAR)
             END AS full_text
      FROM documents
    ), red AS (
      SELECT doc_id, full_text,
             regexp_replace(regexp_replace(regexp_replace(full_text,
                 '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_IP}', '<IP>', 'g') AS clean
      FROM wt
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(full_text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(full_text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(full_text, '{_PII_IP}')) AS BIGINT) AS n_ips,
           CAST(length(clean) AS BIGINT) AS clean_len,
           md5(clean) AS clean_md5
    FROM red
    """,
    doc="PII redaction (cleaning-pipeline stage): count + scrub emails / phone "
    "numbers / IPv4 addresses with engine-portable regexes, emit the redacted "
    "fingerprint. The fixture text is synthetic word soup, so deterministic "
    "contact strings are appended to 2/3 of the docs first — the operator under "
    "test is the regex scrub itself, a pure map (codegen'd, no shuffle, no UDF). "
    "(north-star text analysis)",
    tags=("text", "pipeline"),
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    did = F.col("doc_id")
    contact = F.concat(
        F.lit(" reach "),
        F.col("source"),
        F.lit("_"),
        did.cast("string"),
        F.lit("@example.com tel 555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        (did % 200).cast("string"),
        F.lit("."),
        ((did * 3) % 200).cast("string"),
        F.lit("."),
        (did % 250).cast("string"),
    )
    full = F.when(did % 3 == 0, F.col("text")).otherwise(F.concat(F.col("text"), contact))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(full, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
        ),
        _PII_IP,
        "<IP>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(full, F.lit(_PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(full, F.lit(_PII_PHONE)).cast("bigint").alias("n_phones"),
        F.regexp_count(full, F.lit(_PII_IP)).cast("bigint").alias("n_ips"),
        F.length(clean).cast("bigint").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


RARE_DF_MAX = 2  # a word is "rare" if it appears in <= 2 documents


@query(
    "text_rare_words",
    oracle=f"""
    WITH dw AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')) AS word
      FROM documents
    ), df AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY word
    )
    SELECT dw.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_words,
           CAST(sum(CASE WHEN df.df <= {RARE_DF_MAX} THEN 1 ELSE 0 END) AS BIGINT) AS n_rare_words,
           round(CAST(sum(CASE WHEN df.df <= {RARE_DF_MAX} THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS rare_frac
    FROM dw JOIN df ON dw.word = df.word
    GROUP BY dw.doc_id
    """,
    doc=f"rare-word quality signal: corpus-wide document frequency per word, joined back to "
    f"score each doc by its fraction of rare words (df <= {RARE_DF_MAX}) — the TF-IDF-shaped "
    f"two-pass (corpus statistic -> per-doc score) kept log-free so both engines compute it "
    f"exactly. The df table is a partial-agg groupBy on word; the score join shuffles on "
    f"word (or broadcasts when the vocabulary is small) — both scale-safe; OOV/typo-heavy "
    f"docs surface with high rare_frac (north-star text analysis)",
    tags=("text",),
)
def text_rare_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # (doc, word) feeds BOTH the df aggregation and the score join; the
    # distinct's Exchange is reused per execution (measured 4.8 s ->
    # 1.6 s at sf1 when the double pass was first removed — exchange
    # reuse keeps that win without .cache()'s cross-invocation pinning).
    dw = (
        spread_docs(d.select("doc_id", "text"))
        .select("doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("word"))
        .distinct()
    )
    df_tab = dw.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    rare = F.sum(F.when(F.col("df") <= RARE_DF_MAX, 1).otherwise(0))
    return (
        dw.join(df_tab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_words"),
            rare.cast("bigint").alias("n_rare_words"),
            F.round(rare.cast("double") / F.count(F.lit(1)), 6).alias("rare_frac"),
        )
    )


VOCAB_SIZE = 200  # top-V vocabulary; V bounds all driver-side state


@query(
    "vocab_build",
    oracle=f"""
    WITH w AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS word
      FROM documents
    ), f AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY word
    ), tot AS (
      SELECT CAST(sum(freq) AS BIGINT) AS total FROM f
    ), top AS (
      SELECT word, freq FROM f ORDER BY freq DESC, word LIMIT {VOCAB_SIZE}
    )
    SELECT CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT) AS vocab_id,
           word, freq,
           round(CAST(sum(freq) OVER (ORDER BY freq DESC, word ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / total, 6) AS cum_coverage
    FROM top CROSS JOIN tot
    """,
    doc=f"tokenizer vocabulary induction: corpus word frequencies -> contiguous ids by "
    f"rank for the top {VOCAB_SIZE} words, with cumulative corpus-coverage fraction. "
    f"The frequency count is a partial-agg shuffle; the rank/cumsum window runs over "
    f"the LIMIT-{VOCAB_SIZE} result only, so the single-partition window is bounded "
    f"by vocabulary size, never corpus size (TakeOrdered feeds it) — the corpus-total "
    f"is a 1-row broadcast (north-star text analysis)",
    tags=("text", "pipeline"),
)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = spread_docs(d.select("doc_id", "text")).select(
        F.explode(whitespace_tokens(F.col("text"))).alias("word")
    )
    f = words.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    tot = f.agg(F.sum("freq").cast("bigint").alias("total"))
    top = f.orderBy(F.desc("freq"), "word").limit(VOCAB_SIZE)
    w = W.orderBy(F.desc("freq"), "word")
    cum = F.sum("freq").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return top.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(w).cast("bigint").alias("vocab_id"),
        "word",
        "freq",
        F.round(cum.cast("double") / F.col("total"), 6).alias("cum_coverage"),
    )


_WSPLIT_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"


@query(
    "text_tfidf_topterm",
    oracle=f"""
    WITH dw AS (
      SELECT doc_id, unnest({_WSPLIT_SQL}) AS word FROM documents
    ), tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM dw GROUP BY doc_id, word
    ), dfreq AS (
      SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM dw GROUP BY word
    ), n AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.word,
             round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tfidf_r,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * ln(n.n_docs / dfreq.df), 6) DESC, tf.word
             ) AS rk
      FROM tf JOIN dfreq USING (word) CROSS JOIN n
    )
    SELECT doc_id, word AS top_term, tfidf_r FROM scored WHERE rk = 1
    """,
    doc="classic TF-IDF, per-doc top term: corpus pass for document frequency "
    "(hint-free score join — vocab grows with the corpus, AQE decides), per-doc term counts, "
    "tf * ln(N/df) ranked within each doc (rounded-then-ranked so the 6dp hash "
    "convention also fixes the rank order; ln on doubles agrees with DuckDB to "
    "~1e-12, far inside the 1e-6 rounding step). Shuffles: tf groupBy(doc,word), "
    "df groupBy(word), rank window on doc_id — all key-partitioned, scale-safe; "
    "the (doc,word) explode is cached once for both branches (the rare-words "
    "lesson) (north-star text analysis)",
    tags=("text", "pipeline", "bench"),
)
def text_tfidf_topterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    # Explicit Exchange (not .cache()) so the exploded token stream is
    # computed once per execution via exchange reuse — zero pinned
    # state, honest re-execution on every run.
    # The repartition comes BEFORE the explode (the shingles_of
    # pattern): the exchange needs hashpartitioning(doc_id) either
    # way, but it carries raw text instead of the exploded token
    # stream (fewer bytes at every scale) and tokenize+explode runs at
    # full shuffle width instead of inside the scan task; explicit N
    # stops AQE coalescing the small text exchange back to one
    # partition. Measured sf5 8.76 -> 2.58 s, sf0.1 0.94 -> 0.72 s.
    _n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    dw = (
        d.select("doc_id", "text")
        .repartition(_n_part, "doc_id")
        .select("doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("word"))
    )
    tf = dw.groupBy("doc_id", "word").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    dfreq = dw.groupBy("word").agg(F.count_distinct("doc_id").cast("bigint").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tfidf = F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
    # dfreq is the full vocabulary DF table — corpus-growing (Heaps' law;
    # web-scale vocab is billions of terms from URLs/typos/hashes), so it
    # must NOT carry a baked-in broadcast hint AQE can't demote. Plain
    # join: AQE still broadcasts it at small scale, shuffle-joins at 100 TB.
    # n is a 1-row aggregate — the one side that should always broadcast.
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "word", tfidf.alias("tfidf_r"))
    )
    # per-doc argmax as ONE aggregate — min(struct(-score, word)) gives
    # (max score, then lexicographically first word), the window's exact
    # tiebreak, without the rank window's per-partition sort. Isolated
    # same-session A/B at sf0.1 measured 0.775 -> 0.656 s, but the
    # Full-suite bench medians went 0.669 (rank window) -> 0.732 (this
    # rewrite) — the isolated gain did not reproduce in the
    # full-suite regime at sf0.1; sf1 gains are real. Kept because the
    # aggregate form avoids the per-partition sort at scale.
    # The round re-normalizes -0.0.
    return (
        scored.groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("tfidf_r")).alias("neg"), F.col("word").alias("w"))
            ).alias("b")
        )
        .select(
            "doc_id",
            F.col("b.w").alias("top_term"),
            F.round(-F.col("b.neg"), 6).alias("tfidf_r"),
        )
    )


# BM25 search: three literal query terms spanning the df spectrum of the
# synthetic vocabulary (rare / common / very common), so the idf weights
# actually differentiate. k1/b are the standard Robertson defaults.
BM25_TERMS = ("dup", "vector", "query")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 10


def _bm25_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(words, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    terms = " + ".join(
        f"(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * tf_{i} * ({BM25_K1} + 1.0)"
        f" / (tf_{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * doclen / avgdl)))"
        for i in range(len(BM25_TERMS))
    )
    matched = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(BM25_TERMS))
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS doclen,
             {tf_cols}
      FROM (SELECT doc_id, {_WSPLIT_SQL} AS words FROM documents)
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl,
             {df_cols}
      FROM base
    )
    SELECT doc_id,
           CAST({matched} AS BIGINT) AS n_terms_matched,
           round({terms}, 6) AS bm25_r
    FROM base CROSS JOIN stats
    ORDER BY round({terms}, 6) DESC, doc_id
    LIMIT {BM25_TOP}
    """


def _eq_term(term: str):
    # single-parameter lambda: a two-parameter one would make F.filter
    # pass the array index as the second argument
    return lambda w: w == F.lit(term)


@query(
    "text_bm25_search",
    oracle=_bm25_oracle(),
    doc=f"BM25 keyword search (k1={BM25_K1}, b={BM25_B}, terms={BM25_TERMS}): one "
    "map-side pass computes per-doc term frequencies and length; one tiny aggregate "
    "produces the corpus stats row (N, avgdl, per-term df) that is broadcast back; "
    "the score is a fixed-order sum of per-term contributions so both engines add "
    "in the same IEEE order, and avgdl is sum/count (integer sum, exact) rather "
    "than avg() so no engine-specific partial-sum order can leak in. Top-k is "
    "rounded-then-ordered (TakeOrderedAndProject). No explode, no per-word "
    "shuffle: tf per literal term is an array filter in the scan projection — at "
    "100 TB this is a single corpus pass plus a 1-row broadcast (north-star text "
    "analysis / retrieval)",
    tags=("text", "pipeline", "similarity", "bench"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # Split the text ONCE in its own projection: with the split inlined
    # into all four consumers Catalyst did NOT subexpression-eliminate
    # it across the select list (measured 2.46 s vs 1.59 s at sf1).
    # spread_docs: the tokenize+tf map work ran in the scan task
    # (sf5 5.53 -> 1.63 s, sf0.1 0.75 -> 0.65 s); the doc_id exchange
    # below stays narrow (6 ints/doc) at every scale.
    pre = spread_docs(d.select("doc_id", "text")).select(
        "doc_id", whitespace_tokens(F.col("text")).alias("toks")
    )
    base = pre.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("doclen"),
        *[
            F.size(F.filter(F.col("toks"), _eq_term(t))).cast("bigint").alias(f"tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    ).repartition("doc_id")
    # ^ explicit Exchange, not .cache(): the base feeds BOTH the stats
    # aggregate and the scored rows, and Catalyst's exchange reuse
    # computes the shared subtree once PER EXECUTION. A cache would pin
    # blocks across invocations and let warm bench runs skip the
    # dominant tokenize pass entirely (the count()-sink lesson).
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("doclen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).cast("double").alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )

    def term_score(i: int):
        tf = F.col(f"tf_{i}")
        df = F.col(f"df_{i}")
        idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
        return idf * tf * (BM25_K1 + 1.0) / (
            tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("doclen") / F.col("avgdl"))
        )

    score = term_score(0)
    for i in range(1, len(BM25_TERMS)):
        score = score + term_score(i)
    matched = sum(
        (F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0) for i in range(len(BM25_TERMS))),
        start=F.lit(0),
    )
    return (
        base.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            matched.cast("bigint").alias("n_terms_matched"),
            F.round(score, 6).alias("bm25_r"),
        )
        .orderBy(F.desc("bm25_r"), "doc_id")
        .limit(BM25_TOP)
    )


TOKENIZE_PREFIX = 8  # ids carried per doc in the output (bounded proof of order)


@query(
    "tokenize_to_ids",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WSPLIT_SQL} AS words FROM documents
    ), vocab AS (
      SELECT word,
             CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT) AS vocab_id
      FROM (
        SELECT word, count(*) AS freq
        FROM (SELECT unnest(words) AS word FROM w)
        GROUP BY word ORDER BY freq DESC, word LIMIT {VOCAB_SIZE}
      )
    ), tok AS (
      SELECT doc_id,
             unnest(range(1, len(words) + 1)) AS pos,
             unnest(words) AS word
      FROM w WHERE len(words) > 0
    ), ids AS (
      SELECT t.doc_id, t.pos, coalesce(v.vocab_id, 0) AS id
      FROM tok t LEFT JOIN vocab v ON t.word = v.word
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           array_to_string((list(id ORDER BY pos, id))[1:{TOKENIZE_PREFIX}], '-') AS ids_prefix
    FROM ids GROUP BY doc_id
    """,
    doc=f"tokenizer application: the vocab_build arc completed — induce the top-{VOCAB_SIZE} "
    f"vocabulary (ids by frequency rank), broadcast it to a positional token join, and emit "
    f"per-doc id sequences (OOV -> 0) with counts and the first {TOKENIZE_PREFIX} ids as an "
    f"order proof. The vocabulary is LIMIT-bounded so the broadcast is O(V) regardless of "
    f"corpus size; token order is reconstructed with array_sort(struct(pos,id)) — no "
    f"single-partition window anywhere (north-star pipeline: text -> token ids at 100 TB)",
    tags=("text", "pipeline", "bench"),
)
def tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    base = d.select("doc_id", whitespace_tokens(F.col("text")).alias("words")).filter(
        F.size("words") > 0
    )
    # The induce-then-apply shape needs the token stream twice (vocab
    # counts, then per-doc OOV flags) — two corpus passes are inherent
    # to the semantics (the vocabulary must exist before it can be
    # applied). Word-partitioning the stream makes the vocab aggregation
    # exchange-FREE (partials are already word-local) and gives the
    # apply-side join a word-partitioned input; with count(doc_id)
    # (== count(*), doc_id never null) both consumers also require the
    # same columns, keeping the exchange subtrees canonically equal so
    # Catalyst MAY feed both from one shuffle. Measured 17.6 -> 12.7 s
    # at sf5 together with the bounded-prefix rewrite below.
    # The explicit isnotnull(doc_id) is vacuous on data (doc_id is the
    # key) but load-bearing for the plan: the final inner join
    # pushes an isnotnull(doc_id) constraint into the counts branch
    # ONLY, so the two otherwise-identical token-stream subtrees no
    # longer canonicalize equal and ReuseExchange never fires — the
    # scan+tokenize+explode+shuffle ran TWICE (two 0.9 s single-task
    # map stages in the task histogram). Carrying the filter from the
    # shared frame restores the equality: one ReusedExchange, one
    # tokenize pass (sf5 12.63 -> 10.35 s, sf0.1 flat).
    tok_by_word = base.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", F.explode("words").alias("word")
    ).repartition("word")
    freq = tok_by_word.groupBy("word").agg(F.count("doc_id").alias("freq"))
    vocab = (
        freq.orderBy(F.desc("freq"), "word")
        .limit(VOCAB_SIZE)
        .select(
            "word",
            F.row_number()
            .over(W.orderBy(F.desc("freq"), "word"))
            .cast("bigint")
            .alias("vocab_id"),
        )
    )
    # The VOCAB_SIZE-bounded vocab is not pinned (it appears twice in
    # the static plan): pinning it measured sf0.1 0.93 -> 1.00 s and
    # sf5 12.6 -> 18.8 s (+49%) on 32 cores — the eager pin SERIALIZES
    # the vocab build that Spark otherwise overlaps with the main
    # stream's stages.
    # Two bounded paths instead of one collect_list-of-everything (the
    # single-path form shuffles EVERY (doc,pos,id) struct to sort per doc —
    # collect_list's partial state carries the whole token stream, and
    # folding it into the count aggregation forces the whole stream out
    # of codegen'd HashAggregate into ObjectHashAggregate, measured
    # SLOWER: 17.6 s both ways at sf5. The split:
    # (a) counts over the full token stream as plain sum/count whose
    #     map-side combine collapses token rows to one partial per
    #     (doc, task) before the shuffle, staying in HashAggregate;
    # (b) the order-proof prefix from ONLY the first TOKENIZE_PREFIX
    #     tokens, extracted with a bounded anchored regexp (cost
    #     O(prefix) per doc, not a second full split) — its
    #     collect_list carries <= 8 elements per doc.
    # Both shuffles land hash-partitioned on doc_id, so the final join
    # adds no exchange. Measured 17.6 -> 12.7 s at sf5 (BASELINE.md).
    oov = tok_by_word.join(F.broadcast(vocab), "word", "left").select(
        "doc_id", F.col("vocab_id").isNull().cast("int").alias("is_oov")
    )
    counts = oov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("is_oov").cast("bigint").alias("n_oov"),
    )
    head_pat = rf"^\s*(\S+(\s+\S+){{0,{TOKENIZE_PREFIX - 1}}})"
    head = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.regexp_extract(F.col("text"), head_pat, 1), r"\s+")
        ).alias("pos", "word"),
    ).filter(F.col("word") != "")
    # string-rendered prefix: the compare layer hashes scalars, so the
    # bounded id sequence travels as 'i1-i2-...' on both engines
    prefix = (
        head.join(F.broadcast(vocab), "word", "left")
        .select(
            "doc_id", "pos", F.coalesce(F.col("vocab_id"), F.lit(0)).cast("bigint").alias("id")
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s.getField("id").cast("string"),
                ),
                "-",
            ).alias("ids_prefix")
        )
    )
    return counts.join(prefix, "doc_id").select(
        "doc_id", "n_tokens", "n_oov", "ids_prefix"
    )


# T5-style span corruption: deterministic span masking as a DATA
# transform (the model-side part of MLM/T5 pretraining data prep).
SPAN_LEN = 3  # tokens per maskable span
MASK_PCT = 15  # percent of spans masked


@query(
    "doc_span_corruption",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WSPLIT_SQL} AS words FROM documents
    ), tok AS (
      SELECT doc_id,
             unnest(range(1, len(words) + 1)) AS pos
      FROM w WHERE len(words) > 0
    ), spans AS (
      SELECT doc_id, pos,
             CAST(floor((pos - 1) / {SPAN_LEN}) AS BIGINT) AS span_id
      FROM tok
    ), gated AS (
      SELECT doc_id, pos, span_id,
             {{h}} % 100 < {MASK_PCT} AS masked
      FROM spans
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           round(CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS mask_frac,
           CAST(count(DISTINCT CASE WHEN masked THEN span_id END) AS BIGINT)
             AS n_spans_masked,
           CAST(min(CASE WHEN masked THEN span_id END) AS BIGINT) AS first_masked_span
    FROM gated GROUP BY doc_id
    """.format(
        h="CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|', "
        f"CAST(CAST(floor((pos - 1) / {SPAN_LEN}) AS BIGINT) AS VARCHAR))), 1, 15)) AS BIGINT)"
    ),
    doc=f"T5-style span corruption as a data transform: {SPAN_LEN}-token spans, "
    f"~{MASK_PCT}% masked by an md5(doc|span) gate — deterministic (re-runnable, "
    f"parallelism-independent, same property as sample_deterministic), entirely "
    f"map-side until the per-doc audit aggregation (one keyed shuffle). Emits the "
    f"masking audit a pretraining pipeline records per document (north-star "
    f"pipeline: MLM/T5 data prep)",
    tags=("text", "pipeline", "bench"),
)
def doc_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mask gate depends only on (doc_id, span_id), so the plan
    explodes ONE ROW PER SPAN (1/SPAN_LEN of the token count) instead
    of one per token: each span row carries its own token count
    (SPAN_LEN, except the ragged tail), one md5 per span instead of
    per token — measured ~2.5x less exploded data and hash work than
    the per-token formulation, with identical per-doc audit values."""
    from http_datafusion_spark.functions.hashing import md5_int

    d = load_tables(spark, sf_dir, "documents")["documents"]
    base = d.select("doc_id", token_count(F.col("text")).alias("n")).filter(
        F.col("n") > 0
    )
    last_span = ((F.col("n") - 1) / SPAN_LEN).cast("bigint")
    spans = base.select(
        "doc_id", "n", F.explode(F.sequence(F.lit(0).cast("bigint"), last_span)).alias("span_id")
    )
    span_tokens = F.least(F.lit(SPAN_LEN).cast("bigint"), F.col("n") - F.col("span_id") * SPAN_LEN)
    masked = (
        md5_int(
            F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("span_id").cast("string"))
        )
        % 100
        < MASK_PCT
    )
    gated = spans.select("doc_id", "n", "span_id", span_tokens.alias("stok"), masked.alias("masked"))
    n_masked = F.sum(F.when(F.col("masked"), F.col("stok")).otherwise(0))
    return (
        gated.groupBy("doc_id", "n")
        .agg(
            n_masked.cast("bigint").alias("n_masked"),
            F.round(n_masked.cast("double") / F.col("n"), 6).alias("mask_frac"),
            F.sum(F.when(F.col("masked"), 1).otherwise(0)).cast("bigint").alias("n_spans_masked"),
            F.min(F.when(F.col("masked"), F.col("span_id")))
            .cast("bigint")
            .alias("first_masked_span"),
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_tokens"),
            "n_masked",
            "mask_frac",
            "n_spans_masked",
            "first_masked_span",
        )
    )


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH dw AS (
      SELECT doc_id, unnest({_WSPLIT_SQL}) AS word FROM documents
    ), counts AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c FROM dw GROUP BY word
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS total FROM dw
    ), scored AS (
      SELECT dw.doc_id,
             CAST(round(-ln(counts.c * 1.0 / n.total), 6) AS DECIMAL(18,6)) AS nll
      FROM dw JOIN counts USING (word) CROSS JOIN n
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(CAST(sum(nll) AS DOUBLE) / count(*), 4) AS avg_nll
    FROM scored
    GROUP BY doc_id
    """,
    doc="unigram LM negative-log-likelihood per doc (the KenLM-style perplexity "
    "proxy, CCNet/Gopher-adjacent quality signal): corpus pass for unigram "
    "counts, per-token -ln p(w) joined back, averaged per doc. Per-token nll "
    "rounds to 6dp then sums in exact DECIMAL, so the per-doc mean is "
    "independent of partial-aggregation order; high avg_nll = surprising/junk "
    "text (north-star text analysis)",
    tags=("text",),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass shape shared with TF-IDF/rare-words. No ``.cache()`` of
    the token stream: pinning a full-corpus explode in executor storage
    leaks across repeated invocations (it was never unpersisted) and is
    the wrong trade at 100 TB — re-splitting text is a cheap map,
    caching the stream is cluster memory. The token total comes from
    summing the per-word counts, so the corpus splits exactly twice
    (counts pass + score pass) with zero pinned storage. The score join
    carries NO broadcast hint: the (word, count) table is the full
    vocabulary, which GROWS with the corpus (this repo's own
    text_heaps_law_fit measures it) — a baked-in hint AQE cannot demote
    is an executor OOM at web scale. AQE still broadcasts it when
    runtime stats say it's small."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    dw = spread_docs(d.select("doc_id", "text")).select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("word")
    )
    counts = dw.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    n = counts.agg(F.sum("c").cast("bigint").alias("total"))
    nll = F.round(-F.log(F.col("c") * 1.0 / F.col("total")), 6).cast("decimal(18,6)")
    return (
        dw.join(counts, "word")
        .crossJoin(F.broadcast(n))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 4).alias("avg_nll"),
        )
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH dc AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS ch FROM documents
    ), cnt AS (
      SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM dc GROUP BY doc_id, ch
    ), tot AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id
    ), terms AS (
      SELECT cnt.doc_id,
             CAST(round(-(c * 1.0 / n) * log2(c * 1.0 / n), 6) AS DECIMAL(18,6)) AS term,
             n
      FROM cnt JOIN tot USING (doc_id)
    )
    SELECT doc_id,
           CAST(max(n) AS BIGINT)              AS n_chars_split,
           round(CAST(sum(term) AS DOUBLE), 4) AS char_entropy
    FROM terms
    GROUP BY doc_id
    """,
    doc="Shannon character entropy per doc (the gibberish/base64/compressed-junk "
    "detector in C4/Gopher-family filter stacks): char histogram -> -sum p*log2(p). "
    "Per-char terms round to 6dp then sum in exact DECIMAL (order-independent); "
    "per-doc term count is alphabet-bounded (~100), so the (doc, char) shuffle "
    "carries tiny groups (north-star text analysis)",
    tags=("text",),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    dc = spread_docs(d.select("doc_id", "text")).select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    )
    cnt = dc.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    term = F.round(-p * F.log2(p), 6).cast("decimal(18,6)")
    return (
        cnt.join(tot, "doc_id")
        .select("doc_id", term.alias("term"), "n")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_chars_split"),
            F.round(F.sum("term").cast("double"), 4).alias("char_entropy"),
        )
    )


# ------------------------------------------------ OOV coverage per source

OOV_VOCAB_SIZE = 20  # deliberately < corpus vocabulary so OOV is non-trivial


@query(
    "vocab_coverage_oov",
    oracle=f"""
    WITH w AS (
      SELECT source, unnest({_WSPLIT_SQL}) AS word FROM documents
    ), vocab AS (
      SELECT word FROM (
        SELECT word, count(*) AS freq FROM w GROUP BY word
        ORDER BY freq DESC, word LIMIT {OOV_VOCAB_SIZE}
      )
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (v.word IS NULL) AS BIGINT) AS n_oov,
           round(count(*) FILTER (v.word IS NULL) * 1.0 / count(*), 6) AS oov_rate
    FROM w LEFT JOIN vocab v USING (word)
    GROUP BY source
    """,
    doc=f"out-of-vocabulary coverage audit: induce the top-{OOV_VOCAB_SIZE} vocabulary "
    "(freq-desc, word tiebreak — the vocab_build ranking), then measure each source's "
    "token-level OOV rate against it — the per-domain check run before committing a "
    "tokenizer vocab, since a source with high OOV trains badly and a vocab built on "
    "one domain silently taxes the others. The vocab is top-k-bounded and broadcast; "
    "tokens stream through a map-side broadcast-hash left join + one partial-agg "
    "shuffle on source — the corpus never re-shuffles (north-star text analysis)",
    tags=("text", "pipeline"),
)
def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    w = spread_docs(d.select("doc_id", "source", "text")).select(
        "source", F.explode(whitespace_tokens(F.col("text"))).alias("word")
    )
    vocab = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "word")
        .limit(OOV_VOCAB_SIZE)
        .select(F.col("word").alias("v_word"))
    )
    oov = F.col("v_word").isNull()
    return (
        w.join(F.broadcast(vocab), F.col("word") == F.col("v_word"), "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.count(F.when(oov, 1)).cast("bigint").alias("n_oov"),
            F.round(F.count(F.when(oov, 1)) * 1.0 / F.count(F.lit(1)), 6).alias("oov_rate"),
        )
    )


# --------------------------------------------------- n-gram novelty score

@query(
    "ngram_novelty_score",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, source,
             unnest(list_transform(range(1, len(words) - 1),
                    i -> concat_ws(' ', words[i], words[i+1], words[i+2]))) AS shingle
      FROM w WHERE len(words) >= 3
    ), firsts AS (
      SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
    ), per_doc AS (
      SELECT s.doc_id, s.source,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(count(*) FILTER (f.first_doc = s.doc_id) AS BIGINT) AS n_novel
      FROM sh s JOIN firsts f ON s.shingle = f.shingle
      GROUP BY s.doc_id, s.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                        AS n_docs,
           round(avg(n_novel * 1.0 / n_shingles), 6)       AS avg_novelty,
           round(min(n_novel * 1.0 / n_shingles), 6)       AS min_novelty
    FROM per_doc GROUP BY source
    """,
    doc="n-gram novelty scoring: a document's novelty is the fraction of its distinct "
    "word-3-gram shingles whose corpus-wide FIRST occurrence (min doc_id — ingestion "
    "order) is this document — near-1 means fresh content, near-0 means the document "
    "is assembled from n-grams the corpus has already seen (the soft-duplication "
    "signal used to down-weight boilerplate-heavy sources during mixing). Shingle "
    "explode is map-side; first-seen is one partial-agg shuffle on shingle; the "
    "join back is co-partitioned on shingle, then one bounded agg per source. At "
    "100 TB the shingle stream is the big intermediate and it shuffles exactly "
    "twice, never joins all-pairs (north-star text analysis / dedup-adjacent)",
    tags=("text", "dedup"),
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.operators.dedup import shingles_of

    d = load_tables(spark, sf_dir, "documents")["documents"]
    sh = shingles_of(d).distinct()
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    # source attaches AFTER per-doc reduction: documents is a fact table
    # (never broadcast) and both sides key on doc_id — one co-keyed join.
    per_doc = per_doc.join(d.select("doc_id", "source"), "doc_id")
    novelty = F.col("n_novel") * 1.0 / F.col("n_shingles")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg(novelty), 6).alias("avg_novelty"),
        F.round(F.min(novelty), 6).alias("min_novelty"),
    )


# ------------------------------------------- model-based quality scoring

QMODEL_DIM = 256  # hashed feature buckets (fastText-style bag of hashed tokens)


def _qmodel_weights_sql() -> str:
    """DuckDB fragment: the deterministic weight table — one row per
    hash bucket j with w_j = ((md5_int('qw|'||j) % 2001) - 1000)/1000,
    i.e. a reproducible pseudo-trained vector in [-1, 1] (3dp grid)."""
    from http_datafusion_spark.functions.hashing import md5_int_sql

    h = md5_int_sql("concat('qw|', CAST(j AS VARCHAR))")
    return f"""
    SELECT CAST(j AS BIGINT) AS j,
           CAST((({h} % 2001) - 1000) / 1000.0 AS DECIMAL(18,3)) AS w
    FROM range({QMODEL_DIM}) t(j)
    """


@query(
    "quality_model_score",
    oracle=f"""
    WITH weights AS ({_qmodel_weights_sql()}),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(concat('qb|', tok)), 1, 15)) AS BIGINT)
               % {QMODEL_DIM} AS j
      FROM toks
    ),
    scored AS (
      SELECT f.doc_id,
             CAST(count(*) AS BIGINT)      AS n_tokens,
             CAST(sum(w.w) AS DECIMAL(18,3)) AS score_sum
      FROM feats f JOIN weights w USING (j)
      GROUP BY f.doc_id
    )
    SELECT doc_id, n_tokens,
           round(CAST(score_sum AS DOUBLE), 3) AS score_sum,
           round(CAST(score_sum AS DOUBLE) / n_tokens, 6) AS quality_score,
           (CAST(score_sum AS DOUBLE) / n_tokens > 0.0)   AS keep
    FROM scored
    """,
    doc="model-based quality scoring — the fastText-style linear classifier that "
    "is the standard LLM-corpus quality gate (complements the heuristic "
    "text_quality_score): each token hashes to one of "
    f"{QMODEL_DIM} feature buckets, a deterministic pseudo-trained weight vector "
    "(md5-derived, 3dp decimal grid so sums are exact and order-independent) is "
    "joined in as a BROADCAST — the weight table is model-sized, constant in the "
    "data, the one relation that should always broadcast — and the per-doc score "
    "is the mean bucket weight; keep = score > 0 (a production gate applies a "
    "monotone sigmoid, so thresholding the linear score is equivalent and stays "
    "engine-exact). Plan: one documents scan, map-side hash, broadcast weight "
    "join, one per-doc partial-agg shuffle — no Python anywhere "
    "(north-star text analysis / pipeline quality gate)",
    tags=("text", "pipeline"),
)
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.hashing import md5_int

    d = load_tables(spark, sf_dir, "documents")["documents"]
    weights = spark.range(QMODEL_DIM).select(
        F.col("id").alias("j"),
        (((md5_int(F.concat(F.lit("qw|"), F.col("id").cast("string"))) % 2001) - 1000)
         / 1000.0).cast("decimal(18,3)").alias("w"),
    )
    toks = spread_docs(d.select("doc_id", "text")).select(
        "doc_id",
        F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("tok"),
    )
    feats = toks.select(
        "doc_id",
        (md5_int(F.concat(F.lit("qb|"), F.col("tok"))) % QMODEL_DIM).alias("j"),
    )
    scored = (
        feats.join(F.broadcast(weights), "j")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("w").cast("decimal(18,3)").alias("score_sum"),
        )
    )
    mean = F.col("score_sum").cast("double") / F.col("n_tokens")
    # score_sum is summed on an exact 3dp decimal grid (order-independent),
    # then RENDERED as a rounded double: the driver hashes stringified
    # values, and Spark's DECIMAL(18,3) prints '3.410' where DuckDB's
    # decimal prints '3.41' — numerically identical, hash-divergent
    # (plans/compare.py's render check catches it). Registry convention
    # (plans/registry.py:12-13): floating outputs are rounded doubles.
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("score_sum").cast("double"), 3).alias("score_sum"),
        F.round(mean, 6).alias("quality_score"),
        (mean > 0.0).alias("keep"),
    )


# --------------------------------------- inverted index (serving layout)

TINDEX_BUCKETS = 16  # term-hash partition dirs of the postings store


def tindex_store_path(sf_dir: str) -> str:
    """Materialization dir for the inverted index of one sf_dir (under
    /tmp; fingerprint+pid-suffixed — see plans/tables.scratch_path)."""
    from http_datafusion_spark.plans.tables import scratch_path

    return scratch_path("tindex", sf_dir, "documents")


def write_inverted_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the postings store PARTITIONED BY term-hash bucket —
    the text-retrieval serving layout (the lexical twin of
    write_embedding_index): term -> (df, sorted posting list). A query's
    terms hash to a handful of buckets, so serving a query reads only
    those directories — at 100 TB the lookup touches ~|terms|/BUCKETS of
    the store, never all of it. Postings are sort_array'd so the stored
    list is deterministic regardless of shuffle order."""
    from http_datafusion_spark.functions.hashing import md5_int

    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select(
        "doc_id", F.explode_outer(whitespace_tokens(F.lower(F.col("text")))).alias("term")
    ).where(F.col("term").isNotNull())
    postings = (
        toks.distinct()  # one posting per (term, doc)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
            F.sum("doc_id").cast("bigint").alias("doc_checksum"),
        )
        .withColumn("bucket", md5_int(F.concat(F.lit("ti|"), F.col("term"))) % TINDEX_BUCKETS)
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(path)


@query(
    "text_inverted_index_roundtrip",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS term
      FROM documents
    )
    SELECT term,
           CAST(count(*) AS BIGINT)    AS df,
           CAST(sum(doc_id) AS BIGINT) AS doc_checksum,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM toks
    WHERE term IN {tuple(BM25_TERMS)!r}
    GROUP BY term
    """,
    doc="materialized TEXT-retrieval serving layout end-to-end (lexical twin of "
    "embedding_index_roundtrip): the inverted index — term, df, sorted posting "
    "list, doc-id checksum — is WRITTEN partitioned by term-hash bucket "
    f"({TINDEX_BUCKETS} dirs), then the BM25 query terms {BM25_TERMS} are read "
    "back as a PARTITION-PRUNED scan (their buckets are driver-side constants of "
    "the terms, the store is touched only at those directories — plan-asserted in "
    "tests/test_plans.py::test_inverted_index_probe_partition_pruned) and "
    "summarized per term. The oracle recomputes df/checksum from raw documents, "
    "proving the round-trip preserved every posting. At 100 TB a query reads "
    "~|terms|/buckets of the store (north-star text-retrieval scale path)",
    tags=("text", "pipeline"),
)
def text_inverted_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    path = tindex_store_path(sf_dir)
    write_inverted_index(spark, sf_dir, path)
    # A retrieval client hashes its own query terms — driver-side
    # constants, the same md5 rule the store was partitioned by.
    buckets = sorted(
        {
            int(hashlib.md5(f"ti|{t}".encode()).hexdigest()[:15], 16) % TINDEX_BUCKETS
            for t in BM25_TERMS
        }
    )
    idx = (
        spark.read.parquet(path)
        .filter(F.col("bucket").isin(buckets))  # partition-pruned
        .filter(F.col("term").isin(*BM25_TERMS))
    )
    return idx.select(
        "term",
        "df",
        "doc_checksum",
        F.element_at("postings", 1).cast("bigint").alias("first_doc"),
    )


QMODEL_LR = 0.1  # full-batch gradient-step learning rate

_QFEATS_SQL = f"""
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(concat('qb|', tok)), 1, 15)) AS BIGINT)
               % {QMODEL_DIM} AS j,
             CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2
    ),
    docn AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n FROM feats GROUP BY 1)
"""


@query(
    "quality_model_gradient",
    oracle=f"""
    WITH weights AS ({_qmodel_weights_sql()}),
    {_QFEATS_SQL},
    pred AS (
      SELECT f.doc_id,
             round(CAST(sum(f.cnt * w.w) AS DOUBLE) / max(d.n), 6) AS pred
      FROM feats f JOIN weights w USING (j) JOIN docn d USING (doc_id)
      GROUP BY f.doc_id
    ),
    err AS (
      SELECT p.doc_id, p.pred - (p.doc_id % 2) AS err, d.n
      FROM pred p JOIN docn d USING (doc_id)
    ),
    terms AS (
      SELECT f.j,
             CAST(e.err AS DECIMAL(18,6)) * f.cnt AS t
      FROM feats f JOIN err e USING (doc_id)
    )
    SELECT t.j,
           CAST(count(*) AS BIGINT)                          AS n_docs,
           CAST(sum(t.t) AS DOUBLE)                          AS grad,
           CAST(w.w AS DOUBLE)                               AS w_old,
           round(CAST(w.w AS DOUBLE)
                 - {QMODEL_LR} * CAST(sum(t.t) AS DOUBLE), 6) AS w_new
    FROM terms t JOIN weights w ON t.j = w.j
    GROUP BY t.j, w.w
    """,
    doc="one full-batch gradient step of the quality model — TRAINING the "
    "fastText-style classifier as pure relational algebra (squared loss over "
    "count features, so the step is engine-exact; a production trainer swaps in "
    "the logistic gradient, same plan shape): per (doc, bucket) token counts x "
    "per-doc prediction error produce per-bucket gradient terms computed in "
    "EXACT decimal — err is a 6dp rational, cnt an integer, so t = "
    "decimal(err)*cnt carries no double rounding and the decimal sum is "
    "order-independent — and the broadcast weight vector updates as "
    f"w - {QMODEL_LR}*g. Labels are a deterministic doc_id parity (the harness "
    "stand-in for real labels). Plan: the per-(doc, bucket) counts shuffle on "
    "their group key, co-key on doc_id for pred/err, and the gradient agg "
    "shuffles on bucket (256 groups) — every exchange is keyed by doc or "
    "bucket, nothing global; weights stay broadcast (plan-asserted: no "
    "SortMergeJoin), and the model (256 rows) never leaves broadcast range "
    "(north-star pipeline / text quality; completes the quality_model_score arc)",
    tags=("text", "pipeline"),
)
def quality_model_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.hashing import md5_int

    d = load_tables(spark, sf_dir, "documents")["documents"]
    weights = spark.range(QMODEL_DIM).select(
        F.col("id").alias("j"),
        (((md5_int(F.concat(F.lit("qw|"), F.col("id").cast("string"))) % 2001) - 1000)
         / 1000.0).cast("decimal(18,3)").alias("w"),
    )
    toks = spread_docs(d.select("doc_id", "text")).select(
        "doc_id", F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("tok")
    )
    feats = (
        toks.select(
            "doc_id",
            (md5_int(F.concat(F.lit("qb|"), F.col("tok"))) % QMODEL_DIM).alias("j"),
        )
        .groupBy("doc_id", "j")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    pred = (
        feats.join(F.broadcast(weights), "j")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("cnt") * F.col("w")).cast("double") / F.sum("cnt"), 6
            ).alias("pred"),
            F.sum("cnt").cast("bigint").alias("n"),
        )
    )
    err = pred.select(
        "doc_id", (F.col("pred") - (F.col("doc_id") % 2)).alias("err"), "n"
    )
    terms = feats.join(err, "doc_id").select(
        "j",
        (F.col("err").cast("decimal(18,6)") * F.col("cnt")).alias("t"),
    )
    grad = F.sum("t").cast("double")
    return (
        terms.groupBy("j")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            grad.alias("grad"),
        )
        .join(F.broadcast(weights), "j")
        .select(
            "j",
            "n_docs",
            "grad",
            F.col("w").cast("double").alias("w_old"),
            F.round(
                F.col("w").cast("double") - QMODEL_LR * F.col("grad"), 6
            ).alias("w_new"),
        )
    )


# ----------------------------------------------- BPE merge step (training)

_BPE_VOCAB_SQL = """
    vocab AS (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS wf
      FROM (
        SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
      ) GROUP BY 1 HAVING length(tok) >= 2
    ),
    seqs AS (
      SELECT word, wf, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq
      FROM vocab
    )
"""


def _bpe_pairs_sql(src: str) -> str:
    """DuckDB: adjacent symbol pairs of the space-joined sequences in
    CTE ``src`` (columns word, wf, seq), weighted by word frequency."""
    return f"""
      SELECT concat(arr[i], ' ', arr[i + 1]) AS pair, CAST(sum(wf) AS BIGINT) AS cnt
      FROM (SELECT wf, string_split(seq, ' ') AS arr FROM {src}),
           unnest(range(1, len(arr))) AS t(i)
      WHERE len(arr) >= 2
      GROUP BY 1
    """


@query(
    "bpe_first_merge",
    oracle=f"""
    WITH {_BPE_VOCAB_SQL},
    pairs AS ({_bpe_pairs_sql("seqs")}),
    top1 AS (SELECT pair, cnt FROM pairs ORDER BY cnt DESC, pair LIMIT 1),
    before AS (
      SELECT CAST(count(*) AS BIGINT) AS n_distinct_pairs,
             CAST(sum(cnt) AS BIGINT) AS n_pairs_total
      FROM pairs
    ),
    merged AS (
      SELECT s.word, s.wf,
             trim(replace(replace(concat(' ', s.seq, ' '),
                                  concat(' ', t.pair, ' '),
                                  concat(' ', replace(t.pair, ' ', ''), ' ')),
                          concat(' ', t.pair, ' '),
                          concat(' ', replace(t.pair, ' ', ''), ' '))) AS seq
      FROM seqs s CROSS JOIN top1 t
    ),
    pairs2 AS ({_bpe_pairs_sql("merged")}),
    top2 AS (SELECT pair AS next_pair, cnt AS next_cnt FROM pairs2
             ORDER BY cnt DESC, pair LIMIT 1),
    after AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_pairs_after FROM pairs2)
    SELECT t.pair AS merge_pair, t.cnt AS merge_count,
           b.n_distinct_pairs, b.n_pairs_total,
           t2.next_pair, t2.next_cnt, a.n_pairs_after
    FROM top1 t CROSS JOIN before b CROSS JOIN top2 t2 CROSS JOIN after a
    """,
    doc="one BPE merge iteration — the tokenizer-TRAINING step (Sennrich et al.) "
    "as pure relational algebra: words become space-joined symbol sequences, "
    "adjacent-pair counts weighted by corpus word frequency pick the argmax "
    "merge (count desc, pair tiebreak), the merge is applied corpus-wide "
    "(double delimiter-safe replace catches back-to-back occurrences), and the "
    "pair table is recounted — emitting the chosen merge, pre/post pair totals "
    "and the NEXT candidate, i.e. one full loop of the BPE training recurrence "
    "(vocab_build -> tokenize_to_ids complete the apply side). Plan: pair "
    "extraction is a map-side array transform over the VOCABULARY (bounded, "
    "never the corpus); the merge choice is a 1-row broadcast joined back "
    "map-side. Iterating K merges = K runs of this plan over the rewritten "
    "seqs — each O(vocab), independent of corpus size after the one token "
    "count (north-star text / tokenizer training)",
    tags=("text", "pipeline"),
)
def bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    vocab = (
        spread_docs(d.select("doc_id", "text"))
        .select(F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wf"))
        .filter(F.length("word") >= 2)
    )
    # The vocab-bounded sequence table feeds pair mining AND the merge
    # rewrite; the pair tables each feed an argmax and a total branch —
    # unpinned, the corpus explode re-derived 6x.
    # Checkpoints pin ONE corpus scan; everything below is vocab-sized
    # (the bpe_merge_train pattern one function down).
    seqs = vocab.select(
        "word", "wf", F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("seq")
    ).transform(pin)

    def pairs_of(df: DataFrame) -> DataFrame:
        arr = df.select("wf", F.split("seq", " ").alias("arr")).filter(F.size("arr") >= 2)
        p = arr.select(
            "wf",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 1),"
                    " i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1)))"
                )
            ).alias("pair"),
        )
        return p.groupBy("pair").agg(F.sum("wf").cast("bigint").alias("cnt"))

    pairs = pairs_of(seqs).transform(pin)  # distinct char-pairs
    top1 = pairs.orderBy(F.desc("cnt"), "pair").limit(1)
    before = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_pairs"),
        F.sum("cnt").cast("bigint").alias("n_pairs_total"),
    )
    t = F.broadcast(top1.select(F.col("pair").alias("mpair"), F.col("cnt").alias("mcnt")))
    pat = F.concat(F.lit(" "), F.col("mpair"), F.lit(" "))
    rep = F.concat(F.lit(" "), F.replace(F.col("mpair"), F.lit(" "), F.lit("")), F.lit(" "))
    merged = seqs.crossJoin(t).select(
        "word",
        "wf",
        F.trim(
            F.replace(
                F.replace(F.concat(F.lit(" "), F.col("seq"), F.lit(" ")), pat, rep), pat, rep
            )
        ).alias("seq"),
    )
    pairs2 = pairs_of(merged).transform(pin)
    top2 = pairs2.orderBy(F.desc("cnt"), "pair").limit(1)
    after = pairs2.agg(F.sum("cnt").cast("bigint").alias("n_pairs_after"))
    return (
        top1.select(F.col("pair").alias("merge_pair"), F.col("cnt").alias("merge_count"))
        .crossJoin(F.broadcast(before))
        .crossJoin(
            F.broadcast(
                top2.select(F.col("pair").alias("next_pair"), F.col("cnt").alias("next_cnt"))
            )
        )
        .crossJoin(F.broadcast(after))
    )


BPE_TRAIN_MERGES = 4


def _bpe_train_oracle(k: int = BPE_TRAIN_MERGES) -> str:
    """Chained-CTE oracle: k BPE merge rounds, each selecting the argmax
    pair of the previous round's sequences and rewriting them."""
    apply_tpl = """
    seqs{nxt} AS (
      SELECT s.word, s.wf,
             trim(replace(replace(concat(' ', s.seq, ' '),
                                  concat(' ', t.pair, ' '),
                                  concat(' ', replace(t.pair, ' ', ''), ' ')),
                          concat(' ', t.pair, ' '),
                          concat(' ', replace(t.pair, ' ', ''), ' '))) AS seq
      FROM seqs{cur} s CROSS JOIN t{cur} t
    )"""
    parts = [_BPE_VOCAB_SQL.replace("seqs AS", "seqs0 AS")]
    for i in range(k):
        parts.append(f"p{i} AS ({_bpe_pairs_sql(f'seqs{i}')})")
        parts.append(f"t{i} AS (SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair LIMIT 1)")
        if i + 1 < k:
            parts.append(apply_tpl.format(cur=i, nxt=i + 1))
    union = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, pair AS merge_pair, cnt AS pair_count FROM t{i}"
        for i in range(k)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


@query(
    "bpe_merge_train",
    oracle=_bpe_train_oracle(),
    doc=f"BPE tokenizer TRAINING, {BPE_TRAIN_MERGES} merge rounds — the full "
    "iterative recurrence (bpe_first_merge is one unrolled step): each round "
    "counts weighted adjacent pairs over the current symbol sequences, selects "
    "the argmax merge (count desc, pair tiebreak — a 1-row O(1) driver constant, "
    "the trainer's own merge-table entry, same acceptance as the IVF probe "
    "constants), applies it corpus-wide with the delimiter-safe double replace, "
    "and localCheckpoints the rewritten vocabulary so plan depth stays flat "
    "across rounds (the components.py fixpoint discipline). Output is the merge "
    "table a BPE tokenizer ships: (step, pair, count at selection). Each round "
    "costs O(vocabulary), not O(corpus) — the corpus is touched once for word "
    "frequencies; at 100 TB rounds are dominated by the one-time token count "
    "(north-star text / tokenizer training capstone)",
    tags=("text", "pipeline"),
)
def bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    vocab = (
        spread_docs(d.select("doc_id", "text"))
        .select(F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wf"))
        .filter(F.length("word") >= 2)
    )
    seqs = vocab.select(
        "word", "wf", F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("seq")
    ).transform(pin)

    def pairs_of(df: DataFrame) -> DataFrame:
        arr = df.select("wf", F.split("seq", " ").alias("arr")).filter(F.size("arr") >= 2)
        p = arr.select(
            "wf",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 1),"
                    " i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1)))"
                )
            ).alias("pair"),
        )
        return p.groupBy("pair").agg(F.sum("wf").cast("bigint").alias("cnt"))

    merges: list[tuple[int, str, int]] = []
    for step in range(BPE_TRAIN_MERGES):
        top = pairs_of(seqs).orderBy(F.desc("cnt"), "pair").limit(1).collect()
        if not top:
            break
        pair, cnt = top[0].pair, int(top[0].cnt)
        merges.append((step, pair, cnt))
        pat, rep = F.lit(f" {pair} "), F.lit(" " + pair.replace(" ", "") + " ")
        seqs = seqs.select(
            "word",
            "wf",
            F.trim(
                F.replace(
                    F.replace(F.concat(F.lit(" "), F.col("seq"), F.lit(" ")), pat, rep),
                    pat,
                    rep,
                )
            ).alias("seq"),
        ).transform(pin)
    return spark.createDataFrame(
        merges, "step bigint, merge_pair string, pair_count bigint"
    )


def _bpe_apply_oracle(k: int = BPE_TRAIN_MERGES) -> str:
    """Oracle: train the k merges (chained CTEs, as bpe_merge_train),
    then apply them in order to every document token and report
    per-source subword stats."""
    train = _bpe_train_oracle(k)
    head, _tail = train.rsplit("\n", 1)  # drop the final UNION ALL select
    # nested application of the k merges, innermost = step 0
    expr = "concat(' ', trim(regexp_replace(tok, '(.)', '\\1 ', 'g')), ' ')"
    for i in range(k):
        expr = (
            f"replace(replace({expr}, concat(' ', t{i}.pair, ' '), "
            f"concat(' ', replace(t{i}.pair, ' ', ''), ' ')), "
            f"concat(' ', t{i}.pair, ' '), "
            f"concat(' ', replace(t{i}.pair, ' ', ''), ' '))"
        )
    crosses = " ".join(f"CROSS JOIN t{i}" for i in range(k))
    return f"""{head},
    doc_toks AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    applied AS (
      SELECT doc_id, source,
             len(string_split(trim({expr}), ' ')) AS n_sub
      FROM doc_toks {crosses}
    )
    SELECT source,
           CAST(count(*) AS BIGINT)        AS n_words,
           CAST(sum(n_sub) AS BIGINT)      AS n_subwords,
           round(CAST(sum(n_sub) AS DOUBLE) / count(*), 4) AS subwords_per_word
    FROM applied GROUP BY source
    """


@query(
    "tokenize_bpe_apply",
    oracle=_bpe_apply_oracle(),
    doc=f"BPE tokenizer APPLY — the serving half of bpe_merge_train: the "
    f"{BPE_TRAIN_MERGES} learned merges are applied IN TRAINING ORDER to every "
    "document token (the order-sensitivity is the essence of BPE: later merges "
    "can only fire where earlier ones created their symbols), then per-source "
    "subword counts report the compression the learned vocabulary achieves. "
    "The merge table rides as driver constants (a tokenizer ships its merge "
    "file); application is a map-side chain of delimiter-safe replaces — pure "
    "codegen string ops, no Python, no joins on the corpus path, one agg "
    "shuffle on source. At 100 TB this is exactly a production tokenizer pass: "
    "broadcast-merge-table + scan (north-star text / tokenizer serving)",
    tags=("text", "pipeline"),
)
def tokenize_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = [r.merge_pair for r in bpe_merge_train(spark, sf_dir).orderBy("step").collect()]
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = spread_docs(d.select("doc_id", "source", "text")).select(
        "doc_id",
        "source",
        F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("tok"),
    )
    seq = F.concat(
        F.lit(" "), F.trim(F.regexp_replace("tok", "(.)", "$1 ")), F.lit(" ")
    )
    for pair in merges:
        pat, rep = F.lit(f" {pair} "), F.lit(" " + pair.replace(" ", "") + " ")
        seq = F.replace(F.replace(seq, pat, rep), pat, rep)
    applied = toks.select(
        "source", F.size(F.split(F.trim(seq), " ")).alias("n_sub")
    )
    return applied.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("n_sub").cast("bigint").alias("n_subwords"),
        F.round(F.sum("n_sub").cast("double") / F.count(F.lit(1)), 4).alias(
            "subwords_per_word"
        ),
    )


# ------------------------------------------- JS divergence (vocab drift)

JSD_VOCAB = 50  # top-V corpus words define the comparison support


@query(
    "vocab_js_divergence",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    corpus AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY 1
      ORDER BY c DESC, word LIMIT {JSD_VOCAB}
    ),
    ctot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM corpus),
    sc AS (
      SELECT t.source, t.word, CAST(count(*) AS BIGINT) AS c
      FROM toks t JOIN corpus v ON t.word = v.word
      GROUP BY 1, 2
    ),
    stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sc GROUP BY 1),
    cells AS (
      SELECT st.source, v.word,
             (coalesce(s.c, 0) + 1) * 1.0 / (st.n + {JSD_VOCAB}) AS p,
             (v.c + 1) * 1.0 / (ct.n + {JSD_VOCAB})               AS q
      FROM stot st
      CROSS JOIN corpus v
      CROSS JOIN ctot ct
      LEFT JOIN sc s ON s.source = st.source AND s.word = v.word
    ),
    terms AS (
      SELECT source,
             CAST(round(0.5 * p * log2(p / ((p + q) / 2))
                      + 0.5 * q * log2(q / ((p + q) / 2)), 8) AS DECIMAL(18,8)) AS t
      FROM cells
    )
    SELECT source, round(CAST(sum(t) AS DOUBLE), 6) AS js_divergence
    FROM terms GROUP BY source
    """,
    doc=f"Jensen-Shannon divergence between each source's word distribution and "
    f"the corpus distribution over the top-{JSD_VOCAB} vocabulary (Laplace-"
    "smoothed so the support matches) — the textual drift detector that "
    "complements quality_drift_psi's length-histogram PSI: JS is symmetric, "
    "bounded [0,1] in log2, and robust to zero counts, which is why corpus-"
    "comparison papers report it. Per-cell terms quantize to decimals "
    "(order-independent); every relation past the token count is vocab- or "
    "sources-bounded, so the comparison costs one scan + bounded joins at any "
    "corpus size (north-star text analysis / drift)",
    tags=("text", "pipeline"),
)
def vocab_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = spread_docs(d.select("doc_id", "source", "text")).select(
        "source", F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("word")
    )
    # One checkpointed (source, word) count table feeds BOTH the
    # corpus-level vocab and the per-source counts (the
    # text_burrows_delta pattern) — unpinned, corpus + sc each
    # re-derived the explode (6x documents scans).
    st = (
        toks.groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(pin)
    )
    corpus = (
        st.groupBy("word")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .orderBy(F.desc("c"), "word")
        .limit(JSD_VOCAB)
        .transform(pin)  # JSD_VOCAB rows; 3 consumers
    )
    ctot = corpus.agg(F.sum("c").cast("bigint").alias("n"))
    sc = st.join(F.broadcast(corpus.select("word")), "word").select(
        "source", "word", "c"
    )
    stot = sc.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    cells = (
        stot.crossJoin(F.broadcast(corpus.select(F.col("word"), F.col("c").alias("vc"))))
        .crossJoin(F.broadcast(ctot.select(F.col("n").alias("cn"))))
        .join(sc, ["source", "word"], "left")
        .select(
            "source",
            ((F.coalesce(F.col("c"), F.lit(0)) + 1) * 1.0 / (F.col("n") + JSD_VOCAB)).alias("p"),
            ((F.col("vc") + 1) * 1.0 / (F.col("cn") + JSD_VOCAB)).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    term = F.round(
        0.5 * F.col("p") * F.log2(F.col("p") / m) + 0.5 * F.col("q") * F.log2(F.col("q") / m),
        8,
    ).cast("decimal(18,8)")
    return (
        cells.select("source", term.alias("t"))
        .groupBy("source")
        .agg(F.round(F.sum("t").cast("double"), 6).alias("js_divergence"))
    )


# ---------------------------------------------------- burstiness (VMR)

BURST_VOCAB = 30  # top-V corpus words profiled


@query(
    "text_burstiness",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    vocab AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY 1 ORDER BY c DESC, word LIMIT {BURST_VOCAB}
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    per_doc AS (
      SELECT t.word, t.doc_id, CAST(count(*) AS BIGINT) AS k
      FROM toks t JOIN vocab v ON t.word = v.word
      GROUP BY 1, 2
    ),
    moments AS (
      SELECT v.word, v.c,
             CAST(sum(coalesce(p.k, 0)) AS BIGINT)        AS total,
             CAST(sum(coalesce(p.k, 0) * coalesce(p.k, 0)) AS BIGINT) AS total_sq,
             CAST(count(p.doc_id) AS BIGINT)               AS n_docs_with
      FROM vocab v LEFT JOIN per_doc p ON v.word = p.word
      GROUP BY v.word, v.c
    )
    SELECT m.word,
           m.total                                         AS n_occurrences,
           m.n_docs_with,
           round(CAST(m.total AS DOUBLE) / nd.n_docs, 6)   AS mean_per_doc,
           round((CAST(m.total_sq AS DOUBLE) / nd.n_docs
                  - (CAST(m.total AS DOUBLE) / nd.n_docs)
                    * (CAST(m.total AS DOUBLE) / nd.n_docs))
                 / (CAST(m.total AS DOUBLE) / nd.n_docs), 6) AS burstiness_vmr
    FROM moments m CROSS JOIN nd
    """,
    doc=f"word burstiness (Church & Gale): variance-to-mean ratio of per-"
    f"document counts for the top-{BURST_VOCAB} words — VMR ~ 1 is Poisson "
    "(function words spread evenly), VMR >> 1 is bursty (content words clump "
    "in the documents that are ABOUT them), the signal behind df-based IDF "
    "actually working. Zero-count docs enter the moments via the totals "
    "(sum/sum-of-squares over occurrences, divided by the corpus doc count), "
    "so no dense word x doc matrix ever materializes; everything past the "
    "token count is vocab-bounded (north-star text analysis / lexicostatistics)",
    tags=("text",),
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = spread_docs(d.select("doc_id", "text")).select(
        "doc_id", F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("word")
    )
    vocab = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.desc("c"), "word")
        .limit(BURST_VOCAB)
    )
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    per_doc = (
        toks.join(F.broadcast(vocab.select("word")), "word")
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    moments = (
        vocab.join(per_doc, "word", "left")
        .groupBy("word", "c")
        .agg(
            F.sum(F.coalesce(F.col("k"), F.lit(0))).cast("bigint").alias("total"),
            F.sum(F.coalesce(F.col("k"), F.lit(0)) * F.coalesce(F.col("k"), F.lit(0)))
            .cast("bigint")
            .alias("total_sq"),
            F.count("doc_id").cast("bigint").alias("n_docs_with"),
        )
    )
    mean = F.col("total").cast("double") / F.col("n_docs")
    return (
        moments.crossJoin(F.broadcast(nd))
        .select(
            "word",
            F.col("total").alias("n_occurrences"),
            "n_docs_with",
            F.round(mean, 6).alias("mean_per_doc"),
            F.round(
                (F.col("total_sq").cast("double") / F.col("n_docs") - mean * mean) / mean,
                6,
            ).alias("burstiness_vmr"),
        )
    )


# --------------------------------------- pseudo-relevance feedback (PRF)

PRF_FEEDBACK_DOCS = 3  # first-pass top docs mined for expansion terms
PRF_EXPAND_PER_DOC = 2  # top tf-idf terms taken from each feedback doc

_PRF_BASE_SQL = f"""
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    doclen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM doclen
    ),
    tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
"""


def _prf_score_sql(termset: str, out: str) -> str:
    """Per-doc BM25 over a term TABLE ``termset(word)`` — contributions
    quantized then decimal-summed (order-independent, unlike the
    literal-column fixed-order variant)."""
    return f"""
    {out} AS (
      SELECT t.doc_id,
             CAST(sum(CAST(round(
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * t.tf * ({BM25_K1} + 1.0)
               / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * l.dl / s.avgdl)), 6)
             AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS score,
             CAST(count(*) AS BIGINT) AS n_matched
      FROM tf t
      JOIN {termset} q ON t.word = q.word
      JOIN dfreq d ON t.word = d.word
      JOIN doclen l ON t.doc_id = l.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    )"""


def _prf_oracle() -> str:
    q0 = ", ".join(f"('{t}')" for t in BM25_TERMS)
    return f"""
    WITH {_PRF_BASE_SQL},
    q1(word) AS (VALUES {q0}),
    {_prf_score_sql("q1", "r1")},
    top1 AS (
      SELECT doc_id FROM r1 ORDER BY score DESC, doc_id LIMIT {PRF_FEEDBACK_DOCS}
    ),
    cand AS (
      SELECT t.doc_id, t.word,
             round(t.tf * ln(s.n_docs / d.df), 6) AS tfidf
      FROM tf t JOIN top1 ON t.doc_id = top1.doc_id
      JOIN dfreq d ON t.word = d.word
      CROSS JOIN stats s
      WHERE t.word NOT IN (SELECT word FROM q1)
    ),
    expansion AS (
      SELECT DISTINCT word
      FROM (SELECT word, row_number() OVER (PARTITION BY doc_id
                                            ORDER BY tfidf DESC, word) AS rk
            FROM cand)
      WHERE rk <= {PRF_EXPAND_PER_DOC}
    ),
    q2(word) AS (SELECT word FROM q1 UNION SELECT word FROM expansion),
    {_prf_score_sql("q2", "r2")}
    SELECT r2.doc_id,
           CAST(r2.score AS DOUBLE) AS prf_score,
           r2.n_matched,
           (top1.doc_id IS NOT NULL) AS was_feedback_doc
    FROM r2 LEFT JOIN top1 ON r2.doc_id = top1.doc_id
    ORDER BY r2.score DESC, r2.doc_id LIMIT {BM25_TOP}
    """


@query(
    "text_prf_query_expansion",
    oracle=_prf_oracle(),
    doc=f"pseudo-relevance feedback (Rocchio-style PRF) — the full IR serving "
    f"loop in one plan: BM25 round 1 over {BM25_TERMS} picks the top-"
    f"{PRF_FEEDBACK_DOCS} feedback docs, their top-{PRF_EXPAND_PER_DOC} TF-IDF "
    "terms (minus the original query) expand the term set, and BM25 round 2 "
    "scores the corpus against the expanded query — the relational BM25 here "
    "takes the terms as a TABLE (broadcast-sized), which is what makes data-"
    "dependent expansion possible where the literal-column bench variant "
    "cannot; per-(doc, term) contributions quantize then decimal-sum so "
    "scores are order-independent. Everything data-dependent stays in-plan: "
    "no driver round-trip between rounds. At 100 TB: ONE physical corpus "
    "pass — the (doc, word, tf) index is eagerly checkpointed (r15; the "
    "unpinned plan re-derived the corpus scan 15x) and both rounds read "
    "it — + vocab-/k-bounded joins (north-star text / retrieval capstone)",
    tags=("text", "pipeline", "similarity"),
)
def text_prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = spread_docs(d.select("doc_id", "text")).select(
        "doc_id", F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("word")
    )
    # The (doc, word, tf) table IS the BM25 index, and both scoring
    # rounds plus the candidate miner read it; unpinned, Catalyst
    # re-derived the corpus explode 15x. Checkpoint it
    # once — "two corpus passes" in the docstring becomes ONE physical
    # parquet scan + index reads — and derive doclen from it (sum of
    # per-word tf == token count, value-identical to counting toks).
    tf = (
        toks.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .transform(pin)
    )
    doclen = (
        tf.groupBy("doc_id")
        .agg(F.sum("tf").cast("bigint").alias("dl"))
        .transform(pin)  # one row per doc; 3 consumers
    )
    stats = doclen.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).cast("double").alias("df"))

    def score(termset: DataFrame) -> DataFrame:
        contrib = F.round(
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            )
            * F.col("tf")
            * (BM25_K1 + 1.0)
            / (
                F.col("tf")
                + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
            6,
        ).cast("decimal(18,6)")
        return (
            tf.join(F.broadcast(termset), "word")
            .join(dfreq, "word")
            .join(doclen, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(
                F.sum(contrib).cast("decimal(28,6)").alias("score"),
                F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            )
        )

    q1 = spark.createDataFrame([(t,) for t in BM25_TERMS], "word string")
    r1 = score(q1)
    top1 = (
        r1.orderBy(F.desc("score"), "doc_id")
        .limit(PRF_FEEDBACK_DOCS)
        .select("doc_id")
        .transform(pin)  # PRF_FEEDBACK_DOCS rows; 2 consumers
    )
    cand = (
        tf.join(F.broadcast(top1), "doc_id")
        .join(dfreq, "word")
        .crossJoin(F.broadcast(stats))
        .filter(~F.col("word").isin(*BM25_TERMS))
        .select(
            "doc_id",
            "word",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    rk = F.row_number().over(W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word"))
    expansion = (
        cand.withColumn("rk", rk)
        .filter(F.col("rk") <= PRF_EXPAND_PER_DOC)
        .select("word")
        .distinct()
    )
    q2 = q1.unionByName(expansion).distinct()
    r2 = score(q2)
    return (
        r2.join(top1.withColumn("fb", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.col("score").cast("double").alias("prf_score"),
            "n_matched",
            F.coalesce(F.col("fb"), F.lit(False)).alias("was_feedback_doc"),
        )
        .orderBy(F.desc("prf_score"), "doc_id")
        .limit(BM25_TOP)
    )


# ---------------------------------------------------- Heaps' law fit

HEAPS_CHECKPOINTS = 10


@query(
    "text_heaps_law_fit",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    nd AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM documents),
    firsts AS (SELECT word, CAST(min(doc_id) AS BIGINT) AS fd FROM toks GROUP BY 1),
    dtoks AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
    cps AS (
      SELECT CAST(floor((nd.mx + 1) * k / {HEAPS_CHECKPOINTS}.0) - 1 AS BIGINT) AS thr
      FROM nd, (SELECT unnest(range(1, {HEAPS_CHECKPOINTS} + 1)) AS k) t(k)
    ),
    pts AS (
      SELECT c.thr,
             (SELECT CAST(sum(nt) AS BIGINT) FROM dtoks WHERE doc_id <= c.thr) AS tokens,
             (SELECT CAST(count(*) AS BIGINT) FROM firsts WHERE fd <= c.thr)   AS vocab
      FROM cps c
    ),
    logs AS (
      SELECT thr, tokens, vocab,
             CAST(round(ln(tokens), 6) AS DECIMAL(18,6)) AS lx,
             CAST(round(ln(vocab), 6) AS DECIMAL(18,6))  AS ly
      FROM pts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(max(tokens) AS BIGINT) AS total_tokens,
           CAST(max(vocab) AS BIGINT)  AS total_vocab,
           round((count(*) * CAST(sum(CAST(round(CAST(lx AS DOUBLE)
                                                 * CAST(ly AS DOUBLE), 6)
                                          AS DECIMAL(18,6))) AS DOUBLE)
                  - CAST(sum(lx) AS DOUBLE) * CAST(sum(ly) AS DOUBLE))
                 / (count(*) * CAST(sum(CAST(round(CAST(lx AS DOUBLE)
                                                   * CAST(lx AS DOUBLE), 6)
                                            AS DECIMAL(18,6))) AS DOUBLE)
                    - CAST(sum(lx) AS DOUBLE) * CAST(sum(lx) AS DOUBLE)), 6)
             AS heaps_beta
    FROM logs
    """,
    doc=f"Heaps'-law fit: vocabulary growth V(n) ~ K*n^beta measured at "
    f"{HEAPS_CHECKPOINTS} ingestion-order checkpoints (each word's FIRST "
    "document decides when it enters the vocabulary — no per-prefix rescan; "
    "dense doc_ids make the checkpoints exact deciles) and beta estimated by "
    "the closed-form log-log regression (the text_zipf_fit discipline; Zipf "
    "and Heaps are the two halves of the same power law). beta well below 1 "
    "is natural text; beta ~ 1 means vocabulary grows linearly — the "
    "synthetic-corpus / template-spam tell. Everything past the token count "
    "is words- or checkpoints-bounded "
    "(north-star text analysis / lexicostatistics)",
    tags=("text",),
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # spread_docs: the lower+tokenize+explode pass ran serially
    # in the scan task (sf5 11.11 -> 1.56 s, sf0.1 flat); the
    # (word, doc_id) partial agg still collapses map-side before the
    # word exchange.
    toks = spread_docs(d.select("doc_id", "text")).select(
        "doc_id", F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("word")
    )
    nd = d.agg(F.max("doc_id").cast("bigint").alias("mx"))
    firsts = toks.groupBy("word").agg(F.min("doc_id").cast("bigint").alias("fd"))
    dtoks = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    ks = spark.range(1, HEAPS_CHECKPOINTS + 1).select(F.col("id").alias("k"))
    cps = ks.crossJoin(F.broadcast(nd)).select(
        (F.floor((F.col("mx") + 1) * F.col("k") / float(HEAPS_CHECKPOINTS)) - 1)
        .cast("bigint")
        .alias("thr")
    )
    tokens = (
        F.broadcast(cps)
        .crossJoin(dtoks)
        .filter(F.col("doc_id") <= F.col("thr"))
        .groupBy("thr")
        .agg(F.sum("nt").cast("bigint").alias("tokens"))
    )
    vocab = (
        F.broadcast(cps)
        .crossJoin(firsts)
        .filter(F.col("fd") <= F.col("thr"))
        .groupBy("thr")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    )
    logs = (
        tokens.join(vocab, "thr")
        .select(
            "thr",
            "tokens",
            "vocab",
            F.round(F.log("tokens"), 6).cast("decimal(18,6)").alias("lx"),
            F.round(F.log("vocab"), 6).cast("decimal(18,6)").alias("ly"),
        )
    )
    k = F.count(F.lit(1))
    sxy = F.sum(
        F.round(F.col("lx").cast("double") * F.col("ly").cast("double"), 6).cast("decimal(18,6)")
    ).cast("double")
    sxx = F.sum(
        F.round(F.col("lx").cast("double") * F.col("lx").cast("double"), 6).cast("decimal(18,6)")
    ).cast("double")
    sx = F.sum("lx").cast("double")
    sy = F.sum("ly").cast("double")
    return logs.agg(
        k.cast("bigint").alias("n_points"),
        F.max("tokens").cast("bigint").alias("total_tokens"),
        F.max("vocab").cast("bigint").alias("total_vocab"),
        F.round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6).alias("heaps_beta"),
    )


# --------------------------------------------- stopword induction

STOPWORD_DF_FRAC = 0.6  # appears in > this fraction of documents
STOPWORD_MAX_VMR = 2.0  # and spreads evenly (low burstiness)


@query(
    "text_stopword_induction",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    per_doc AS (
      SELECT word, doc_id, CAST(count(*) AS BIGINT) AS k FROM toks GROUP BY 1, 2
    ),
    word_stats AS (
      SELECT word,
             CAST(count(*) AS BIGINT)        AS df,
             CAST(sum(k) AS BIGINT)          AS total,
             CAST(sum(k * k) AS BIGINT)      AS total_sq
      FROM per_doc GROUP BY word
    )
    SELECT w.word,
           round(w.df * 1.0 / nd.n_docs, 6) AS doc_frac,
           round((CAST(w.total_sq AS DOUBLE) / nd.n_docs
                  - (CAST(w.total AS DOUBLE) / nd.n_docs)
                    * (CAST(w.total AS DOUBLE) / nd.n_docs))
                 / (CAST(w.total AS DOUBLE) / nd.n_docs), 6) AS vmr
    FROM word_stats w CROSS JOIN nd
    WHERE w.df * 1.0 / nd.n_docs > {STOPWORD_DF_FRAC}
      AND (CAST(w.total_sq AS DOUBLE) / nd.n_docs
           - (CAST(w.total AS DOUBLE) / nd.n_docs)
             * (CAST(w.total AS DOUBLE) / nd.n_docs))
          / (CAST(w.total AS DOUBLE) / nd.n_docs) <= {STOPWORD_MAX_VMR}
    """,
    doc=f"statistical stopword induction: words appearing in > {STOPWORD_DF_FRAC:.0%} "
    f"of documents AND with variance-to-mean ratio <= {STOPWORD_MAX_VMR} — high "
    "document frequency alone also catches domain terms; the burstiness "
    "second signal (text_burstiness's statistic, inverted) keeps only words "
    "that spread EVENLY, which is the distributional definition of a function "
    "word — so the list is induced from the corpus instead of imported from a "
    "hand-curated language pack (the _EN_STOPWORDS the langid heuristic uses "
    "is exactly what this learns). Everything past the token count is "
    "vocabulary-bounded (north-star text analysis / lexicon induction)",
    tags=("text", "pipeline"),
)
def text_stopword_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = spread_docs(d.select("doc_id", "text")).select(
        "doc_id", F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("word")
    )
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    per_doc = toks.groupBy("word", "doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    stats = per_doc.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("k").cast("bigint").alias("total"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("total_sq"),
    )
    j = stats.crossJoin(F.broadcast(nd))
    mean = F.col("total").cast("double") / F.col("n_docs")
    vmr = (F.col("total_sq").cast("double") / F.col("n_docs") - mean * mean) / mean
    doc_frac = F.col("df") * 1.0 / F.col("n_docs")
    return j.filter((doc_frac > STOPWORD_DF_FRAC) & (vmr <= STOPWORD_MAX_VMR)).select(
        "word",
        F.round(doc_frac, 6).alias("doc_frac"),
        F.round(vmr, 6).alias("vmr"),
    )


# ------------------------------------- cross-lingual corpus skew audit

LANG_SKEW_JSD_GATE = 0.02  # nats; flag sources whose language mix diverges


@query(
    "corpus_language_skew_audit",
    oracle=f"""
    WITH sl AS (
      SELECT source, lang, CAST(count(*) AS DOUBLE) AS n
      FROM documents GROUP BY 1, 2
    ), s AS (SELECT source, sum(n) AS ns FROM sl GROUP BY 1),
    g AS (SELECT lang, sum(n) AS ng FROM sl GROUP BY 1),
    tot AS (SELECT sum(n) AS nt FROM sl),
    grid AS (
      SELECT s.source, g.lang, coalesce(sl.n, 0) AS n, s.ns, g.ng, tot.nt
      FROM s CROSS JOIN g CROSS JOIN tot
      LEFT JOIN sl ON sl.source = s.source AND sl.lang = g.lang
    ), terms AS (
      SELECT source, ns,
             n / ns AS p, ng / nt AS q, (n / ns + ng / nt) / 2 AS m
      FROM grid
    )
    SELECT source,
           CAST(ns AS BIGINT) AS n_docs,
           round(sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / m) ELSE 0 END
                   + CASE WHEN q > 0 THEN 0.5 * q * ln(q / m) ELSE 0 END), 6)
             AS js_divergence,
           round(sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / m) ELSE 0 END
                   + CASE WHEN q > 0 THEN 0.5 * q * ln(q / m) ELSE 0 END), 6)
             > {LANG_SKEW_JSD_GATE} AS skew_flag
    FROM terms GROUP BY source, ns ORDER BY source
    """,
    doc=f"cross-lingual corpus audit (closes the langid arc): per-source language "
    f"distribution vs the corpus-wide mix, Jensen-Shannon divergence per source "
    f"(symmetric, bounded by ln 2), gate at {LANG_SKEW_JSD_GATE} nats. The "
    f"(source x lang) grid is zero-filled so a language MISSING from a source "
    f"still contributes its q*ln(2)/2 penalty — absence is the strongest skew "
    f"signal. Two bounded-key aggregates (source x lang is a closed ~20x5 enum) "
    f"+ one grid join; everything after the first groupBy is constant-sized, so "
    f"at 100 TB the cost is one scan + one partial-agg shuffle "
    f"(north-star pipeline / training-mix curation)",
    tags=("text", "pipeline", "agg"),
)
def corpus_language_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # |sources| x |langs|-bounded cell table feeds FOUR consumers (both
    # marginals, the total, and the grid join); unpinned, each
    # re-derived the documents scan — pin it so
    # the plan is one corpus pass.
    sl = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    ).transform(pin)
    s = sl.groupBy("source").agg(F.sum("n").alias("ns"))
    g = sl.groupBy("lang").agg(F.sum("n").alias("ng"))
    tot = sl.agg(F.sum("n").alias("nt"))
    grid = (
        s.crossJoin(g)
        .crossJoin(tot)
        .join(sl, ["source", "lang"], "left")
        .select(
            "source",
            "ns",
            (F.coalesce("n", F.lit(0.0)) / F.col("ns")).alias("p"),
            (F.col("ng") / F.col("nt")).alias("q"),
            ((F.coalesce("n", F.lit(0.0)) / F.col("ns") + F.col("ng") / F.col("nt")) / 2).alias("m"),
        )
    )
    term = F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / F.col("m"))).otherwise(
        0.0
    ) + F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / F.col("m"))).otherwise(0.0)
    jsd = F.round(F.sum(term), 6)
    return (
        grid.groupBy("source", "ns")
        .agg(
            jsd.alias("js_divergence"),
            (jsd > LANG_SKEW_JSD_GATE).alias("skew_flag"),
        )
        .select(
            "source",
            F.col("ns").cast("bigint").alias("n_docs"),
            "js_divergence",
            "skew_flag",
        )
        .orderBy("source")
    )


# ------------------------------------------------- RAKE keywords

RAKE_TOPK = 15

_STOPS_SQL = ", ".join(f"'{w}'" for w in _EN_STOPWORDS)


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS words
      FROM documents
    ), toks AS (
      SELECT doc_id, t.t.pos AS pos, t.t.word AS word
      FROM w, unnest(list_transform(range(1, len(words) + 1),
                     i -> {{'pos': i, 'word': words[i]}})) AS t(t)
    ), seg0 AS (
      SELECT doc_id, pos, word,
             CASE WHEN word IN ({_STOPS_SQL}) THEN 1 ELSE 0 END AS stop,
             sum(CASE WHEN word IN ({_STOPS_SQL}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
      FROM toks
    ), content AS (
      SELECT doc_id, seg, pos, word FROM seg0 WHERE stop = 0
    ), ph AS (
      SELECT doc_id, seg,
             array_to_string(list(word ORDER BY pos), ' ') AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM content GROUP BY doc_id, seg
    ), wstats AS (
      SELECT c.word,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(p.plen) AS BIGINT) AS deg
      FROM content c JOIN ph p ON c.doc_id = p.doc_id AND c.seg = p.seg
      GROUP BY c.word
    ), phsc AS (
      SELECT c.doc_id, c.seg, round(sum(ws.deg * 1.0 / ws.freq), 6) AS score
      FROM content c JOIN wstats ws ON c.word = ws.word
      GROUP BY c.doc_id, c.seg
    )
    SELECT p.phrase,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           max(s.score) AS rake_score
    FROM ph p JOIN phsc s ON p.doc_id = s.doc_id AND p.seg = s.seg
    GROUP BY p.phrase
    ORDER BY rake_score DESC, phrase
    LIMIT {RAKE_TOPK}
    """,
    doc=f"RAKE keyword extraction (Rose et al. 2010): documents split into "
    "candidate phrases at stopword boundaries (the induced function-word "
    "lexicon), each word scored degree/frequency over phrase co-occurrence, "
    f"phrase score = sum of member word scores; global top-{RAKE_TOPK} "
    "phrases with occurrence counts. Phrase segmentation is a per-doc keyed "
    "cumulative window (stopword count = segment id — no UDF, no driver "
    "loop); word stats and phrase scores are two word-/segment-keyed "
    "aggregations; the final top-k fuses to TakeOrderedAndProject. All "
    "shuffles SF-linear and equi-keyed (north-star text analysis)",
    tags=("text", "window"),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    # partitioned_docs: text crosses the segment window's exchange
    # raw; tokenize runs post-exchange at full width (sf5 33 -> 13 s).
    toks = partitioned_docs(d).select(
        "doc_id",
        F.posexplode(whitespace_tokens(F.lower(F.col("text")))).alias("pos", "word"),
    )
    stop = F.col("word").isin(*_EN_STOPWORDS).cast("int")
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, W.currentRow)
    seg0 = toks.select(
        "doc_id", "pos", "word", stop.alias("stop"), F.sum(stop).over(win).alias("seg")
    )
    content = seg0.filter(F.col("stop") == 0).select("doc_id", "seg", "pos", "word")
    ph = content.groupBy("doc_id", "seg").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))), lambda s: s["word"]
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("plen"),
    )
    wstats = (
        content.join(ph.select("doc_id", "seg", "plen"), ["doc_id", "seg"])
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
    )
    phsc = (
        content.join(wstats, "word")
        .groupBy("doc_id", "seg")
        .agg(F.round(F.sum(F.col("deg") * 1.0 / F.col("freq")), 6).alias("score"))
    )
    return (
        ph.join(phsc, ["doc_id", "seg"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.max("score").alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(RAKE_TOPK)
    )


# ------------------------------------------- tokenizer fertility audit

@query(
    "tokenizer_fertility_audit",
    oracle="""
    WITH d AS (
      SELECT lang,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]')) AS BIGINT)  AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(sum(n_tokens) * 1.0 / greatest(sum(n_words), 1), 6) AS fertility,
           round(sum(n_chars) * 1.0 / greatest(sum(n_tokens), 1), 6) AS chars_per_token,
           round(avg(n_tokens * 1.0), 4) AS avg_doc_tokens
    FROM d GROUP BY lang ORDER BY lang
    """,
    doc="tokenizer fertility audit: per-language tokens-per-word (fertility) "
    "and chars-per-token under the word-piece pre-tokenizer — THE metric a "
    "multilingual tokenizer review reads (high fertility = the vocabulary "
    "taxes that language; public convention from the SentencePiece/BPE "
    "literature). One scan, two codegen'd regex counts per row, one "
    "lang-keyed agg (|langs|-bounded output); partial aggregation makes the "
    "shuffle carry only per-lang partials at 100 TB "
    "(north-star text / tokenizer ops)",
    tags=("text", "agg"),
)
def tokenizer_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    base = d.select(
        "lang",
        token_count(F.col("text")).cast("bigint").alias("n_words"),
        bpe_ish_token_estimate(F.col("text")).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("n_tokens") * 1.0 / F.greatest(F.sum("n_words"), F.lit(1)), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_chars") * 1.0 / F.greatest(F.sum("n_tokens"), F.lit(1)), 6
            ).alias("chars_per_token"),
            F.round(F.avg(F.col("n_tokens") * 1.0), 4).alias("avg_doc_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------- code-document detect

# Symbol classes that dominate source code but are rare in prose.
# Public heuristic family (C4 / Gopher / RefinedWeb-style rule
# filters): symbol density + digit density, thresholded.
CODE_SYM_RE = r"[\[\]{}();=<>#|&]"
CODE_SYM_THRESHOLD = 0.01  # >=1% code symbols flags a doc as code-like


@query(
    "text_code_detect",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CAST(len(regexp_extract_all(text, '{CODE_SYM_RE}')) AS BIGINT) AS n_sym,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
             CAST(greatest(length(text), 1) AS BIGINT) AS n_chars
      FROM documents
    ), scored AS (
      SELECT source,
             round(n_sym * 1.0 / n_chars, 6) AS sym_ratio,
             round(n_digit * 1.0 / n_chars, 6) AS digit_ratio
      FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE sym_ratio >= {CODE_SYM_THRESHOLD}) AS BIGINT) AS n_code_like,
           round(count(*) FILTER (WHERE sym_ratio >= {CODE_SYM_THRESHOLD}) * 1.0
                 / count(*), 6) AS code_frac,
           round(avg(sym_ratio), 6) AS avg_sym_ratio,
           round(avg(digit_ratio), 6) AS avg_digit_ratio
    FROM scored GROUP BY source ORDER BY source
    """,
    doc="code-vs-prose detection: per-doc code-symbol density (braces, "
    "brackets, operators — the C4/Gopher/RefinedWeb rule-filter family) "
    "thresholded at "
    f"{CODE_SYM_THRESHOLD}, rolled up per source — the signal a pretraining "
    "mixture uses to route documents to a code pipeline or strip "
    "markup-heavy scrapes. Two codegen'd regex counts per row, one "
    "source-keyed agg; partial aggregation keeps the 100 TB shuffle at "
    "per-source partials (north-star text / curation)",
    tags=("text", "agg"),
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    n_chars = F.greatest(F.length("text"), F.lit(1))
    scored = d.select(
        "source",
        F.round(F.regexp_count(F.col("text"), F.lit(CODE_SYM_RE)) * 1.0 / n_chars, 6).alias(
            "sym_ratio"
        ),
        F.round(F.regexp_count(F.col("text"), F.lit("[0-9]")) * 1.0 / n_chars, 6).alias(
            "digit_ratio"
        ),
    )
    is_code = (F.col("sym_ratio") >= CODE_SYM_THRESHOLD).cast("long")
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(is_code).cast("bigint").alias("n_code_like"),
            F.round(F.sum(is_code) * 1.0 / F.count(F.lit(1)), 6).alias("code_frac"),
            F.round(F.avg("sym_ratio"), 6).alias("avg_sym_ratio"),
            F.round(F.avg("digit_ratio"), 6).alias("avg_digit_ratio"),
        )
        .orderBy("source")
    )


# --------------------------------------- hashing-trick featurization

# Feature hashing (Weinberger et al. 2009, public): token -> index
# h(w) mod D with a signed correction bit, collisions merge additively.
# The ONLY featurizer that needs no vocabulary pass — the property that
# makes it the default for streaming / 100 TB text featurization. The
# audit reports the price: per-source collision mass and sign-cancel
# effects on the nonzero count.
FEATHASH_DIM = 1024  # power of two: index = low 10 bits, sign = bit 10


@query(
    "feature_hashing_vectorizer",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ), tf AS (
      SELECT source, doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2, 3
    ), hashed AS (
      SELECT source, doc_id,
             {md5_int_sql('word')} % {FEATHASH_DIM} AS idx,
             CASE WHEN (({md5_int_sql('word')} >> 10) & 1) = 0 THEN 1 ELSE -1 END * tf
               AS val
      FROM tf
    ), feat AS (
      SELECT source, doc_id, idx,
             CAST(sum(val) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS n_merged
      FROM hashed GROUP BY 1, 2, 3
    ), perdoc AS (
      SELECT source, doc_id,
             CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
             CAST(count(*) AS BIGINT) AS n_idx,
             CAST(sum(n_merged) AS BIGINT) AS n_words,
             CAST(sum(idx * v) AS BIGINT) AS chk
      FROM feat GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(nnz * 1.0), 4) AS avg_nnz,
           round(1.0 - sum(n_idx) * 1.0 / sum(n_words), 6) AS collision_frac,
           CAST(sum(chk) AS BIGINT) AS feat_checksum
    FROM perdoc GROUP BY source ORDER BY source
    """,
    doc=f"hashing-trick featurizer audit (Weinberger et al. 2009): tokens hash "
    f"to {FEATHASH_DIM} signed buckets (low 10 md5 bits = index, bit 10 = "
    "sign), collisions merge additively, and the per-source report gives "
    "docs, mean nonzeros, collision mass (1 - distinct-index/distinct-word), "
    "and an exact signed index-weighted checksum — the vocabulary-free "
    "featurization that makes 100 TB text vectorization a pure map-side "
    "pass (no vocab broadcast, no OOV), with its collision price measured. "
    "All integers end to end; md5 is JVM-codegen'd, aggregation keys are "
    "(source, doc, idx) — partial-agg friendly (north-star text / "
    "featurization)",
    tags=("text", "agg", "pipeline"),
)
def feature_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from http_datafusion_spark.functions.hashing import md5_int

    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = spread_docs(d.select("doc_id", "source", "text")).select(
        "source",
        "doc_id",
        F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("word"),
    )
    tf = toks.groupBy("source", "doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    h = md5_int(F.col("word"))
    sign = F.when((F.shiftright(h, 10) % 2) == 0, F.lit(1)).otherwise(F.lit(-1))
    hashed = tf.select(
        "source",
        "doc_id",
        (h % FEATHASH_DIM).alias("idx"),
        (sign * F.col("tf")).alias("val"),
    )
    feat = hashed.groupBy("source", "doc_id", "idx").agg(
        F.sum("val").cast("bigint").alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
    )
    perdoc = feat.groupBy("source", "doc_id").agg(
        F.sum((F.col("v") != 0).cast("long")).cast("bigint").alias("nnz"),
        F.count(F.lit(1)).cast("bigint").alias("n_idx"),
        F.sum("n_merged").cast("bigint").alias("n_words"),
        F.sum(F.col("idx") * F.col("v")).cast("bigint").alias("chk"),
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg(F.col("nnz") * 1.0), 4).alias("avg_nnz"),
            F.round(
                F.lit(1.0) - F.sum("n_idx") * 1.0 / F.sum("n_words"), 6
            ).alias("collision_frac"),
            F.sum("chk").cast("bigint").alias("feat_checksum"),
        )
        .orderBy("source")
    )


# ------------------------------------------- unseen-vocabulary estimation

@query(
    "vocab_chao1_unseen",
    oracle="""
    WITH w AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS word
      FROM documents
    ), f AS (
      SELECT source, word, count(*) AS c FROM w GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS v_observed,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1_singletons,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2_doubletons,
           round(count(*)
                 + sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                   * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                   / (2.0 * (sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)), 4) AS chao1_richness,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / sum(c), 6) AS gt_unseen_mass
    FROM f
    GROUP BY source
    ORDER BY source
    """,
    doc="unseen-vocabulary estimation per source: Chao1 bias-corrected species "
    "richness V + f1(f1-1)/(2(f2+1)) (Chao 1984) from singleton/doubleton type "
    "counts, plus the Good-Turing unseen-probability mass f1/N (Good 1953) — "
    "the 'how much vocabulary does this source still hide' gauge a corpus "
    "budget plan reads next to heaps_law_fit. Two partial-agg shuffles "
    "((source,word) then source); output is |sources| rows — scan-shaped at "
    "100 TB (north-star text analysis)",
    tags=("text", "pipeline"),
)
def vocab_chao1_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    f = (
        spread_docs(d.select("doc_id", "source", "text"))
        .select("source", F.explode(whitespace_tokens(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    f1 = F.sum((F.col("c") == 1).cast("long"))
    f2 = F.sum((F.col("c") == 2).cast("long"))
    v = F.count(F.lit(1))
    return (
        f.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            v.cast("bigint").alias("v_observed"),
            f1.cast("bigint").alias("f1_singletons"),
            f2.cast("bigint").alias("f2_doubletons"),
            F.round(v + f1 * 1.0 * (f1 - 1) / (2.0 * (f2 + 1)), 4).alias("chao1_richness"),
            F.round(f1 * 1.0 / F.sum("c"), 6).alias("gt_unseen_mass"),
        )
        .orderBy("source")
    )


# ------------------------------------------- MATTR lexical diversity

# Moving-average type-token ratio (Covington & McFall 2010, public):
# plain TTR falls with document length, so corpora are compared on the
# average TTR of all W-token sliding windows instead. The naive
# formulation materializes every (window, token) pair — a Wx row
# explode. This implementation uses the closed form instead: a token
# at position i is DISTINCT within window [s, s+W-1] iff its previous
# same-word occurrence p < s, so its total contribution over all
# windows is max(0, min(i, n_starts) - max(1, i-W+1, p+1) + 1) — one
# lag() per token, zero explode, O(tokens) at any W. Per-source
# figures are MICRO-averaged (summed integer numerators / summed
# integer denominators), so the statistic is exact cross-engine with a
# single float division per row.
MATTR_W = 25


@query(
    "text_mattr_diversity",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS words
      FROM documents
    ), toks AS (
      SELECT doc_id, source, words[i] AS word, CAST(i AS BIGINT) AS pos
      FROM docs, unnest(range(1, len(words) + 1)) AS t(i)
    ), n AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id
    ), lagged AS (
      SELECT t.doc_id, t.source, t.pos, n.n,
             least({MATTR_W}, n.n) AS we,
             n.n - least({MATTR_W}, n.n) + 1 AS n_starts,
             coalesce(lag(t.pos) OVER (PARTITION BY t.doc_id, t.word
                                       ORDER BY t.pos), 0) AS p
      FROM toks t JOIN n ON n.doc_id = t.doc_id
    ), per_tok AS (
      SELECT doc_id, source, n, we, n_starts,
             greatest(0, least(pos, n_starts)
                         - greatest(1, pos - we + 1, p + 1) + 1) AS contrib,
             CASE WHEN p = 0 THEN 1 ELSE 0 END AS is_type
      FROM lagged
    ), per_doc AS (
      SELECT doc_id, source,
             CAST(sum(contrib) AS BIGINT)   AS dsum,
             CAST(max(we) * max(n_starts) AS BIGINT) AS slots,
             CAST(sum(is_type) AS BIGINT)   AS n_types,
             CAST(max(n) AS BIGINT)         AS n_toks
      FROM per_tok GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(dsum) * 1.0 / sum(slots), 6)   AS mattr_micro,
           round(sum(n_types) * 1.0 / sum(n_toks), 6) AS ttr_micro
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
    doc=f"MATTR lexical diversity (Covington & McFall 2010): average "
    f"type-token ratio over all {MATTR_W}-token sliding windows, per "
    f"source, micro-averaged alongside plain TTR (which MATTR "
    f"de-biases for length). Computed by the closed form — a token is "
    f"distinct in window s iff its previous same-word occurrence "
    f"precedes s, so its contribution over all windows is one interval "
    f"length from one lag() — O(tokens) with ZERO window explode "
    f"(the naive shape is a {MATTR_W}x row blowup). One (doc, word)-"
    f"keyed window + per-doc integer sums; micro ratios are exact "
    f"cross-engine (north-star pipeline / text quality)",
    tags=("text", "agg"),
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, "documents")["documents"]
    lwords = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda w: w != ""
    )
    toks = d.select(
        "doc_id", "source", F.posexplode(lwords).alias("pos0", "word")
    ).select("doc_id", "source", (F.col("pos0") + 1).alias("pos"), "word")
    n = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    lagged = (
        toks.join(n, "doc_id")
        .withColumn("we", F.least(F.lit(MATTR_W), F.col("n")))
        .withColumn("n_starts", F.col("n") - F.col("we") + 1)
        .withColumn(
            "p",
            F.coalesce(
                F.lag("pos").over(W.partitionBy("doc_id", "word").orderBy("pos")),
                F.lit(0),
            ),
        )
    )
    contrib = F.greatest(
        F.lit(0),
        F.least(F.col("pos"), F.col("n_starts"))
        - F.greatest(F.lit(1), F.col("pos") - F.col("we") + 1, F.col("p") + 1)
        + F.lit(1),
    )
    per_doc = (
        lagged.select(
            "doc_id",
            "source",
            "n",
            "we",
            "n_starts",
            contrib.alias("contrib"),
            F.when(F.col("p") == 0, 1).otherwise(0).alias("is_type"),
        )
        .groupBy("doc_id", "source")
        .agg(
            F.sum("contrib").cast("bigint").alias("dsum"),
            (F.max("we") * F.max("n_starts")).cast("bigint").alias("slots"),
            F.sum("is_type").cast("bigint").alias("n_types"),
            F.max("n").cast("bigint").alias("n_toks"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.sum("dsum") * 1.0 / F.sum("slots"), 6).alias("mattr_micro"),
            F.round(F.sum("n_types") * 1.0 / F.sum("n_toks"), 6).alias("ttr_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------- readability grade levels

ARI_HARD_GRADE = 10.0  # 'hard' = above 10th-grade level


@query(
    "text_readability_scores",
    oracle="""
    WITH counts AS (
      SELECT source,
             greatest(CAST(len(list_filter(string_split_regex(trim(text),
                      '\\s+'), x -> x <> '')) AS BIGINT), 1) AS words,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  AS BIGINT) AS letters,
             greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
                      AS BIGINT), 1) AS sentences
      FROM documents
    ),
    graded AS (
      SELECT source,
             CAST(round(4.71 * (CAST(letters AS DOUBLE) / words)
                        + 0.5 * (CAST(words AS DOUBLE) / sentences)
                        - 21.43, 6) AS DECIMAL(18,6)) AS ari,
             CAST(round(0.0588 * (100.0 * letters / words)
                        - 0.296 * (100.0 * sentences / words)
                        - 15.8, 6) AS DECIMAL(18,6)) AS cli
      FROM counts
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(ari) AS DOUBLE) / count(*), 6) AS ari_mean,
           round(CAST(sum(cli) AS DOUBLE) / count(*), 6) AS cli_mean,
           round(CAST(sum(CASE WHEN CAST(ari AS DOUBLE) >= 10.0
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS frac_hard
    FROM graded GROUP BY source ORDER BY source
    """,
    doc="per-source readability grade levels via the two CHARACTER-based "
    "formulas — ARI (Senter & Smith 1967: 4.71 chars/word + 0.5 "
    "words/sentence - 21.43) and Coleman-Liau (1975: 0.0588 L - 0.296 S "
    "- 15.8 with L/S per-100-words rates) — chosen over Flesch exactly "
    "because they need NO syllable model, so both engines compute them "
    "from three codegen'd regex counts (letters, words, [.!?]+ sentence "
    "runs; empty-text guarded by greatest(...,1) on both sides). The "
    "audience-difficulty profile a curation mix targets next to "
    "text_quality_score's mechanical gates: frac_hard = share above "
    "10th grade. One corpus scan, map-side regex counts, "
    "|sources|-bounded aggregate; per-doc grades 6dp-decimal quantized "
    "so the per-source means are order-independent",
    tags=("text", "pipeline"),
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    words = F.greatest(
        F.size(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).cast("bigint"),
        F.lit(1),
    )
    letters = F.length(
        F.regexp_replace(F.col("text"), "[^A-Za-z]", "")
    ).cast("bigint")
    sentences = F.greatest(
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))
        ).cast("bigint"),
        F.lit(1),
    )
    counts = d.select(
        "source",
        words.alias("words"),
        letters.alias("letters"),
        sentences.alias("sentences"),
    )
    ari = (
        F.lit(4.71) * (F.col("letters").cast("double") / F.col("words"))
        + F.lit(0.5) * (F.col("words").cast("double") / F.col("sentences"))
        - F.lit(21.43)
    )
    cli = (
        F.lit(0.0588) * (F.lit(100.0) * F.col("letters") / F.col("words"))
        - F.lit(0.296) * (F.lit(100.0) * F.col("sentences") / F.col("words"))
        - F.lit(15.8)
    )
    graded = counts.select(
        "source",
        F.round(ari, 6).cast("decimal(18,6)").alias("ari"),
        F.round(cli, 6).cast("decimal(18,6)").alias("cli"),
    )
    n = F.count(F.lit(1))
    return (
        graded.groupBy("source")
        .agg(
            n.cast("bigint").alias("n_docs"),
            F.round(F.sum("ari").cast("double") / n, 6).alias("ari_mean"),
            F.round(F.sum("cli").cast("double") / n, 6).alias("cli_mean"),
            F.round(
                F.sum(
                    F.when(
                        F.col("ari").cast("double") >= ARI_HARD_GRADE, 1
                    ).otherwise(0)
                ).cast("double")
                / n,
                6,
            ).alias("frac_hard"),
        )
        .orderBy("source")
    )


# ------------------------------------------- Simpson diversity / Hill


@query(
    "text_simpson_diversity",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '')) AS tok
      FROM documents
    ),
    wc AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY source, tok
    ),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * (c - 1)) AS BIGINT) AS pairsum
      FROM wc GROUP BY source
    )
    SELECT source, vocab, n,
           round(CAST(pairsum AS DOUBLE) / (n * (n - 1.0)), 6) AS simpson,
           round(1.0 - CAST(pairsum AS DOUBLE) / (n * (n - 1.0)), 6)
             AS gini_simpson,
           round((n * (n - 1.0)) / CAST(pairsum AS DOUBLE), 6)
             AS inv_simpson
    FROM agg ORDER BY source
    """,
    doc="Simpson diversity family per source (Simpson 1949; Hill 1973 "
    "numbers): the UNBIASED finite-sample estimator lambda = "
    "sum c_i(c_i-1) / (N(N-1)) — the probability two tokens drawn "
    "without replacement coincide — plus Gini-Simpson (1-lambda) and "
    "inverse Simpson (the Hill q=2 effective vocabulary: how many "
    "EQUALLY-COMMON words would give this concentration). Where "
    "text_char_entropy (q=1) weighs all words by log-frequency, q=2 "
    "weighs dominance — a boilerplate-flooded source drops its "
    "inv_simpson long before its raw vocabulary shrinks; beside "
    "vocab_chao1_unseen (q=0 richness) this completes the Hill "
    "diversity profile. ALL INTEGER until the final divisions "
    "(engine-exact, no rounding discipline); one (source, word) "
    "partial-agg shuffle then a |sources|-row reduce — the "
    "text_token_stats scale shape",
    tags=("text", "pipeline"),
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = spread_docs(d.select("doc_id", "source", "text")).select(
        "source", F.explode(whitespace_tokens(F.col("text"))).alias("tok")
    )
    wc = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = wc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias("pairsum"),
    )
    lam = F.col("pairsum").cast("double") / (
        F.col("n") * (F.col("n") - F.lit(1.0))
    )
    return agg.select(
        "source",
        "vocab",
        "n",
        F.round(lam, 6).alias("simpson"),
        F.round(F.lit(1.0) - lam, 6).alias("gini_simpson"),
        F.round(
            (F.col("n") * (F.col("n") - F.lit(1.0)))
            / F.col("pairsum").cast("double"),
            6,
        ).alias("inv_simpson"),
    ).orderBy("source")


# --------------------------------- Burrows' Delta stylometric distance

BURROWS_TOP_WORDS = 50  # most-frequent-word feature set size

_Q9BD = "CAST(round({x}, 9) AS DECIMAL(18,9))"


@query(
    "text_burrows_delta",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    st AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    top_words AS (
      SELECT tok FROM st GROUP BY tok
      ORDER BY sum(c) DESC, tok LIMIT {BURROWS_TOP_WORDS}
    ),
    src_totals AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS total FROM st GROUP BY source
    ),
    grid AS (
      SELECT s.source, s.total, tw.tok
      FROM src_totals s CROSS JOIN top_words tw
    ),
    cnts AS (
      SELECT s.source, s.tok, s.c AS cnt
      FROM st s JOIN top_words tw ON s.tok = tw.tok
    ),
    rels AS (
      SELECT g.source, g.tok,
             CAST(coalesce(c.cnt, 0) AS DOUBLE) / g.total AS rel
      FROM grid g LEFT JOIN cnts c ON g.source = c.source AND g.tok = c.tok
    ),
    wstats AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS k,
             CAST(sum({_Q9BD.format(x='rel')}) AS DOUBLE) AS s,
             CAST(sum({_Q9BD.format(x='rel * rel')}) AS DOUBLE) AS t
      FROM rels GROUP BY tok
    ),
    z AS (
      SELECT r.source, r.tok,
             (r.rel - w.s / w.k)
               / sqrt(w.t / w.k - (w.s / w.k) * (w.s / w.k)) AS z
      FROM rels r JOIN wstats w ON r.tok = w.tok
      WHERE w.t / w.k - (w.s / w.k) * (w.s / w.k) > 0
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum({_Q9BD.format(x='abs(a.z - b.z)')}) AS DOUBLE) AS sd
      FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_words,
           round(sd / n_words, 6) AS delta
    FROM pairs ORDER BY source_a, source_b
    """,
    doc=f"Burrows' Delta stylometric distance (Burrows 2002 LLC; Evert et "
    f"al. 2017) between every source pair: z-score each of the corpus's "
    f"{BURROWS_TOP_WORDS} most frequent words' RELATIVE frequencies across "
    f"sources (zero-filled grid, so a source missing a common word pays "
    f"its distance), Delta = mean |z_a - z_b| — the authorship/register "
    f"fingerprint that catches one crawl source masquerading as two (near-"
    f"zero Delta) or a style break inside a supposedly uniform feed. "
    f"Grain discipline: one token scan feeds the top-word list, per-source "
    f"totals, and the (source x {BURROWS_TOP_WORDS}) count grid — enforced "
    f"physically by an eager localCheckpoint of the (source, tok) count "
    f"aggregate (r15; the unpinned plan re-derived the corpus scan 16x); every "
    f"downstream table is |sources|-bounded (pairs = |sources| choose 2), "
    f"never corpus-sized. Relative frequencies are exact ratios; "
    f"cross-source moments and the pair sums are 9dp-decimal quantized "
    f"(order-independent); zero-variance words are excluded on both "
    f"engines by the identical s/t guard",
    tags=("text", "pipeline"),
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = spread_docs(d.select("doc_id", "source", "text")).select(
        "source", F.explode(whitespace_tokens(F.col("text"))).alias("tok")
    )
    # ONE corpus token pass — physically, not just logically: the
    # (source, tok) count table feeds THREE branches (top-word list,
    # per-source totals, count grid), and without a lineage cut
    # Catalyst re-derives the explode-over-text scan per consumer (the
    # scan audit measured 16x documents scans in this plan). The
    # eager localCheckpoint materializes the |sources| x vocab-bounded
    # aggregate once, so every downstream branch reads the checkpoint
    # instead of the corpus (dedup_candidate_budget pattern,
    # dedup.py:1076).
    st = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(pin)
    )
    top_words = (
        st.groupBy("tok")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(BURROWS_TOP_WORDS)
        .select("tok")
    )
    src_totals = st.groupBy("source").agg(F.sum("c").cast("bigint").alias("total"))
    grid = src_totals.crossJoin(F.broadcast(top_words))
    cnts = st.join(F.broadcast(top_words), "tok").select(
        "source", "tok", F.col("c").alias("cnt")
    )
    rels = grid.join(cnts, ["source", "tok"], "left").select(
        "source",
        "tok",
        (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") / F.col("total")).alias(
            "rel"
        ),
    )

    def q9(c):
        return F.round(c, 9).cast("decimal(18,9)")

    wstats = rels.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(q9(F.col("rel"))).cast("double").alias("s"),
        F.sum(q9(F.col("rel") * F.col("rel"))).cast("double").alias("t"),
    )
    mean = F.col("s") / F.col("k")
    var = F.col("t") / F.col("k") - mean * mean
    z = (
        rels.join(F.broadcast(wstats), "tok")
        .filter(var > 0)
        .select("source", "tok", ((F.col("rel") - mean) / F.sqrt(var)).alias("z"))
    )
    a = z.select(
        F.col("source").alias("source_a"), "tok", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), "tok", F.col("z").alias("zb")
    )
    pairs = (
        a.join(b, (a["tok"] == b["tok"]) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(q9(F.abs(F.col("za") - F.col("zb")))).cast("double").alias("sd"),
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_words",
        F.round(F.col("sd") / F.col("n_words"), 6).alias("delta"),
    ).orderBy("source_a", "source_b")
