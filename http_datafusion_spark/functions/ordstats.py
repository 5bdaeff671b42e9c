"""Distributed EXACT order statistics — no single-partition sort.

The naive exact percentile (`row_number() OVER (ORDER BY v)`) plans an
`Exchange SinglePartition`: every row of the table funnels through one
task — correct at sf0.1, dead at 100 TB. The classic scalable plan,
implemented here declaratively:

1. a deterministic equi-depth-ish bucketing of the value domain from
   `approx_percentile` boundaries (a Greenwald-Khanna sketch — itself a
   deterministic one-pass partial aggregate; B-1 driver constants, the
   IVF-centroid acceptance);
2. one partial-agg shuffle for per-bucket counts; the cumulative offsets
   are B driver constants;
3. for each requested global rank: locate its bucket, then a window
   PARTITIONED BY the bucket (parallel, bounded by the bucket's rows)
   finds the row at the local rank.

The bucket boundaries only decide WHERE the rank is searched, never the
answer — the result is the exact k-th smallest (v, tiebreak) row for any
boundary choice, so oracle exactness survives the sketch.

tests/test_plans.py::test_ordstats_rank_search_never_single_partition
pins the property this module exists for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

ORD_BUCKETS = 32


def bucketed_ranked(
    df: DataFrame, value: str, tiebreak: str, bounds: list[float]
) -> DataFrame:
    """The rank-search relation: rows bucketed by the boundary list with
    a local row_number PER BUCKET — the window that replaces the naive
    global sort. Its plan must never contain an Exchange SinglePartition
    (tests/test_plans.py pins this)."""
    b = F.lit(0)
    for i, cut in enumerate(bounds):
        b = F.when(F.col(value) > F.lit(cut), i + 1).otherwise(b)
    w = W.partitionBy("bucket").orderBy(value, tiebreak)
    return df.select(value, tiebreak, b.alias("bucket")).withColumn(
        "lrk", F.row_number().over(w)
    )


def exact_rank_values(
    df: DataFrame, value: str, tiebreak: str, ranks: list[int]
) -> dict[int, float]:
    """Exact k-th smallest values of ``value`` (ties broken by
    ``tiebreak``) for 1-based global ranks ``ranks``, without ever
    sorting the table in one partition. Returns {rank: value} driver
    constants (the caller embeds them as literals — the clip/report
    stage becomes pure map-side)."""
    # 1. boundary sketch (deterministic, one pass)
    qs = [i / ORD_BUCKETS for i in range(1, ORD_BUCKETS)]
    bounds = df.agg(
        F.percentile_approx(value, qs, 10_000).alias("b")
    ).collect()[0]["b"]
    if bounds is None:
        # percentile_approx of zero rows is NULL — fail with the cause,
        # not a TypeError iterating None further down
        raise ValueError(
            f"exact_rank_values: input has no non-null rows of {value!r}"
        )

    def bucket_of(col: Column) -> Column:
        b = F.lit(0)
        for i, cut in enumerate(bounds):
            b = F.when(col > F.lit(cut), i + 1).otherwise(b)
        return b

    # 2. per-bucket counts -> cumulative offsets (B driver constants)
    cnts = dict(
        (r["bucket"], r["n"])
        for r in df.select(bucket_of(F.col(value)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    offsets = {}
    acc = 0
    for b in range(ORD_BUCKETS):
        offsets[b] = acc
        acc += cnts.get(b, 0)
    bad = [rk for rk in ranks if rk < 1 or rk > acc]
    if bad:
        # a rank beyond the row count would otherwise be silently absent
        # from the returned dict and surface as an opaque KeyError in
        # callers (feature_winsorize, corpus_datacard)
        raise ValueError(
            f"exact_rank_values: ranks {bad} out of range for {acc} rows"
        )

    # 3. bucket-partitioned local rank per requested global rank
    out: dict[int, float] = {}
    ranked = bucketed_ranked(df, value, tiebreak, bounds)
    wanted = []
    for rk in ranks:
        b = max(b for b in range(ORD_BUCKETS) if offsets[b] < rk) if rk > 0 else 0
        wanted.append((rk, b, rk - offsets[b]))
    cond = None
    for _, b, lrk in wanted:
        c = (F.col("bucket") == b) & (F.col("lrk") == lrk)
        cond = c if cond is None else (cond | c)
    hits = ranked.filter(cond).select(value, "bucket", "lrk").collect()
    for rk, b, lrk in wanted:
        for h in hits:
            if h["bucket"] == b and h["lrk"] == lrk:
                out[rk] = h[value]
    return out


def bucketed_global_rank(
    df: DataFrame,
    value: str,
    tiebreaks: list[str],
    rank_name: str = "grk",
    descending: bool = False,
    cumsum_of: str | None = None,
    cumsum_name: str = "gcum",
) -> DataFrame:
    """EXACT global row_number over (value [DESC], tiebreaks...) without
    an Exchange SinglePartition: sketch boundaries bucket the value
    domain (equal values always share a bucket, so the within-bucket
    order extends the global order); per-bucket counts telescope into
    exclusive offsets via a buckets-bounded window; global rank = offset
    + bucket-local row_number. Replaces `row_number()/ntile() OVER
    (ORDER BY ...)` wherever the input is table-sized."""
    qs = [i / ORD_BUCKETS for i in range(1, ORD_BUCKETS)]
    bounds = df.agg(F.percentile_approx(value, qs, 10_000).alias("b")).collect()[0]["b"]
    if bounds is None:
        # percentile_approx of zero rows is NULL — same guard as
        # exact_rank_values above: fail with the cause, not
        # an opaque TypeError iterating None
        raise ValueError(
            f"bucketed_global_rank: input has no non-null rows of {value!r}"
        )
    v = F.col(value)
    b = F.lit(0)
    for i, cut in enumerate(bounds):
        b = F.when(v > F.lit(cut), i + 1).otherwise(b)
    if descending:
        b = F.lit(ORD_BUCKETS - 1) - b  # mirror so bucket order follows DESC
    bucketed = df.withColumn("__bkt", b)
    aggs = [F.count(F.lit(1)).alias("__n")]
    if cumsum_of is not None:
        aggs.append(F.sum(cumsum_of).alias("__s"))
    counts = bucketed.groupBy("__bkt").agg(*aggs)
    woff = W.orderBy("__bkt").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.withColumn("__off", F.coalesce(F.sum("__n").over(woff), F.lit(0)))
    keep = ["__bkt", "__off"]
    if cumsum_of is not None:
        offsets = offsets.withColumn(
            "__soff", F.coalesce(F.sum("__s").over(woff), F.lit(0))
        )
        keep.append("__soff")
    offsets = offsets.select(*keep)
    order = [F.desc(value) if descending else F.asc(value)] + [F.asc(t) for t in tiebreaks]
    wl = W.partitionBy("__bkt").orderBy(*order)
    wcum = wl.rowsBetween(W.unboundedPreceding, 0)
    out = bucketed.withColumn("__lrk", F.row_number().over(wl))
    if cumsum_of is not None:
        out = out.withColumn("__lcum", F.sum(cumsum_of).over(wcum))
    out = out.join(F.broadcast(offsets), "__bkt").withColumn(
        rank_name, (F.col("__off") + F.col("__lrk")).cast("bigint")
    )
    drop = ["__bkt", "__lrk", "__off"]
    if cumsum_of is not None:
        # exact when the summed column is DECIMAL/integer (associative);
        # the caller owns quantization for floats
        out = out.withColumn(cumsum_name, F.col("__soff") + F.col("__lcum"))
        drop += ["__soff", "__lcum"]
    return out.drop(*drop)


def ntile_from_rank(rank: Column, n: Column | int, tiles: int) -> Column:
    """Spark/SQL ntile(t) reconstructed from a 1-based global rank and
    the total row count: the first n % t tiles hold ceil(n/t) rows, the
    rest floor(n/t) — bit-identical to the window function, computable
    map-side once the rank exists."""
    n = F.lit(n) if isinstance(n, int) else n
    q = F.floor(n / tiles)
    rem = n % tiles
    big = rem * (q + 1)
    return (
        F.when(rank <= big, F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(rem + F.floor((rank - big - 1) / q) + 1)
        .cast("int")
    )
