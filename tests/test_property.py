"""Property-based tests (hypothesis) for the pure-Python layers:
config parsing and pagination URL construction.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from http_datafusion_spark.config import Config, Pagination
from http_datafusion_spark.sources.http_json import build_page_url

names = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="_"),
    min_size=1,
    max_size=20,
)


@settings(max_examples=200, deadline=None)
@given(
    name=names,
    url=st.text(min_size=1, max_size=50).map(lambda s: "http://h/" + s.replace(" ", "")),
    method=st.sampled_from(["GET", "POST", "get", "post"]),
    sql=st.none() | st.text(max_size=100),
)
def test_config_roundtrip_never_crashes(name, url, method, sql):
    cfg = Config.from_dict(
        {"sources": [{"name": name, "url": url, "method": method, "sql": sql}]}
    )
    src = cfg.sources[0]
    assert src.method in ("GET", "POST")  # normalized upper
    assert src.name == name


@settings(max_examples=200, deadline=None)
@given(
    page=st.integers(min_value=0, max_value=10**6),
    size=st.integers(min_value=1, max_value=10**4),
    page_param=names,
    size_param=names,
    has_query=st.booleans(),
)
def test_page_url_composition(page, size, page_param, size_param, has_query):
    base = "http://api/items" + ("?fixed=1" if has_query else "")
    pag = Pagination(page_size=size, page_param=page_param, page_size_param=size_param)
    url = build_page_url(base, pag, page)
    sep = "&" if has_query else "?"
    assert url == f"{base}{sep}{page_param}={page}&{size_param}={size}"
    assert url.count("?") == 1  # never doubles the query separator


def test_train_val_split_partitions_every_doc(spark, sf_dir):
    # The three splits must cover documents exactly (complete + disjoint)
    # and be stable across invocations (hash-gated, not rand()).
    from http_datafusion_spark.plans.registry import all_queries
    from http_datafusion_spark.plans.tables import load_tables

    q = all_queries()["train_val_split"]
    total_docs = load_tables(spark, sf_dir, "documents")["documents"].count()
    out1 = {tuple(r) for r in q.spark(spark, sf_dir).collect()}
    out2 = {tuple(r) for r in q.spark(spark, sf_dir).collect()}
    assert out1 == out2  # deterministic
    assert sum(r[2] for r in out1) == total_docs  # complete + disjoint
    assert {r[1] for r in out1} <= {"train", "val", "test"}


def test_balance_sources_respects_cap(spark, sf_dir):
    from http_datafusion_spark.operators.pipeline import BALANCE_CAP
    from http_datafusion_spark.plans.registry import all_queries

    out = all_queries()["balance_sources"].spark(spark, sf_dir).collect()
    per_source: dict[str, int] = {}
    for r in out:
        per_source[r.source] = per_source.get(r.source, 0) + 1
    assert per_source and max(per_source.values()) <= BALANCE_CAP


def test_shuffle_shards_is_a_permutation(spark, sf_dir):
    # Shards partition the corpus (sum of shard sizes == corpus size),
    # every shard's positions are contiguous 1..n (checksum recomputable),
    # and the assignment is stable across invocations.
    from http_datafusion_spark.operators.pipeline import N_SHARDS
    from http_datafusion_spark.plans.registry import all_queries
    from http_datafusion_spark.plans.tables import load_tables

    q = all_queries()["train_shuffle_shards"]
    total = load_tables(spark, sf_dir, "documents")["documents"].count()
    rows1 = {tuple(r) for r in q.spark(spark, sf_dir).collect()}
    rows2 = {tuple(r) for r in q.spark(spark, sf_dir).collect()}
    assert rows1 == rows2  # hash-seeded, not rand()
    assert sum(r[1] for r in rows1) == total  # complete + disjoint
    assert len(rows1) <= N_SHARDS
    assert {r[0] for r in rows1} <= set(range(N_SHARDS))


def test_salted_agg_equals_plain_groupby(spark, sf_dir):
    # The salt stage must be invisible in the result: compare against a
    # directly-computed plain aggregation (not the oracle — this guards
    # the Spark-side algebra itself).
    from pyspark.sql import functions as F

    from http_datafusion_spark.plans.registry import all_queries
    from http_datafusion_spark.plans.tables import load_tables

    q = all_queries()["q_salted_skew_agg"]
    got = {tuple(r) for r in q.spark(spark, sf_dir).collect()}
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    plain = {
        tuple(r)
        for r in li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.min("l_quantity"), 2).alias("min_qty"),
            F.round(F.max("l_quantity"), 2).alias("max_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .collect()
    }
    assert got == plain


def test_ewma_matches_python_reference(spark, sf_dir):
    # Recompute the EWMA for a handful of users with a plain-Python fold
    # over the same (ts, event_id) order.
    from http_datafusion_spark.operators.timeseries import _EWMA_W, EWMA_K
    from http_datafusion_spark.plans.registry import all_queries
    from http_datafusion_spark.plans.tables import load_tables

    q = all_queries()["ts_ewma"]
    got = {(r.user_id, r.event_id): r.ewma for r in q.spark(spark, sf_dir).collect()}
    ev = load_tables(spark, sf_dir, "events")["events"]
    rows = sorted(
        ev.select("user_id", "event_id", "ts", "value").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    checked = 0
    for uid in list(by_user)[:5]:
        series = by_user[uid]
        for i, r in enumerate(series):
            num, den = 0.0, 0.0
            for j in range(EWMA_K):
                if i - j < 0:
                    break
                num += _EWMA_W[j] * series[i - j].value
                den += _EWMA_W[j]
            assert abs(got[(uid, r.event_id)] - round(num / den, 6)) <= 1e-6
            checked += 1
    assert checked > 50


def test_cdc_compaction_matches_python_reference(spark, sf_dir):
    from http_datafusion_spark.plans.registry import all_queries
    from http_datafusion_spark.plans.tables import load_tables

    q = all_queries()["cdc_upsert_compaction"]
    got = {r.user_id: (r.last_event_id, r.last_type) for r in q.spark(spark, sf_dir).collect()}
    ev = load_tables(spark, sf_dir, "events")["events"]
    latest: dict[int, tuple] = {}
    for r in ev.select("user_id", "event_id", "ts", "event_type").collect():
        k = (r.ts, r.event_id)
        if r.user_id not in latest or k > latest[r.user_id][0]:
            latest[r.user_id] = (k, r.event_id, r.event_type)
    expect = {
        uid: (eid, et) for uid, (_, eid, et) in latest.items() if et != "error"
    }
    assert got == expect


def test_tokenize_ids_consistent_with_vocab(spark, sf_dir):
    # Every non-OOV id must be within 1..VOCAB_SIZE, OOV count + in-vocab
    # count == token count, and the prefix length is bounded.
    from http_datafusion_spark.operators.text import TOKENIZE_PREFIX, VOCAB_SIZE
    from http_datafusion_spark.plans.registry import all_queries

    rows = all_queries()["tokenize_to_ids"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        ids = [int(x) for x in r.ids_prefix.split("-") if x != ""]
        assert len(ids) <= TOKENIZE_PREFIX
        assert all(0 <= i <= VOCAB_SIZE for i in ids)
        assert 0 <= r.n_oov <= r.n_tokens


def test_scd2_intervals_tile_each_key(spark, sf_dir):
    # Per key: versions are 1..n dense, exactly one open (is_current)
    # interval, every valid_to equals the next version's valid_from
    # (no gaps, no overlaps), and version count equals the row count.
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from http_datafusion_spark.plans.registry import all_queries
    from http_datafusion_spark.plans.tables import load_tables

    df = all_queries()["cdc_scd2_intervals"].spark(spark, sf_dir).cache()
    try:
        n_events = load_tables(spark, sf_dir, "events")["events"].count()
        assert df.count() == n_events  # every change opens exactly one version

        per_key = df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("version").alias("max_v"),
            F.sum(F.col("is_current").cast("int")).alias("n_open"),
        )
        bad = per_key.filter(
            (F.col("n") != F.col("max_v")) | (F.col("n_open") != 1)
        ).count()
        assert bad == 0  # dense versions, exactly one current row per key

        w = W.partitionBy("user_id").orderBy("version")
        chained = df.withColumn("next_from", F.lead("valid_from").over(w))
        gaps = chained.filter(
            F.col("next_from").isNotNull() & (F.col("valid_to") != F.col("next_from"))
        ).count()
        assert gaps == 0  # intervals tile the key's timeline
    finally:
        df.unpersist()


def test_json_staging_survives_ragged_rows(spark):
    # The ingest path must stage ANY mix of JSON objects a real API can
    # emit — missing keys, nulls, int/float promotion, nested objects,
    # lists — without crashing, preserving row count, and unioning the
    # key space (full-scan inference; the reference's first-record mode
    # would drop late-only fields).
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from http_datafusion_spark.sources.http_json import json_rows_to_df

    scalars = st.none() | st.booleans() | st.integers(-10**9, 10**9) | st.floats(
        allow_nan=False, allow_infinity=False, width=32
    ) | st.text(max_size=12)
    values = st.recursive(
        scalars,
        lambda kids: st.lists(kids, max_size=3)
        | st.dictionaries(st.sampled_from("abcd"), kids, max_size=3),
        max_leaves=6,
    )
    rows_strategy = st.lists(
        st.dictionaries(st.sampled_from(["k1", "k2", "k3", "k4"]), values, max_size=4),
        min_size=1,
        max_size=8,
    )

    def has_typed_scalar(v) -> bool:
        # Inference can only type a field that somewhere carries a
        # concrete scalar; a key whose values are all None/{}/[] is
        # legitimately dropped (an empty struct has no type).
        if isinstance(v, (bool, int, float, str)):
            return True
        if isinstance(v, list):
            return any(has_typed_scalar(x) for x in v)
        if isinstance(v, dict):
            return any(has_typed_scalar(x) for x in v.values())
        return False

    @settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(rows=rows_strategy)
    def run(rows):
        df = json_rows_to_df(spark, rows)
        assert df.count() == len(rows)
        typed_keys = {
            k for r in rows for k, v in r.items() if has_typed_scalar(v)
        }
        # every key that somewhere carries typed data becomes a column
        assert typed_keys <= set(df.columns)

    run()


def test_json_staging_empty_object_vs_typed_scalar_pinned(spark):
    # Deterministic pin of a falsifying example Hypothesis found: a key
    # carrying an empty object in
    # one row and a typed scalar in another must survive as a column.
    # Without staging normalization, Spark's JSON schema merge cancels
    # k3 entirely and the '' value is silently lost.
    from http_datafusion_spark.sources.http_json import json_rows_to_df

    rows = [{"k3": {}}, {"k1": [], "k3": ""}]
    df = json_rows_to_df(spark, rows)
    assert df.count() == 2
    assert "k3" in df.columns
    got = sorted((r["k3"] for r in df.select("k3").collect()), key=lambda v: (v is None, v))
    assert got == ["", None]

    # nested variant: the conflict one level down must not cancel the
    # top-level column either
    rows = [{"k2": {"a": {}, "b": 1}}, {"k2": {"a": "x", "b": 2}}]
    df = json_rows_to_df(spark, rows)
    assert "k2" in df.columns
    assert df.selectExpr("k2.a").count() == 2
    vals = {r[0] for r in df.selectExpr("k2.a").collect()}
    assert vals == {None, "x"}

    # empty-list vs scalar conflict
    rows = [{"k1": []}, {"k1": 7}]
    df = json_rows_to_df(spark, rows)
    assert "k1" in df.columns
    assert {r[0] for r in df.select("k1").collect()} == {None, 7}


def test_json_staging_keeps_values_and_order_across_line_chunks(spark):
    # Staging ships its JSON lines to the JVM several to a string and
    # splits them there: a value holding newlines, carriage returns or
    # non-ASCII text must come back exactly, and rows keep their order.
    from http_datafusion_spark.sources.http_json import json_rows_to_df

    n = 4 * spark.sparkContext.defaultParallelism + 3
    rows = [{"id": i, "s": f"row{i}\nnext\r\n\u2028é" * (i % 3)} for i in range(n)]
    got = [(r.id, r.s) for r in json_rows_to_df(spark, rows).collect()]
    assert got == [(r["id"], r["s"]) for r in rows]


def test_connected_components_long_path_converges_logarithmically(spark, caplog):
    """Adversarial shape for label propagation: a pure path graph whose
    diameter (n-1) vastly exceeds log n. Plain propagation needs
    ~diameter rounds; large-star/small-star contracts in O(log^2 n) —
    this proves the bound empirically (256-node path, permuted ids so
    the component min sits mid-chain, must converge in <= 12 rounds,
    not ~255)."""
    import logging
    import random

    from http_datafusion_spark.operators.components import connected_components

    n = 256
    rng = random.Random(11)
    ids = list(range(1000, 1000 + n))
    rng.shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    # a second, disjoint path to prove components stay separate
    ids2 = [5000 + i * 7 for i in range(40)]
    edges += [(ids2[i], ids2[i + 1]) for i in range(len(ids2) - 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")

    with caplog.at_level(logging.DEBUG, logger="http_datafusion_spark.operators.components"):
        result = {r.node: r.component for r in connected_components(df, max_iter=14).collect()}

    assert all(result[i] == min(ids) for i in ids)
    assert all(result[i] == min(ids2) for i in ids2)
    rounds = [
        int(rec.args[0])
        for rec in caplog.records
        if "converged after" in rec.getMessage()
    ]
    assert rounds and rounds[-1] <= 12, f"rounds: {rounds}"


def test_fixedpoint_int_forms_equal_decimal_cast(spark):
    """Property: for 2-decimal money/rate columns, the pure-int64
    fixed-point forms (functions/fixedpoint.py) are bit-equal to the
    decimal(18,6)-cast formulation the oracles use — over adversarial
    magnitudes including round-half-boundary products."""
    import random

    from pyspark.sql import functions as F

    from http_datafusion_spark.functions.fixedpoint import (
        charge6,
        i100,
        int_fixed,
        money_x_rate6,
        mul_fixed6,
    )

    rng = random.Random(17)
    rows = []
    for _ in range(4000):
        money = round(rng.uniform(0, 150000), 2)
        rate = round(rng.uniform(0, 0.99), 2)
        tax = round(rng.uniform(0, 0.99), 2)
        rows.append((money, rate, tax))
    # adversarial fixed cases: .x5 boundaries, zeros, maxima
    # (2-decimal inputs only — the documented precondition of i100;
    # a 3-decimal value like 12345.675 is outside the contract and
    # does diverge)
    rows += [(0.05, 0.5, 0.5), (0.01, 0.01, 0.01), (104999.91, 0.1, 0.08),
             (12345.67, 0.25, 0.75), (0.0, 0.0, 0.0)]
    df = spark.createDataFrame(rows, "m double, r double, t double")
    checks = df.select(
        (money_x_rate6("m", "r") == int_fixed(F.col("m") * (1 - F.col("r")))).alias("a"),
        (charge6("m", "r", "t") == int_fixed(F.col("m") * (1 - F.col("r")) * (1 + F.col("t")))).alias("b"),
        (mul_fixed6("m", "r") == int_fixed(F.col("m") * F.col("r"))).alias("c"),
        (i100("m") * 10_000 == int_fixed(F.col("m"))).alias("d"),
    )
    agg = checks.agg(*[F.sum(F.when(F.col(x), 0).otherwise(1)).alias(x) for x in "abcd"]).first()
    assert all(agg[x] == 0 for x in "abcd"), dict(agg.asDict())


def test_two_level_agg_exact_at_overflow_scale(spark):
    """Property: the two-level fixed-point merge is exact even when the
    GLOBAL sum overflows int64 — per-partition partials stay in range,
    the decimal(38,0) merge carries the total."""
    from pyspark.sql import functions as F

    from http_datafusion_spark.functions.fixedpoint import dsum, two_level_agg

    # 64 partitions x 200 rows x 1e15 per row: per-partition partial
    # 2e17 (int64-safe), global 1.28e19 > 2^63-1 (overflows a single-
    # level bigint sum).
    per_row = 10**15
    n_part, n_rows = 64, 200
    df = (
        spark.range(n_part * n_rows)
        .repartition(n_part)
        .select(F.lit("g").alias("k"), F.lit(per_row).cast("bigint").alias("v"))
    )
    out = two_level_agg(
        df, ["k"], partial={"s": F.sum("v")}, final={"total": dsum("s")}
    ).first()
    assert int(out.total) == per_row * n_part * n_rows  # 1.28e19, exact


def test_two_phase_rank_equals_single_window(spark):
    """The two-phase within-shard rank (per-(shard, hb) counts ->
    exclusive offsets -> bucket-local row_number) must be bit-identical
    to the single per-shard window it replaced, for ANY hash values —
    including collisions and empty sub-buckets. Property-checked on
    synthetic (h, doc_id) sets driven through both formulations."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2**60 - 1),  # h
                st.integers(min_value=0, max_value=99),  # doc_id
            ),
            min_size=1,
            max_size=60,
            unique_by=lambda t: t[1],
        )
    )
    def check(rows):
        df = spark.createDataFrame(rows, "h bigint, doc_id bigint").withColumn(
            "shard", (F.col("h") % 16).cast("bigint")
        )
        single = df.withColumn(
            "pos", F.row_number().over(W.partitionBy("shard").orderBy("h", "doc_id"))
        )
        hb = df.withColumn("hb", F.shiftright(F.col("h"), 54))
        counts = hb.groupBy("shard", "hb").agg(F.count(F.lit(1)).alias("cnt"))
        off = F.coalesce(
            F.sum("cnt").over(
                W.partitionBy("shard").orderBy("hb").rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        offsets = counts.select("shard", "hb", off.alias("off"))
        local = F.row_number().over(
            W.partitionBy("shard", "hb").orderBy("h", "doc_id")
        )
        two = hb.join(offsets, ["shard", "hb"]).withColumn(
            "pos", F.col("off") + local
        )
        a = {(r.shard, r.doc_id, r.pos) for r in single.collect()}
        b = {(r.shard, r.doc_id, r.pos) for r in two.collect()}
        assert a == b

    check()


# --------------------- cursor pagination ---------------------


@settings(max_examples=200, deadline=None)
@given(
    cursor=st.one_of(st.none(), st.text(min_size=1, max_size=30)),
    size=st.one_of(st.none(), st.integers(min_value=1, max_value=10**4)),
    cursor_param=names,
    size_param=names,
    has_query=st.booleans(),
)
def test_cursor_url_composition(cursor, size, cursor_param, size_param, has_query):
    from urllib.parse import parse_qs, urlparse

    from hypothesis import assume

    from http_datafusion_spark.config import CursorPagination
    from http_datafusion_spark.sources.http_json import build_cursor_url

    assume(cursor_param != size_param)  # distinct params, as any real API
    base = "http://api/items" + ("?fixed=1" if has_query else "")
    cp = CursorPagination(
        cursor_param=cursor_param, page_size=size, page_size_param=size_param
    )
    url = build_cursor_url(base, cp, cursor)
    assert url.count("?") <= 1  # never doubles the query separator
    q = parse_qs(urlparse(url).query)
    if cursor is None:
        assert cursor_param not in q  # first request sends no token
    else:
        assert q[cursor_param] == [cursor]  # round-trips through URL encoding
    if size is None:
        assert size_param not in q or size_param == cursor_param
    elif size_param != cursor_param:
        assert q[size_param] == [str(size)]


@settings(max_examples=100, deadline=None)
@given(
    n_rows=st.integers(min_value=0, max_value=95),
    page_size=st.integers(min_value=1, max_value=25),
    reserve_at=st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
)
def test_cursor_walk_drains_exactly_and_never_loops(n_rows, page_size, reserve_at):
    """The cursor walk must return every row exactly once in order, issue
    exactly ceil(n/size) requests — and, when the server re-serves a
    token at page `reserve_at` (a real API bug), stop instead of
    looping, having collected each served page once."""
    from unittest.mock import patch

    from http_datafusion_spark.config import CursorPagination
    from http_datafusion_spark.sources import http_json as hj

    rows = [{"id": i} for i in range(n_rows)]
    calls = []

    def fake_fetch(url, method, headers, json_body):
        from urllib.parse import parse_qs, urlparse

        calls.append(url)
        q = parse_qs(urlparse(url).query)
        cur = q.get("cursor", [None])[0]
        off = int(cur.removeprefix("tok")) if cur else 0
        page_no = off // page_size
        if reserve_at is not None and page_no >= reserve_at:
            nxt = f"tok{reserve_at * page_size}"  # re-served token
        elif off + page_size < n_rows:
            nxt = f"tok{off + page_size}"
        else:
            nxt = None
        return {"data": rows[off : off + page_size], "next_cursor": nxt}, {}

    with patch.object(hj, "_fetch_page", side_effect=fake_fetch):
        got = hj.fetch_rows("http://api/items", paging=CursorPagination(max_pages=500))
    if reserve_at is None:
        assert got == rows
        expected_calls = max(1, -(-n_rows // page_size))
        assert len(calls) == expected_calls
    else:
        # stops at the re-served token; every returned row was served
        # by the walk and the request count is bounded by the bug page.
        assert len(calls) <= reserve_at + 2
        assert len(got) <= (reserve_at + 2) * page_size


@settings(max_examples=50, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=40),
    m=st.integers(min_value=1, max_value=1300),
    d=st.integers(min_value=1, max_value=80),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_fold_dot_tiling_is_bit_identical(n, m, d, seed):
    """fold_dot is tiled over B-columns (cache-resident
    accumulator). Tiling partitions independent OUTPUT elements; each
    element's dim-by-dim accumulation order must be unchanged, so the
    result must equal the untiled sequential fold BIT-FOR-BIT — this is
    the property the SQL-oracle parity of every fold consumer (dedup
    cosine tiles, PQ, IVF, bucket-kNN) rests on. m ranges across the
    512-column tile boundary."""
    import numpy as np

    from http_datafusion_spark.functions.veclib import fold_dot

    rng = np.random.default_rng(seed)
    A = rng.standard_normal((n, d)).astype(np.float32).astype(np.float64)
    B = rng.standard_normal((m, d)).astype(np.float32).astype(np.float64)
    ref = np.zeros((n, m))
    for k in range(d):
        ref += A[:, k : k + 1] * B[:, k][None, :]
    assert np.array_equal(fold_dot(A, B), ref)


# ------------------------------------------- RFC 8288 Link parsing

_URL_CHARS = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters="/?=&.-_%:,"
    ),
    min_size=1,
    max_size=40,
).filter(lambda s: ">" not in s and "<" not in s)

_REL_OTHER = st.sampled_from(["prev", "first", "last", "self", "alternate"])


@given(
    target=_URL_CHARS,
    quoted=st.booleans(),
    extra_rels=st.lists(st.tuples(_URL_CHARS, _REL_OTHER), max_size=3),
    trailing_params=st.booleans(),
    multi_rel=st.booleans(),
    position=st.integers(min_value=0, max_value=3),
    poison_titles=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_parse_link_next_finds_planted_target(
    target, quoted, extra_rels, trailing_params, multi_rel, position, poison_titles
):
    """Whatever non-next link-values surround it, in any order, the
    planted rel=next target is recovered verbatim — and absent a next
    link the parser returns None. ``poison_titles`` plants a quoted
    ``;rel=next`` inside the NON-next links' title params: a bare ';' split tears that quote open and misreads
    the fragment as a rel param, returning the wrong link."""
    from http_datafusion_spark.sources.http_json import parse_link_next

    rel_val = "next last" if multi_rel else "next"
    rel = f'"{rel_val}"' if (quoted or multi_rel) else rel_val
    next_link = f"<{target}>; rel={rel}"
    if trailing_params:
        # a comma INSIDE a quoted param value is not a list delimiter
        next_link += '; title="x, y"'
    title = '"x;rel=next"' if poison_titles else '"a,b"'
    others = [f'<{u}>; title={title}; rel="{r}"' for u, r in extra_rels]
    links = others[:position] + [next_link] + others[position:]
    assert parse_link_next(", ".join(links)) == target
    # with the next link removed, nothing else may match
    assert parse_link_next(", ".join(others)) is None


# --------------------------- closed-form kernels (pure integer/decimal)


@given(
    n_s=st.integers(min_value=1, max_value=5000),
    k=st.sampled_from([1, 2, 8, 32, 64]),
)
@settings(max_examples=300, deadline=None)
def test_quantile_sketch_blocks_partition_ranks_exactly(n_s, k):
    """The equi-depth block formulas quantile_sketch_audit relies on:
    blk(rn) = floor((rn-1)k/n_s) buckets local ranks 1..n_s into blocks
    whose closed-form boundaries lo(b) = ceil(b*n_s/k), hi(b) =
    ceil((b+1)*n_s/k) partition the ranks EXACTLY (weights sum to n_s,
    every block size within ceil(n_s/k)), and the mid-rank the operator
    keeps falls inside its own block."""
    import math

    def blk(rn):
        return (rn - 1) * k // n_s

    def lo(b):
        return (b * n_s + k - 1) // k

    def hi(b):
        return ((b + 1) * n_s + k - 1) // k

    blocks = sorted({blk(rn) for rn in range(1, n_s + 1)})
    total_w = 0
    for b in blocks:
        members = [rn for rn in range(1, n_s + 1) if blk(rn) == b]
        # closed-form boundaries match the actual membership
        assert members == list(range(lo(b) + 1, hi(b) + 1))
        w = hi(b) - lo(b)
        assert w == len(members)
        assert w <= math.ceil(n_s / k)
        total_w += w
        mid = lo(b) + 1 + (w - 1) // 2
        assert mid in members  # the kept representative is in its block
    assert total_w == n_s  # weights partition the shard


@given(
    xs=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=200
    ),
    mu_milli=st.integers(min_value=0, max_value=10_000_000),
    k_milli=st.integers(min_value=0, max_value=1_000_000),
)
@settings(max_examples=300, deadline=None)
def test_cusum_scan_identity_equals_recursion(xs, mu_milli, k_milli):
    """events_cusum_drift computes Page's g_t via the scan identity
    g_t = S_t - min(0, min_{u<=t} S_u); it must equal the textbook
    recursion g_t = max(0, g_{t-1} + dev_t) for every prefix, for any
    integer series and any (mu, slack)."""
    from decimal import Decimal

    mu = Decimal(mu_milli) / 1000
    kk = Decimal(k_milli) / 1000
    devs = [Decimal(x) - mu - kk for x in xs]
    # recursion
    g, rec = Decimal(0), []
    for d in devs:
        g = max(Decimal(0), g + d)
        rec.append(g)
    # scan identity
    s, smin, scan = Decimal(0), Decimal(0), []
    for d in devs:
        s += d
        smin = min(smin, s)
        scan.append(s - min(Decimal(0), smin))
    assert scan == rec
