"""Curation operators — properties and plan shapes beyond the
oracle-parity sweep: sketch error bounds, the winnowing guarantee,
blocking-join plan shape, broadcast deletion cascade, and the
incremental store's consistency with the batch pair computation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from http_datafusion_spark.operators.curation import (
    CMS_DEPTH,
    CMS_WIDTH,
    KMV_K,
    WINNOW_W,
    cms_heavy_hitters,
    dedup_incremental_minhash,
    deletion_propagate,
    fuzzy_join_blocked,
    histogram_equi_depth,
    kmv_distinct_sketch,
    quality_adaptive_filter,
    split_leakage_safe,
)
from http_datafusion_spark.operators.dedup import dedup_minhash_pairs
from http_datafusion_spark.functions.tokens import whitespace_tokens
from http_datafusion_spark.plans.tables import load_tables


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cms_never_underestimates(spark, sf_dir):
    """The count-min guarantee: est >= true count, for every token the
    sketch reports (one-sided error is THE property of the sketch)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    true_counts = {
        r["tok"]: r["c"]
        for r in d.select(F.explode(whitespace_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    for row in cms_heavy_hitters(spark, sf_dir).collect():
        assert row["est_count"] >= true_counts[row["tok"]], row


def test_cms_sketch_is_fixed_size(spark, sf_dir):
    """The grid the estimates come from is <= d*w cells regardless of
    corpus size — that bounded intermediate is the 100 TB argument."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    from http_datafusion_spark.functions.hashing import salted_hash
    from http_datafusion_spark.operators.curation import CMS_SALT

    toks = d.select(F.explode(whitespace_tokens(F.col("text"))).alias("tok"))
    cells = toks.select(
        *[
            (salted_hash(F.col("tok"), CMS_SALT + dd) % CMS_WIDTH).alias(f"b{dd}")
            for dd in range(CMS_DEPTH)
        ]
    )
    n_cells = (
        cells.select(F.explode(F.array(*[F.col(f"b{d}") for d in range(CMS_DEPTH)])).alias("b"))
        .distinct()
        .count()
    )
    assert n_cells <= CMS_DEPTH * CMS_WIDTH


def test_kmv_estimate_within_bound(spark, sf_dir):
    """KMV standard error is ~1/sqrt(k-2) (~18% at k=32); assert the
    merged '__ALL__' estimate lands within 4 sigma of the true NDV."""
    from http_datafusion_spark.operators.dedup import shingled_docs

    true_ndv = shingled_docs(spark, sf_dir).select("shingle").distinct().count()
    rows = {r["source"]: r for r in kmv_distinct_sketch(spark, sf_dir).collect()}
    est = rows["__ALL__"]["kmv_est"]
    if rows["__ALL__"]["n_sketch"] < KMV_K:
        assert est == true_ndv  # exact below the sketch threshold
    else:
        rel_err = abs(est - true_ndv) / true_ndv
        assert rel_err < 4.0 / (KMV_K - 2) ** 0.5, (est, true_ndv, rel_err)


def test_winnowing_selects_guaranteed_fingerprints(spark, sf_dir):
    """Schleimer et al.'s guarantee, checked on real near-dups: any two
    docs whose MinHash similarity is 1.0 (identical shingle sets, so
    every window selects the same mins) must share winnowing
    fingerprints too."""
    from http_datafusion_spark.operators.curation import dedup_winnowing

    exact_dups = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_pairs(spark, sf_dir)
        .filter(F.col("est_jaccard") == 1.0)
        .collect()
    }
    if not exact_dups:
        return  # corpus has no identical pairs at this sf — vacuous
    winnow_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dedup_winnowing(spark, sf_dir).collect()
    }
    missing = exact_dups - winnow_pairs
    assert not missing, f"identical docs missing winnowing match: {missing}"


def test_fuzzy_join_is_blocked_not_cartesian(spark, sf_dir):
    """The blocking key must plan as an equi-join (hash/merge); the
    levenshtein verifier must NOT force a nested-loop/cartesian plan —
    that is the difference between O(sum block^2) and O(N^2)."""
    s = plan_of(fuzzy_join_blocked(spark, sf_dir))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_deletion_cascade_keys_hint_free_but_aqe_broadcasts(spark, sf_dir):
    """The deletion key sets carry no forced F.broadcast (the demo
    predicate selects ~9% of customers — a linear fraction; del_orders
    is fact-derived): NO baked-in hint in the logical plan, and AQE still broadcast-converts at runtime when
    the key set is genuinely small (it is at test scale)."""
    df = deletion_propagate(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint (strategy=broadcast" not in analyzed
    df.collect()  # materialize so AQE finalizes the adaptive plan
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final  # AQE promoted the small side


def test_deletion_counts_are_consistent(spark, sf_dir):
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    totals = {n: t[n].count() for n in ("customer", "orders", "lineitem")}
    for r in deletion_propagate(spark, sf_dir).collect():
        assert r["n_deleted"] + r["n_surviving"] == totals[r["table_name"]]


def test_incremental_matches_batch_pairs(spark, sf_dir):
    """The store-probing incremental path must find exactly the batch
    pairs that cross the old/new parity boundary — same candidates,
    same verification, different (O(batch)) cost shape."""
    batch = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in dedup_minhash_pairs(spark, sf_dir).collect()
        if (r["doc_a"] % 2) != (r["doc_b"] % 2)  # one old, one new
    }
    # normalize batch pairs to (new_doc, old_doc)
    batch_norm = {
        (a if a % 2 else b, b if a % 2 else a, j) for a, b, j in batch
    }
    incr = {
        (r["new_doc"], r["old_doc"], r["est_jaccard"])
        for r in dedup_incremental_minhash(spark, sf_dir).collect()
    }
    assert incr == batch_norm


def test_incremental_store_is_band_partitioned(spark, sf_dir):
    import os

    from http_datafusion_spark.operators.curation import signature_store_dir

    store = signature_store_dir(spark, sf_dir)
    bands = sorted(e for e in os.listdir(store) if e.startswith("band="))
    assert bands == ["band=0", "band=1", "band=2", "band=3"]


def test_histogram_buckets_are_ordered_and_balanced(spark, sf_dir):
    rows = sorted(histogram_equi_depth(spark, sf_dir).collect(), key=lambda r: r["bucket"])
    assert [r["bucket"] for r in rows] == list(range(1, len(rows) + 1))
    # equi-depth: ntile spreads rows within +-1 of each other
    sizes = [r["n_rows"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # bucket ranges are non-decreasing
    for prev, cur in zip(rows, rows[1:]):
        assert prev["hi"] <= cur["lo"] or abs(prev["hi"] - cur["lo"]) < 1e-9


def test_adaptive_filter_drops_about_a_decile(spark, sf_dir):
    from http_datafusion_spark.operators.curation import QUALITY_DROP_FRAC

    for r in quality_adaptive_filter(spark, sf_dir).collect():
        n = r["n_kept"] + r["n_dropped"]
        # the ORDER BY (score, doc_id) tiebreak makes ranks unique, so
        # percent_rank == (row-1)/(n-1) and the drop count is exactly
        # the number of rows with that value below the threshold
        expected = 1 if n == 1 else sum(
            1 for i in range(n) if i / (n - 1) < QUALITY_DROP_FRAC
        )
        assert r["n_dropped"] == expected, (r, expected)


def test_leakage_safe_split_has_no_straddling_cluster(spark, sf_dir):
    """The defining property: no near-dup pair may span two splits."""
    from http_datafusion_spark.functions.hashing import md5_int
    from http_datafusion_spark.operators.components import connected_components
    from http_datafusion_spark.operators.curation import SPLIT_TRAIN_PCT, SPLIT_VAL_PCT

    pairs = dedup_minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    d = load_tables(spark, sf_dir, "documents")["documents"]
    assigned = d.join(comp, d["doc_id"] == comp["node"], "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("comp_id")
    )
    bucket = md5_int(F.concat(F.lit("lsplit|"), F.col("comp_id").cast("string"))) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    doc_split = {r["doc_id"]: r["s"] for r in assigned.select("doc_id", split.alias("s")).collect()}
    for r in dedup_minhash_pairs(spark, sf_dir).collect():
        assert doc_split[r["doc_a"]] == doc_split[r["doc_b"]], r

    # and the aggregate view agrees with a direct count
    total = sum(r["n_docs"] for r in split_leakage_safe(spark, sf_dir).collect())
    assert total == d.count()


def test_market_basket_topk_fuses_to_take_ordered(spark, sf_dir):
    from http_datafusion_spark.operators.curation import orders_market_basket

    s = plan_of(orders_market_basket(spark, sf_dir))
    assert "TakeOrderedAndProject" in s  # top-k by lift, no global sort


def test_pit_join_preserves_every_purchase(spark, sf_dir):
    """Left-join semantics: each purchase appears in exactly one state
    group (the 'none' group catches pre-first-state purchases)."""
    from http_datafusion_spark.operators.curation import scd2_point_in_time_join

    ev = load_tables(spark, sf_dir, "events")["events"]
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    rows = scd2_point_in_time_join(spark, sf_dir).collect()
    assert sum(r["n_purchases"] for r in rows) == n_purch
    assert all(r["state_at_purchase"] != "purchase" for r in rows)


def test_ab_arms_are_deterministic_and_disjoint(spark, sf_dir):
    from http_datafusion_spark.operators.curation import events_ab_lift

    r = events_ab_lift(spark, sf_dir).collect()[0]
    ev = load_tables(spark, sf_dir, "events")["events"]
    n_users = ev.select("user_id").distinct().count()
    assert r["n_users_a"] + r["n_users_b"] == n_users
    assert 0 <= r["n_conv_a"] <= r["n_users_a"]
    assert 0 <= r["n_conv_b"] <= r["n_users_b"]
    # re-run must give the identical assignment (hash, not rand)
    r2 = events_ab_lift(spark, sf_dir).collect()[0]
    assert r.asDict() == r2.asDict()


def test_rfm_segments_partition_customers(spark, sf_dir):
    from http_datafusion_spark.operators.curation import orders_rfm_segmentation

    rows = orders_rfm_segmentation(spark, sf_dir).collect()
    o = load_tables(spark, sf_dir, "orders")["orders"]
    assert sum(r["n_customers"] for r in rows) == o.select("o_custkey").distinct().count()
    for r in rows:
        seg = r["rfm_segment"]
        assert 111 <= seg <= 444
        assert all(1 <= int(d) <= 4 for d in str(seg))


def test_boilerplate_counts_bounded(spark, sf_dir):
    from http_datafusion_spark.operators.curation import doc_boilerplate_detect

    for r in doc_boilerplate_detect(spark, sf_dir).collect():
        assert 0 <= r["n_flagged"] <= r["n_docs"]
        assert 0.0 <= r["boiler_frac"] <= 1.0


def test_norm_outliers_bounded(spark, sf_dir):
    from http_datafusion_spark.operators.curation import embedding_norm_outliers

    rows = embedding_norm_outliers(spark, sf_dir).collect()
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    assert sum(r["n_vectors"] for r in rows) == e.count()
    for r in rows:
        assert r["n_outliers"] <= r["n_vectors"]
        assert r["min_norm"] <= r["max_norm"]


def test_pca_first_component_is_unit_and_stable(spark, sf_dir):
    from http_datafusion_spark.operators.curation import embedding_pca_power_iteration

    rows = embedding_pca_power_iteration(spark, sf_dir).collect()
    assert len(rows) == 64
    norm2 = sum(r["pc1"] ** 2 for r in rows)
    assert abs(norm2 - 1.0) < 1e-3  # normalized (rounding tolerance)
    # deterministic: identical on re-run
    again = {r["j"]: r["pc1"] for r in embedding_pca_power_iteration(spark, sf_dir).collect()}
    assert all(again[r["j"]] == r["pc1"] for r in rows)


def test_kmv_merge_equals_global_sketch(spark, sf_dir):
    """KMV mergeability on real data: the min-k of the UNION of the
    per-source k-minimum sets must equal the k-minimum set computed
    globally — the property that makes KMV a one-pass partial
    aggregate (each partition ships <= k values to the merge)."""
    from http_datafusion_spark.functions.hashing import md5_int
    from http_datafusion_spark.operators.curation import KMV_K, _H_NORM
    from http_datafusion_spark.operators.dedup import shingled_docs

    sh = shingled_docs(spark, sf_dir)
    d = load_tables(spark, sf_dir, "documents")["documents"].select("doc_id", "source")
    hashed = (
        sh.join(d, "doc_id")
        .select("source", "shingle")
        .distinct()
        .select("source", "shingle", (md5_int(F.col("shingle")) / F.lit(_H_NORM)).alias("h"))
    )
    rows = hashed.collect()
    per_source: dict = {}
    for r in rows:
        per_source.setdefault(r["source"], set()).add((r["h"], r["shingle"]))
    union_of_sketches = set()
    for vals in per_source.values():
        union_of_sketches |= set(sorted(vals)[:KMV_K])
    merged = sorted(union_of_sketches)[:KMV_K]
    global_k = sorted({(r["h"], r["shingle"]) for r in rows})[:KMV_K]
    assert merged == global_k


def test_semantic_calibration_monotone_and_consistent(spark, sf_dir):
    """Calibration-curve invariants that hold for ANY corpus: n_true is
    non-increasing in the threshold; n_hit <= min(n_true, n_pred);
    recall at the deploy threshold equals the IVF candidate coverage of
    the exact pair set (both computed from the same exact kernel)."""
    from http_datafusion_spark.operators.dedup import (
        CALIB_DEPLOY_T,
        dedup_semantic_threshold_calibration,
    )

    rows = sorted(
        dedup_semantic_threshold_calibration(spark, sf_dir).collect(),
        key=lambda r: r["threshold"],
    )
    assert rows, "empty calibration sweep"
    n_pred = rows[0]["n_pred"]
    prev_true = None
    for r in rows:
        assert r["n_hit"] <= min(r["n_true"], n_pred)
        if prev_true is not None:
            assert r["n_true"] <= prev_true  # stricter t -> fewer true pairs
        prev_true = r["n_true"]
        # precision/recall arithmetic is internally consistent
        assert abs(r["pair_precision"] - round(r["n_hit"] / n_pred, 6)) < 1e-9
        assert abs(r["pair_recall"] - round(r["n_hit"] / r["n_true"], 6)) < 1e-9
    # at the deploy threshold every predicted pair is a true pair
    at_deploy = [r for r in rows if abs(r["threshold"] - CALIB_DEPLOY_T) < 1e-9]
    assert at_deploy and at_deploy[0]["n_hit"] == n_pred
