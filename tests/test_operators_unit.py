"""Direct unit tests of the beyond-reference operator APIs on tiny
hand-built frames — edge cases the fixture-driven oracle corpus can't
reach (NULL payload fields, unconverged components, empty buckets).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_asof_join_null_payload_fields_stay_row_atomic(spark):
    """A right row whose payload is NULL in one column must NOT donate
    its other column to the carried result: all asof_* values come from
    the same (latest) right row."""
    from http_datafusion_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100, "e1")], "k int, t int, name string")
    right = spark.createDataFrame(
        [
            # older row: both fields present
            (1, 10, 7, 1.5),
            # latest row: price is NULL — per-column carry would pair
            # orderkey=9 with price=1.5 (from the older row); row-atomic
            # carry must return (9, NULL).
            (1, 20, 9, None),
        ],
        "k int, rt int, okey bigint, price double",
    )
    out = asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        payload_cols=["okey", "price"],
    ).collect()
    assert len(out) == 1
    assert out[0].asof_okey == 9
    assert out[0].asof_price is None


def test_connected_components_chain_and_isolated_pairs(spark):
    """A 10-node chain (diameter 9) plus a separate 2-cycle: star
    contraction must label every chain node with the chain min in
    far fewer rounds than the diameter."""
    from http_datafusion_spark.operators.components import connected_components

    chain = [(i, i + 1) for i in range(1, 10)]  # 1-2-...-10
    extra = [(100, 200), (200, 100), (7, 7)]  # dup direction + self loop
    edges = spark.createDataFrame(chain + extra, "src bigint, dst bigint")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {**{i: 1 for i in range(1, 11)}, 100: 100, 200: 100}


def test_connected_components_driver_materialization_is_o1(spark, monkeypatch):
    """The fixpoint loop must never pull node labels to the driver:
    every collect() inside connected_components is a 1-row digest."""
    import pyspark.sql.classic.dataframe as df_mod  # concrete class in Spark 4

    from http_datafusion_spark.operators.components import connected_components

    sizes: list[int] = []
    real_collect = df_mod.DataFrame.collect

    def counting_collect(self):
        out = real_collect(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(df_mod.DataFrame, "collect", counting_collect)
    # 300-node random-ish graph: plenty of labels to tempt a collect.
    edges = spark.createDataFrame(
        [(i, (i * 7) % 300) for i in range(300)], "src bigint, dst bigint"
    )
    result = connected_components(edges)
    assert max(sizes) <= 1  # digest rows only; labels stayed distributed
    assert result.count() == 300


def test_embedding_pairs_blocked_matches_broadcast(spark):
    """The distributed block-matrix tiles and the guarded broadcast path
    must find the identical pair set."""
    import numpy as np

    from http_datafusion_spark.operators.dedup import (
        embedding_pairs_blocked,
        embedding_pairs_broadcast,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(6, 16).astype("float32")
    rows = []
    for i in range(60):
        v = base[i % 6] + rng.randn(16).astype("float32") * 0.05
        rows.append((i, [float(x) for x in v]))
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    blocked = {(r.vec_a, r.vec_b, r.cosine) for r in embedding_pairs_blocked(spark, e, 0.8).collect()}
    bcast = {(r.vec_a, r.vec_b, r.cosine) for r in embedding_pairs_broadcast(spark, e, 0.8).collect()}
    assert blocked == bcast and len(blocked) > 50


def test_embedding_pairs_broadcast_guard_raises(spark):
    import pytest

    from http_datafusion_spark.operators.dedup import embedding_pairs_broadcast

    e = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(20)], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="driver"):
        embedding_pairs_broadcast(spark, e, 0.5, max_rows=10)


def test_dedup_embedding_cosine_no_driver_table_materialization(spark, sf_dir, monkeypatch):
    """The registered query must never pull the embeddings table to the
    driver (toPandas / large collect) — only tiny metadata collects."""
    import pyspark.sql.classic.dataframe as df_mod

    from http_datafusion_spark.operators.dedup import dedup_embedding_cosine

    def banned(self, *a, **k):
        raise AssertionError("toPandas() on the driver is banned in this operator")

    monkeypatch.setattr(df_mod.DataFrame, "toPandas", banned)
    sizes: list[int] = []
    real_collect = df_mod.DataFrame.collect

    def counting_collect(self):
        out = real_collect(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(df_mod.DataFrame, "collect", counting_collect)
    n_pairs = dedup_embedding_cosine(spark, sf_dir).count()
    assert n_pairs >= 0
    assert not sizes or max(sizes) <= 16  # no label/table-sized collects


def test_ivf_tile_composition_matches_bruteforce(spark):
    """The IVF tile verification path — assign fn x tile fn x distinct —
    must emit EXACTLY the pairs that share a probed bucket and clear
    the threshold, each once, with the fold-exact cosine. Checked
    against an independent brute-force numpy reference on a corpus
    sized to exercise multi-bucket membership, cross-block and
    same-block tiles, and the chunked A-side loop (default chunk > n,
    plus an explicit row_chunk=7 to force multiple chunks)."""
    import numpy as np

    from http_datafusion_spark.functions.veclib import fold_dot, fold_norms
    from http_datafusion_spark.operators import dedup as D

    rng = np.random.RandomState(7)
    n, d, K, n_probe, thr = 120, 16, 5, 3, 0.2
    E = rng.randn(n, d).astype("float32").astype("float64")
    ids = np.arange(n, dtype=np.int64)
    C = E[:K].copy()
    cids = list(range(1, K + 1))

    # independent reference: probe sets by squared L2, then all pairs
    # sharing any probed bucket with fold cosine > thr
    d2 = ((E[:, None, :] - C[None, :, :]) ** 2).sum(2)
    probes = [set(np.argsort(d2[i], kind="stable")[:n_probe]) for i in range(n)]
    nrm = fold_norms(E)
    expect = {}
    for i in range(n):
        for j in range(i + 1, n):
            if probes[i] & probes[j]:
                cos = fold_dot(E[i : i + 1], E[j : j + 1])[0, 0] / (nrm[i] * nrm[j])
                if cos > thr:
                    expect[(i, j)] = round(cos, 4)

    def run(row_chunk):
        sdf = spark.createDataFrame(
            [(int(i), [float(x) for x in E[i]]) for i in ids],
            "vec_id bigint, embedding array<float>",
        )
        grid = sdf.mapInPandas(
            D._ivf_tile_assign_fn(cids, C, n_probe, D.IVF_SUBBLOCKS),
            schema="bucket bigint, bi int, bj int, vec_id bigint, blk int, embedding array<float>",
        )
        pairs = grid.groupBy("bucket", "bi", "bj").applyInPandas(
            D._ivf_bucket_tile_fn(thr, row_chunk=row_chunk),
            schema="vec_a bigint, vec_b bigint, cosine double",
        )
        rows = pairs.distinct().collect()
        got = {(r.vec_a, r.vec_b): r.cosine for r in rows}
        assert len(rows) == len(got), "distinct left duplicate (vec_a, vec_b) rows"
        return got

    assert run(D._TILE_ROW_CHUNK) == expect
    # row_chunk=7 < any A-side: forces the chunked loop through multiple
    # iterations (captured by value — a module-global monkeypatch would
    # not reach the re-importing workers)
    assert run(7) == expect


def test_fold_dot_matches_sequential_fold():
    """fold_dot/fold_norms accumulate in the exact left-fold order a
    per-pair sequential reduction (DuckDB list_sum) uses."""
    import numpy as np

    from http_datafusion_spark.functions.veclib import fold_dot, fold_norms

    rng = np.random.RandomState(3)
    A = rng.randn(5, 33).astype("float32").astype("float64")
    B = rng.randn(4, 33).astype("float32").astype("float64")
    got = fold_dot(A, B)
    for i in range(5):
        for j in range(4):
            acc = 0.0
            for k in range(33):
                acc += A[i, k] * B[j, k]
            assert got[i, j] == acc  # bitwise equality, not approx
    for i in range(5):
        acc = 0.0
        for k in range(33):
            acc += A[i, k] * A[i, k]
        assert fold_norms(A)[i] == np.sqrt(acc)


def test_connected_components_raises_on_exhaustion(spark):
    from http_datafusion_spark.operators.components import connected_components

    import pytest

    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 40)], "src bigint, dst bigint")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=1)


def test_asof_join_forward_strict_and_tolerance(spark):
    from http_datafusion_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100, "e")], "k int, t int, name string")
    right = spark.createDataFrame(
        [(1, 90, 1), (1, 100, 2), (1, 105, 3), (1, 200, 4)],
        "k int, rt int, okey bigint",
    )

    def one(**kw):
        rows = asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            payload_cols=["okey"], **kw,
        ).collect()
        assert len(rows) == 1
        return rows[0].asof_okey

    assert one() == 2  # backward <=: exact-time match wins
    assert one(strict=True) == 1  # backward <: equal-time row invisible
    assert one(direction="forward") == 2  # forward >=: exact match
    assert one(direction="forward", strict=True) == 3  # forward >: next row
    assert one(strict=True, tolerance=5) is None  # 100-90=10 > 5
    assert one(direction="forward", strict=True, tolerance=5) == 3  # gap 5 ok
    assert one(direction="forward", strict=True, tolerance=4) is None


def test_asof_join_no_preceding_right_row_yields_nulls(spark):
    from http_datafusion_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 5, "early")], "k int, t int, name string")
    right = spark.createDataFrame([(1, 10, 3)], "k int, rt int, okey bigint")
    out = asof_join(
        left, right, on="k", left_time="t", right_time="rt", payload_cols=["okey"]
    ).collect()
    assert len(out) == 1 and out[0].asof_okey is None

def test_dedup_embedding_cosine_default_is_candidate_gated(spark, sf_dir):
    """The DEFAULT embedding near-dup path must be candidate-gated: the
    plan scores WITHIN-BUCKET tiles keyed by the multi-probe IVF
    assignment (a (bucket, bi, bj) FlatMapGroupsInPandas over the
    fold-exact numpy kernel; a pair-hydration join scoring the same
    candidates through the interpreted JVM fold took 363 s vs ~12 s at
    sf1 on 32 cores, for identical output). It must never be the exact
    tier's ALL-pairs block grid (whose grouping has no bucket key) and
    never a cartesian product."""
    from http_datafusion_spark.operators.dedup import (
        IVF_DEDUP_PROBES,
        dedup_embedding_cosine,
        dedup_embedding_cosine_exact,
    )

    gated = dedup_embedding_cosine(spark, sf_dir)
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan  # tiles are keyed by the IVF bucket

    # The exact tier keeps the tile grid; the gated output must be a
    # subset of it (same scores on surviving pairs), strictly smaller
    # than all-pairs candidate work.
    exact_pairs = {(r.vec_a, r.vec_b): r.cosine for r in dedup_embedding_cosine_exact(spark, sf_dir).collect()}
    gated_pairs = {(r.vec_a, r.vec_b): r.cosine for r in gated.collect()}
    assert set(gated_pairs) <= set(exact_pairs)
    for k, v in gated_pairs.items():
        assert v == exact_pairs[k]

    # Recall gate: the DEFAULT probe count must recover >= 90% of the
    # exact tier's pairs on the test corpus (measured 0.80 at n_probe=2
    # vs 0.95 at 3 — the reason the default is 3). A silent 20% miss
    # rate is a quality bug even when the probe-mirroring oracle agrees.
    if exact_pairs:
        recall = len(gated_pairs) / len(exact_pairs)
        assert recall >= 0.9, (
            f"IVF dedup recall {recall:.2f} < 0.9 at n_probe={IVF_DEDUP_PROBES}"
        )

    # Candidate-boundedness, measured: candidate pairs strictly below
    # the all-pairs count.
    from pyspark.sql import functions as F

    from http_datafusion_spark.operators.dedup import _multi_probe_assign_fn
    from http_datafusion_spark.operators.similarity import CENTROID_VEC_IDS, _fetch_vectors
    import numpy as np

    from http_datafusion_spark.plans.tables import load_tables

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    n = e.count()
    cents = _fetch_vectors(spark, sf_dir, CENTROID_VEC_IDS)
    cids = sorted(cents)
    C = np.stack([cents[c] for c in cids])
    assign = e.select("vec_id", "embedding").mapInPandas(
        _multi_probe_assign_fn(cids, C, IVF_DEDUP_PROBES), schema="vec_id bigint, bucket bigint"
    )
    n_cand = (
        assign.alias("x")
        .join(
            assign.alias("y"),
            (F.col("x.bucket") == F.col("y.bucket")) & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select("x.vec_id", "y.vec_id")
        .distinct()
        .count()
    )
    assert n_cand < n * (n - 1) / 2


# ---------------------------------------- operator invariants


def test_debounce_invariants(spark, sf_dir):
    from http_datafusion_spark.plans.registry import all_queries

    rows = all_queries()["events_debounce"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_kept <= r.n_events  # first event always kept


def test_winsorize_invariants(spark, sf_dir):
    from http_datafusion_spark.plans.registry import all_queries

    r = all_queries()["feature_winsorize"].spark(spark, sf_dir).collect()[0]
    assert r.p01 <= r.p99
    # ~1% clipped each side (rank-at-ceil semantics make it <= 1%)
    assert r.n_clipped_lo <= r.n_rows * 0.011
    assert r.n_clipped_hi <= r.n_rows * 0.011
    assert r.p01 <= r.winsorized_mean <= r.p99


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    from http_datafusion_spark.plans.registry import all_queries

    r = all_queries()["bootstrap_mean_ci"].spark(spark, sf_dir).collect()[0]
    assert r.ci_lo <= r.boot_mean <= r.ci_hi
    assert r.n_replicas == 32


def test_pagerank_is_a_distribution_tail(spark, sf_dir):
    # Top-k ranks are positive and sorted; the full supplier rank vector
    # sums to ~1 only over ALL nodes, but every emitted rank must exceed
    # the teleport floor (1-d)/N_s.
    from http_datafusion_spark.plans.registry import all_queries

    rows = all_queries()["graph_pagerank_suppliers"].spark(spark, sf_dir).collect()
    assert rows == sorted(rows, key=lambda r: (-r.pagerank, r.suppkey))
    assert all(r.pagerank > 0 for r in rows)


def test_snapshot_isolation_v1_unchanged_by_append(spark, sf_dir):
    # Reading v1 through its manifest must be identical before and after
    # v2 exists (it does, by construction of the store) — the snapshot-
    # isolation property itself.
    from http_datafusion_spark.operators.pipeline import (
        SNAPVER_APPEND_MOD,
        read_snapshot,
    )
    from http_datafusion_spark.plans.tables import load_tables

    v1 = read_snapshot(spark, sf_dir, 1)
    d = load_tables(spark, sf_dir, "documents")["documents"]
    expect = d.filter(F.col("doc_id") % SNAPVER_APPEND_MOD != 0)
    assert v1.count() == expect.count()
    assert v1.exceptAll(expect.select(*v1.columns)).count() == 0


def test_bpe_merge_counts_monotone_nonincreasing(spark, sf_dir):
    # Greedy BPE picks the global argmax each round, so selected counts
    # can never increase from one merge to the next... except when a
    # merge CREATES a more frequent pair; assert the weaker invariant
    # that all counts are positive and steps are consecutive.
    from http_datafusion_spark.plans.registry import all_queries

    rows = all_queries()["bpe_merge_train"].spark(spark, sf_dir).orderBy("step").collect()
    assert [r.step for r in rows] == list(range(len(rows)))
    assert all(r.pair_count > 0 for r in rows)
    assert len({r.merge_pair for r in rows}) == len(rows)  # merges are distinct


def test_bucketed_global_rank_equals_naive_window(spark, sf_dir):
    # The distributed rank/cumsum must agree with the single-partition
    # window formulation row-for-row (incl. tie handling and ntile).
    from pyspark.sql import Window as W

    from http_datafusion_spark.functions.ordstats import (
        bucketed_global_rank,
        ntile_from_rank,
    )
    from http_datafusion_spark.plans.tables import load_tables

    o = (
        load_tables(spark, sf_dir, "orders")["orders"]
        .select(
            F.col("o_totalprice").alias("v"),
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("dv"),
        )
        .localCheckpoint(eager=True)
    )
    n = o.count()
    fast = bucketed_global_rank(
        o, "v", ["k"], "rk", descending=True, cumsum_of="dv", cumsum_name="cum"
    ).select("k", "rk", F.col("cum").cast("decimal(18,2)").alias("cum"),
             ntile_from_rank(F.col("rk"), n, 4).alias("t"))
    w = W.orderBy(F.desc("v"), "k")
    naive = o.select(
        "k",
        F.row_number().over(w).alias("rk"),
        F.sum("dv").over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("decimal(18,2)")
        .alias("cum"),
        F.ntile(4).over(w).alias("t"),
    )
    assert fast.exceptAll(naive).count() == 0
    assert naive.exceptAll(fast).count() == 0


def test_bucketed_global_rank_constant_column(spark, sf_dir):
    # All values equal -> every row lands in one bucket; the rank must
    # still be an exact permutation of 1..n ordered by the tiebreak.
    from http_datafusion_spark.functions.ordstats import bucketed_global_rank

    df = spark.range(100).select(F.lit(7.0).alias("v"), F.col("id").alias("k"))
    ranked = bucketed_global_rank(df, "v", ["k"], "rk").orderBy("rk").collect()
    assert [r.rk for r in ranked] == list(range(1, 101))
    assert [r.k for r in ranked] == list(range(100))  # tiebreak order


def test_token_count_equals_materialized_split(spark, sf_dir):
    """token_count (regexp_count of non-whitespace runs) must equal
    size(whitespace_tokens(...)) — the materializing formulation it
    replaced in the count-only call sites — on every document, including
    whitespace-only and empty edge cases."""
    from pyspark.sql import functions as F

    from http_datafusion_spark.functions.tokens import token_count, whitespace_tokens
    from http_datafusion_spark.plans.tables import load_tables

    d = load_tables(spark, sf_dir, "documents")["documents"]
    edge = spark.createDataFrame(
        [("",), ("   ",), ("one",), (" a  b\tc \n",)], ["text"]
    )
    for df in (d.select("text"), edge):
        bad = df.select(
            (F.size(whitespace_tokens(F.col("text"))) != token_count(F.col("text"))).alias("x")
        ).filter("x").count()
        assert bad == 0


# ---------------------------------------- stats-family invariants


def test_brier_decomposition_identity_is_exact(spark, sf_dir):
    """Murphy's BS = REL - RES + UNC holds EXACTLY at the
    distinct-forecast grain — the residual column is the computed
    check, and a wrong-grain regression flips it nonzero."""
    from http_datafusion_spark.operators.stats import ml_brier_decomposition

    row = ml_brier_decomposition(spark, sf_dir).collect()[0]
    assert row.decomp_residual == 0.0
    assert 0.0 <= row.uncertainty <= 0.25  # obar(1-obar) is bounded
    assert row.brier >= 0.0 and row.reliability >= 0.0 and row.resolution >= 0.0


def test_lift_deciles_conserve_totals(spark, sf_dir):
    """Decile doc/positive counts must partition the corpus exactly,
    and the last cumulative capture must be 1.0."""
    from http_datafusion_spark.operators.stats import ml_lift_deciles
    from http_datafusion_spark.plans.tables import load_tables

    rows = ml_lift_deciles(spark, sf_dir).collect()
    d = load_tables(spark, sf_dir, "documents")["documents"]
    n = d.count()
    n_pos = d.filter(F.col("lang") == "en").count()
    assert sum(r.n_docs for r in rows) == n
    assert sum(r.pos_docs for r in rows) == n_pos
    assert rows[-1].cum_capture == 1.0


def test_cost_threshold_beats_degenerate_baselines(spark, sf_dir):
    """The swept operating point can never cost more than accept-all /
    reject-all (both are points ON the sweep's closure)."""
    from http_datafusion_spark.operators.stats import ml_cost_threshold

    row = ml_cost_threshold(spark, sf_dir).collect()[0]
    assert row.min_cost <= row.cost_accept_all
    assert row.min_cost <= row.cost_reject_all
    assert row.tp + row.fn > 0 and row.fp + row.tn > 0


def test_ks_statistic_bounds(spark, sf_dir):
    from http_datafusion_spark.operators.stats import ml_ks_score_separation

    row = ml_ks_score_separation(spark, sf_dir).collect()[0]
    assert 0.0 <= row.ks_stat <= 1.0


def test_permutation_pvalue_bounds(spark, sf_dir):
    """p = (1 + #extreme)/(K+1) is bounded away from 0 by the add-one
    correction and can never exceed 1."""
    from http_datafusion_spark.operators.stats import PERM_K, stats_permutation_test

    row = stats_permutation_test(spark, sf_dir).collect()[0]
    assert 1.0 / (PERM_K + 1) <= row.p_value <= 1.0
    assert 0 <= row.n_extreme <= PERM_K


def test_woe_iv_mass_conservation(spark, sf_dir):
    """WOE bins must partition the positive/negative mass; IV >= 0 up
    to the 6dp term quantization."""
    from http_datafusion_spark.operators.stats import feature_woe_iv
    from http_datafusion_spark.plans.tables import load_tables

    rows = feature_woe_iv(spark, sf_dir).collect()
    d = load_tables(spark, sf_dir, "documents")["documents"]
    n_pos = d.filter(F.col("lang") == "en").count()
    assert sum(r.pos_b for r in rows) == n_pos
    assert rows[0].iv_total >= -1e-5  # each true IV term is >= 0; 6dp noise only
    assert all(r.iv_total == rows[0].iv_total for r in rows)


def test_assortativity_is_a_correlation(spark, sf_dir):
    from http_datafusion_spark.operators.components import graph_assortativity

    row = graph_assortativity(spark, sf_dir).collect()[0]
    if row.assortativity is not None:  # degenerate uniform-degree graphs -> null
        assert -1.0 <= row.assortativity <= 1.0


def test_hits_scores_positive_and_role_split(spark, sf_dir):
    from http_datafusion_spark.operators.components import graph_hits_scores

    rows = graph_hits_scores(spark, sf_dir).collect()
    roles = {r.role for r in rows}
    assert roles == {"authority", "hub"}
    assert all(r.score > 0.0 for r in rows)
    # L1-normalized halves: any top-k slice sums to at most 1 (+quantization)
    for role in roles:
        assert sum(r.score for r in rows if r.role == role) <= 1.0 + 1e-9


# ---------------------------------------- sketch, drift, survival and graph invariants


def test_quantile_sketch_error_within_guarantee(spark, sf_dir):
    """Every target quantile's observed rank error must respect the
    2(n/K + S) additive guarantee, the estimate values must be actual
    data values, and estimates must be monotone in the quantile."""
    from http_datafusion_spark.operators.curation import (
        QS_K,
        QS_SHARDS,
        QS_TARGETS,
    )
    from http_datafusion_spark.operators.curation import quantile_sketch_audit
    from http_datafusion_spark.plans.tables import load_tables

    rows = quantile_sketch_audit(spark, sf_dir).collect()
    assert [r.quantile for r in rows] == sorted(QS_TARGETS)
    n = load_tables(spark, sf_dir, "lineitem")["lineitem"].count()
    bound = 2.0 / QS_K + 2.0 * QS_SHARDS / n
    for r in rows:
        assert r.within_bound, (r.quantile, r.rank_err_frac, bound)
        assert abs(r.target_rank - r.true_rank) <= bound * n + 1e-9
    ests = [r.est_value for r in rows]
    assert ests == sorted(ests)  # monotone in q
    vals = {
        x.l_extendedprice
        for x in load_tables(spark, sf_dir, "lineitem")["lineitem"]
        .select("l_extendedprice")
        .collect()
    }
    assert all(e in vals for e in ests)  # block representatives are data values


def test_cusum_scan_identity_matches_recursion(spark):
    """g_t = S_t - min(0, prefix-min S) must equal the textbook
    recursion g_t = max(0, g_{t-1} + dev_t) — checked on a constructed
    series with a planted level shift that must alarm."""
    from decimal import Decimal

    from http_datafusion_spark.operators.timeseries import (
        CUSUM_H_SIGMA,
        CUSUM_K_SIGMA,
        cusum_from_daily,
    )

    # 20 quiet days at 100 then 10 shifted days at 160
    xs = [100] * 20 + [160] * 10
    daily = spark.createDataFrame(
        [("feed", f"2024-01-{i + 1:02d}", x) for i, x in enumerate(xs)],
        ["event_type", "day", "x"],
    ).select("event_type", F.to_date("day").alias("day"), F.col("x").cast("bigint").alias("x"))
    row = cusum_from_daily(daily).collect()[0]

    n = len(xs)
    mu = sum(xs) / n
    sd = (sum(x * x for x in xs) / n - mu * mu) ** 0.5
    muq = Decimal(str(round(mu, 6)))
    kq = Decimal(str(round(CUSUM_K_SIGMA * sd, 6)))
    h = round(CUSUM_H_SIGMA * sd, 6)
    g, gs = Decimal(0), []
    for x in xs:
        g = max(Decimal(0), g + Decimal(x) - muq - kq)
        gs.append(float(g))
    assert row.max_stat == round(max(gs), 6)
    assert row.n_alarm_days == sum(1 for v in gs if v > h)
    assert row.n_alarm_days > 0  # the planted shift must alarm
    first = next(i for i, v in enumerate(gs) if v > h)
    assert row.first_alarm_day == f"2024-01-{first + 1:02d}"


def test_cusum_quiet_series_stays_silent(spark, sf_dir):
    """On the synthetic events table (no planted drift) the detector
    must report a positive statistic but zero alarms."""
    from http_datafusion_spark.operators.timeseries import events_cusum_drift

    rows = events_cusum_drift(spark, sf_dir).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r.max_stat >= 0.0
        assert r.n_alarm_days == 0 and r.first_alarm_day is None
        # threshold rounds 5*sd from the UNROUNDED sd; compare loosely
        assert abs(r.threshold - 5.0 * r.sigma_daily) < 1e-5


def test_mmd_is_zero_against_itself_and_detects_shift(spark):
    """MMD² must be ~0 when both groups are the same population and
    must equal the squared mean gap when one group is shifted by a
    constant vector."""
    import numpy as np

    from http_datafusion_spark.operators.similarity import MMD_SPLIT_LABEL

    rng = np.random.default_rng(7)
    base = rng.standard_normal((80, 4)).round(3)
    shift = 0.5

    def run(shifted: bool) -> tuple[float, float]:
        rows = []
        for i, v in enumerate(base):
            lab = 0 if i % 2 == 0 else MMD_SPLIT_LABEL
            vec = v + (shift if (lab >= MMD_SPLIT_LABEL and shifted) else 0.0)
            rows.append((i, [float(x) for x in vec], lab))
        df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
        df.createOrReplaceTempView("tmp_mmd_embeddings")
        # drive the same math the operator uses, on the temp table
        from pyspark.sql import functions as FF

        from http_datafusion_spark.operators import similarity as S

        ed = df.select(
            FF.when(FF.col("label") < MMD_SPLIT_LABEL, 1).otherwise(0).alias("gx"),
            FF.posexplode(FF.col("embedding").cast("array<double>")).alias("dim", "v"),
        )
        per = ed.groupBy("dim", "gx").agg(
            FF.count(FF.lit(1)).alias("n"), FF.sum("v").alias("s")
        )
        p = per.groupBy("dim").agg(
            FF.max(FF.when(FF.col("gx") == 1, FF.col("s") / FF.col("n"))).alias("mx"),
            FF.max(FF.when(FF.col("gx") == 0, FF.col("s") / FF.col("n"))).alias("my"),
        )
        got = p.agg(
            FF.sum((FF.col("mx") - FF.col("my")) * (FF.col("mx") - FF.col("my")))
        ).collect()[0][0]
        return got

    # same population: only sampling noise (~2d/n); shifted by 0.5 in
    # 4 dims the gap is near 4 * 0.25 = 1.0 plus that noise
    mmd_null = run(False)
    mmd_shifted = run(True)
    assert mmd_null < 0.4
    assert 0.4 < mmd_shifted < 2.5
    assert mmd_shifted > 3 * mmd_null


def test_stream_cusum_matches_batch_twin(spark, sf_dir):
    """The streaming monitor's sink-side scan must reproduce the batch
    twin row-for-row (same oracle by construction)."""
    from http_datafusion_spark.operators.timeseries import events_cusum_drift
    from http_datafusion_spark.streaming.queries import stream_cusum_monitor

    batch = {r.event_type: r for r in events_cusum_drift(spark, sf_dir).collect()}
    for r in stream_cusum_monitor(spark, sf_dir).collect():
        b = batch[r.event_type]
        assert (r.n_days, r.max_stat, r.n_alarm_days) == (
            b.n_days,
            b.max_stat,
            b.n_alarm_days,
        )


def test_km_survival_monotone_and_censoring_matters(spark, sf_dir):
    """Survival must start at <=1, decrease monotonically, count every
    customer exactly once across (churned + censored), and differ from
    the naive no-censoring curve in the right DIRECTION (censoring can
    only raise late-time survival estimates)."""
    from http_datafusion_spark.operators.curation import customer_survival_km
    from http_datafusion_spark.plans.tables import load_tables

    rows = customer_survival_km(spark, sf_dir).collect()
    surv = [r.survival for r in rows]
    assert all(0.0 <= s <= 1.0 for s in surv)
    assert all(a >= b for a, b in zip(surv, surv[1:]))  # non-increasing
    n_cust = (
        load_tables(spark, sf_dir, "orders")["orders"]
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_churned + r.n_censored for r in rows) == n_cust
    assert rows[0].n_at_risk == n_cust  # everyone at risk at the first month
    assert sum(r.n_censored for r in rows) > 0  # censoring actually occurs


def test_km_survival_total_churn_month_drops_to_zero(spark, tmp_path):
    """A maximal month where EVERY remaining at-risk
    customer churns (d == n_risk, zero censored) is ln(0) unguarded —
    DuckDB raises out-of-range while Spark's F.log yields NULL that the
    window sum silently skips (survival stuck at the prior level).
    Both engines must instead agree on survival = 0, oracle-exact."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from http_datafusion_spark.operators.curation import customer_survival_km
    from http_datafusion_spark.plans.compare import compare_query, duckdb_connection
    from http_datafusion_spark.plans.registry import all_queries

    # cust 1: lifetime 2019-01-01 .. 2019-12-01 (month 11), gap to the
    # horizon 105 d > 90 => CHURNED at the maximal month, alone there.
    # cust 2: single order AT the horizon 2020-03-15 => censored, month 0.
    tbl = pa.table(
        {
            "o_custkey": pa.array([1, 1, 2], pa.int64()),
            "o_orderdate": pa.array(
                [dt.date(2019, 1, 1), dt.date(2019, 12, 1), dt.date(2020, 3, 15)],
                pa.date32(),
            ),
        }
    )
    pq.write_table(tbl, tmp_path / "orders.parquet")
    d = str(tmp_path)
    rows = customer_survival_km(spark, d).orderBy("month").collect()
    assert [(r.month, r.n_at_risk, r.n_churned, r.n_censored) for r in rows] == [
        (0, 2, 0, 1),
        (11, 1, 1, 0),
    ]
    assert rows[0].survival == 1.0
    assert rows[1].survival == 0.0  # total-churn month: S drops to 0, not NULL-skip
    con = duckdb_connection(d)
    try:
        res = compare_query(spark, all_queries()["customer_survival_km"], d, con=con)
        assert res.ok and res.exact, res.detail
    finally:
        con.close()


def test_modularity_identities_hold(spark, sf_dir):
    """Newman's bookkeeping identities on the scored partition: every
    degree is counted once per endpoint (sum d_c = 2m), within-edges
    never exceed the total, singleton communities contribute only the
    negative degree term, and Q = sum of contributions, inside the
    theoretical [-0.5, 1] range."""
    from http_datafusion_spark.operators.components import graph_modularity_score
    from http_datafusion_spark.operators.dedup import dedup_minhash_pairs

    rows = graph_modularity_score(spark, sf_dir).collect()
    m = dedup_minhash_pairs(spark, sf_dir).count()
    assert sum(r.d_sum for r in rows) == 2 * m
    assert sum(r.m_within for r in rows) <= m
    q = rows[0].modularity
    assert all(r.modularity == q for r in rows)  # global Q repeated per row
    assert abs(sum(r.q_contrib for r in rows) - q) < 5e-5  # rounded parts
    assert -0.5 <= q <= 1.0
    for r in rows:
        assert 2 * r.m_within <= r.d_sum  # within-edges use two endpoints
        if r.n_nodes == 1:
            assert r.m_within == 0 and r.q_contrib < 0


def test_weighted_priority_sample_is_deterministic_and_unbiased_ish(spark, sf_dir):
    """Exactly k rows, re-runnable bit-for-bit, u in (0,1], and the
    DLT subset-sum estimator lands near the true total weight (k=100
    of 500 docs: generous +-40%% band, the point is unbiasedness not
    precision)."""
    import duckdb

    from http_datafusion_spark.operators.pipeline import (
        PRIO_K,
        sample_weighted_priority,
    )

    a = sample_weighted_priority(spark, sf_dir).collect()
    b = sample_weighted_priority(spark, sf_dir).collect()
    assert a == b  # deterministic draw: no rand(), ever
    assert len(a) == PRIO_K
    assert len({r.doc_id for r in a}) == PRIO_K  # without replacement
    assert all(0.0 < r.u_draw <= 1.0 for r in a)
    true_total = duckdb.sql(
        f"SELECT sum(greatest(n_chars, 1)) FROM '{sf_dir}/documents.parquet'"
    ).fetchall()[0][0]
    est = sum(r.est_weight for r in a)
    assert 0.6 * true_total < est < 1.4 * true_total
    # every estimator weight is >= the item's own weight (max(w, tau))
    assert all(r.est_weight >= max(r.n_chars, 1) for r in a)


def test_group_sequential_schedule_properties(spark, sf_dir):
    """The Lan-DeMets schedule invariants: K looks, information rising
    to exactly 1, the OBF boundary falling to exactly z_a2, cumulative
    spending rising to alpha with increments that sum to it, and the
    crossing flag consistent with |z| vs the boundary."""
    from http_datafusion_spark.operators.stats import (
        GS_ALPHA,
        GS_LOOKS,
        GS_ZA2,
        events_group_sequential,
    )

    rows = events_group_sequential(spark, sf_dir).orderBy("look").collect()
    assert [r.look for r in rows] == list(range(1, GS_LOOKS + 1))
    info = [r.info_frac for r in rows]
    assert all(a < b for a, b in zip(info, info[1:]))
    assert info[-1] == 1.0
    bnd = [r.obf_boundary for r in rows]
    assert all(a > b for a, b in zip(bnd, bnd[1:]))
    assert bnd[-1] == GS_ZA2  # at t=1 the boundary IS the fixed-horizon z
    spent = [r.alpha_spent for r in rows]
    assert all(a < b for a, b in zip(spent, spent[1:]))
    assert abs(spent[-1] - GS_ALPHA) < 1e-6  # full budget spent at the end
    assert abs(sum(r.alpha_incr for r in rows) - spent[-1]) < 5e-6
    for r in rows:
        assert r.crossed == (abs(r.z_stat) > r.obf_boundary)
        assert r.n0 >= 2 and r.n1 >= 2


def test_stream_group_sequential_matches_batch_twin(spark, sf_dir):
    """The streaming monitor's sink-side schedule must reproduce the
    batch twin row-for-row (same oracle by construction)."""
    from http_datafusion_spark.operators.stats import events_group_sequential
    from http_datafusion_spark.streaming.queries import stream_group_sequential

    batch = {r.look: r for r in events_group_sequential(spark, sf_dir).collect()}
    stream = stream_group_sequential(spark, sf_dir).collect()
    assert len(stream) == len(batch)
    for r in stream:
        b = batch[r.look]
        assert (r.day, r.n0, r.n1, r.z_stat, r.alpha_spent, r.crossed) == (
            b.day,
            b.n0,
            b.n1,
            b.z_stat,
            b.alpha_spent,
            b.crossed,
        )


def test_delong_ci_brackets_auc_and_matches_point_estimate(spark, sf_dir):
    from http_datafusion_spark.operators.stats import (
        ml_auc_delong_ci,
        ml_auc_roc,
    )

    ci = ml_auc_delong_ci(spark, sf_dir).collect()[0]
    point = ml_auc_roc(spark, sf_dir).collect()[0]
    assert ci.auc == point.auc  # same Mann-Whitney estimate, same grain
    assert ci.ci_lo < ci.auc < ci.ci_hi
    assert ci.se_delong > 0
    # CI half-width == z * se (rounding slack only)
    assert abs((ci.ci_hi - ci.ci_lo) / 2 - 1.959964 * ci.se_delong) < 2e-6


def test_burrows_delta_symmetric_complete_and_selfsimilar(spark, sf_dir):
    """All source pairs present exactly once (a < b), deltas positive,
    and a source duplicated under two names must score (near) zero."""
    import itertools

    from http_datafusion_spark.operators.text import text_burrows_delta
    from http_datafusion_spark.plans.tables import load_tables

    rows = text_burrows_delta(spark, sf_dir).collect()
    srcs = sorted(
        r.source
        for r in load_tables(spark, sf_dir, "documents")["documents"]
        .select("source")
        .distinct()
        .collect()
    )
    want = {(a, b) for a, b in itertools.combinations(srcs, 2)}
    got = {(r.source_a, r.source_b) for r in rows}
    assert got == want
    assert all(r.delta > 0 for r in rows)
    assert all(r.n_words > 0 for r in rows)


def test_feature_hash_collisions_track_birthday_bound(spark, sf_dir):
    """Observed collision fraction must fall with k and sit near the
    birthday-bound expectation (within 3x either way — it's one draw),
    and mass/term fractions must be consistent."""
    from http_datafusion_spark.operators.curation import (
        feature_hash_collision_audit,
    )

    rows = feature_hash_collision_audit(spark, sf_dir).collect()
    assert [r.k for r in rows] == [10, 12, 14, 16]
    fracs = [r.colliding_term_frac for r in rows]
    assert all(a >= b for a, b in zip(fracs, fracs[1:]))  # more bits, fewer hits
    for r in rows:
        assert 0.0 <= r.colliding_term_frac <= 1.0
        if r.expected_term_frac > 0.01:  # enough signal to compare
            assert r.colliding_term_frac < 3 * r.expected_term_frac
            assert r.colliding_term_frac > r.expected_term_frac / 3


def test_fetch_vectors_rereads_a_rewritten_embeddings_file(spark, sf_dir, tmp_path):
    """A long-lived session must not serve stale vectors: once the
    embeddings file is rewritten with changed vectors, _fetch_vectors
    returns the new ones, not its memo of the old file."""
    import os
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from http_datafusion_spark.operators.similarity import _fetch_vectors

    d = str(tmp_path)
    path = os.path.join(d, "embeddings.parquet")
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), path)
    ids = (0, 1, 2)
    before = _fetch_vectors(spark, d, ids)
    assert sorted(before) == list(ids)

    t = pq.read_table(path)
    field = t.schema.field("embedding")
    negated = pa.array([[-x for x in v] for v in t.column("embedding").to_pylist()], type=field.type)
    pq.write_table(t.set_column(t.schema.get_field_index("embedding"), field, negated), path)
    # The rewrite can land inside the filesystem's mtime granularity;
    # move the mtime on so the file visibly changed.
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 2 * 10**9))

    after = _fetch_vectors(spark, d, ids)
    for i in ids:
        assert np.array_equal(after[i], -before[i]), f"vec_id {i} served stale"
