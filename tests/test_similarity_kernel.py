"""Bucket-kNN salted-split kernel: the group-size bound and the
order-preserving cross-slice merge.

Three pins:
- the split path (row_cap forcing S > 1) is bit-identical to the
  single-group path on real data;
- the merge preserves (cos DESC, nid ASC) even when exact cosine TIES
  straddle both the per-slice and the global k-th boundary, verified
  against an independent numpy brute force on engineered duplicates;
- one (bucket, gq, gn) group is bounded by ~2*row_cap rows by
  construction — never by corpus size — and the exploded memberships
  cover each (query, neighbor-slice) pair exactly once.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from http_datafusion_spark.operators.similarity import (
    bucket_knn_pairs,
    ivf_assignments,
    salted_bucket_groups,
)


def test_salted_split_is_bit_identical_to_single_group(spark, sf_dir):
    """cap=16 forces S ~ 4 on sf0.001's ~60-row buckets; the merged
    result must equal the unsplit (one diagonal group per bucket)
    plan row-for-row."""
    big = bucket_knn_pairs(spark, sf_dir, 10, row_cap=10**9)
    small = bucket_knn_pairs(spark, sf_dir, 10, row_cap=16)
    b = {tuple(r) for r in big.collect()}
    s = {tuple(r) for r in small.collect()}
    assert b == s
    assert len(b) > 0


@pytest.fixture(scope="module")
def tie_dir(tmp_path_factory):
    """Synthetic embeddings engineered so exact cosine ties straddle
    sub-bucket boundaries AND the k-th rank: 8 well-separated one-hot
    base patterns (vec_ids 1-8 = the IVF centroids), each bucket filled
    with EXACT duplicates of its pattern plus distinguishable variants."""
    rng = np.random.default_rng(7)
    d = 8
    rows = []
    vid = 1
    for p in range(8):
        base = np.zeros(d, dtype=np.float32)
        base[p] = 10.0
        base[(p + 1) % d] = 1.0 + 0.25 * p
        rows.append((vid, p, base.copy()))  # the centroid itself
        vid += 1
    for p in range(8):
        base = next(e for i, lbl, e in rows[:8] if lbl == p)
        # 6 exact duplicates of one variant -> pairwise cos exactly equal,
        # far more ties than k=3 slots
        dup = base + np.float32(0.5)
        for _ in range(6):
            rows.append((vid, p, dup.copy()))
            vid += 1
        # 5 distinguishable variants
        for j in range(5):
            v = base.copy()
            v[(p + 2) % d] = np.float32(0.25 * (j + 1))
            v += rng.normal(0, 0.01, d).astype(np.float32)
            rows.append((vid, p, v))
            vid += 1
    out = tmp_path_factory.mktemp("tiesf")
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "label": pa.array([r[1] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[2].tolist() for r in rows], pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(tbl, str(out / "embeddings.parquet"))
    return str(out)


def _brute_force_knn(asg_rows, k):
    """Independent reference: per bucket, every query's top-k under
    (cos DESC, nid ASC), cosines via the same fold-exact kernels."""
    from http_datafusion_spark.functions.veclib import fold_dot, fold_norms

    by_bucket = {}
    for r in asg_rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    expected = set()
    for members in by_bucket.values():
        members.sort(key=lambda r: r.vec_id)
        ids = np.array([m.vec_id for m in members])
        labels = np.array([m.label for m in members])
        M = np.stack([np.asarray(m.embedding, dtype=np.float64) for m in members])
        nrm = fold_norms(M)
        cos = fold_dot(M, M) / np.outer(nrm, nrm)
        for qi in range(len(ids)):
            order = sorted(
                (j for j in range(len(ids)) if j != qi),
                key=lambda j: (-cos[qi, j], ids[j]),
            )[:k]
            for rank, j in enumerate(order, 1):
                expected.add(
                    (int(ids[qi]), int(labels[qi]), int(ids[j]), int(labels[j]), rank)
                )
    return expected


@pytest.mark.parametrize("row_cap", [10**9, 5])
def test_merge_preserves_order_across_tie_straddling_splits(spark, tie_dir, row_cap):
    """With cap=5 every 12-row bucket splits S=3, scattering the 6
    exact duplicates (pairwise-equal cosines) across slices; the merged
    top-3 must still equal the brute-force (cos DESC, nid ASC) ranking
    bit-for-bit. cap=1e9 pins the degenerate single-group path on the
    same engineered ties."""
    asg_rows = ivf_assignments(spark, tie_dir).collect()
    expected = _brute_force_knn(asg_rows, 3)
    got = {tuple(r) for r in bucket_knn_pairs(spark, tie_dir, 3, row_cap=row_cap).collect()}
    assert got == expected


def test_group_size_is_bounded_by_cap_not_corpus(spark, sf_dir):
    """The applyInPandas group key (bucket, gq, gn) must bound group
    rows by ~2*cap regardless of bucket size — the 100 TB contract."""
    cap = 16
    asg = ivf_assignments(spark, sf_dir)
    bucket_sizes = {
        r.bucket: r.cnt
        for r in asg.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    max_bucket = max(bucket_sizes.values())
    assert max_bucket > 2 * cap, "fixture too small to exercise splitting"
    g = (
        salted_bucket_groups(spark, sf_dir, row_cap=cap)
        .groupBy("bucket", "gq", "gn")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    max_group = max(r.n for r in g)
    # one query slice + one neighbor slice; xxhash64 split gives
    # slice <= ~cap w.h.p. — allow 1.5x hash-deviation slack, still
    # a CAP-scaled bound, far under the unsplit bucket size
    assert max_group <= 3 * cap, (max_group, cap)
    assert max_group < max_bucket


def test_exploded_memberships_cover_each_query_slice_pair_once(spark, sf_dir):
    """Every (query vec, neighbor-salt) pair must appear in exactly one
    group — the lossless-coverage contract of the 2S-1 explode."""
    cap = 16
    ex = salted_bucket_groups(spark, sf_dir, row_cap=cap)
    qside = ex.filter(F.col("roles") != 0).groupBy("vec_id", "gn").agg(
        F.count(F.lit(1)).alias("c")
    )
    assert qside.filter(F.col("c") != 1).count() == 0
    # and as a neighbor: exactly once per query-salt
    nside = ex.filter(F.col("roles") != 1).groupBy("vec_id", "gq").agg(
        F.count(F.lit(1)).alias("c")
    )
    assert nside.filter(F.col("c") != 1).count() == 0


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    n=st.integers(min_value=2, max_value=60),
    d=st.integers(min_value=1, max_value=8),
    k=st.integers(min_value=1, max_value=6),
    n_sub=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_partial_fn_plus_merge_equals_brute_force(n, d, k, n_sub, seed):
    """Pure-pandas property: the per-(q-salt, n-salt) partial kernel
    plus the (cos DESC, nid ASC) merge must equal brute-force top-k for
    ANY split factor, on vectors drawn from a coarse grid (many exact
    duplicates -> cosine ties everywhere, including across slices and
    straddling the k-th rank). No SparkSession — this pins the kernel
    and merge mathematics the distributed plan is built from."""
    import numpy as np
    import pandas as pd

    from http_datafusion_spark.functions.veclib import fold_dot, fold_norms
    from http_datafusion_spark.operators.similarity import _bucket_knn_partial_fn

    rng = np.random.default_rng(seed)
    # coarse integer grid -> frequent exact-duplicate vectors
    M = rng.integers(-1, 3, size=(n, d)).astype(np.float32)
    M[:, 0] = np.abs(M[:, 0]) + 1  # nonzero norm
    ids = np.arange(1, n + 1, dtype=np.int64)
    labels = ids % 3
    salts = ids % n_sub

    fn = _bucket_knn_partial_fn(k)
    parts = []
    for gq in range(n_sub):
        for gn in range(n_sub):
            rows = []
            for i in range(n):
                s = salts[i]
                if gq == gn:
                    if s == gq:
                        rows.append((ids[i], labels[i], M[i], 2))
                else:
                    if s == gq:
                        rows.append((ids[i], labels[i], M[i], 1))
                    elif s == gn:
                        rows.append((ids[i], labels[i], M[i], 0))
            if not rows:
                continue
            pdf = pd.DataFrame(
                {
                    "vec_id": [r[0] for r in rows],
                    "label": [r[1] for r in rows],
                    "embedding": [r[2] for r in rows],
                    "roles": [r[3] for r in rows],
                }
            )
            parts.append(fn(pdf))
    allp = pd.concat(parts, ignore_index=True)
    # the merge: row_number over (cos DESC, nid ASC) per qid, rn <= k
    allp = allp.sort_values(["qid", "cos", "nid"], ascending=[True, False, True])
    allp["rn"] = allp.groupby("qid").cumcount() + 1
    got = {
        (int(r.qid), int(r.nid), int(r.rn))
        for r in allp[allp["rn"] <= k].itertuples()
    }

    Md = M.astype(np.float64)
    nrm = fold_norms(Md)
    cos = fold_dot(Md, Md) / np.outer(nrm, nrm)
    expected = set()
    for qi in range(n):
        order = sorted(
            (j for j in range(n) if j != qi), key=lambda j: (-cos[qi, j], ids[j])
        )[:k]
        for rank, j in enumerate(order, 1):
            expected.add((int(ids[qi]), int(ids[j]), rank))
    assert got == expected


@pytest.fixture(scope="module")
def singleton_bucket_dir(tmp_path_factory):
    """Degenerate SemDeDup input: embeddings = ONLY the 8 centroid
    vectors, so every IVF bucket holds exactly one vector and no vector
    has an earlier-ordered cluster-mate (`best` is empty)."""
    d = 8
    rows = []
    for p in range(8):
        v = np.zeros(d, dtype=np.float32)
        v[p] = 10.0
        v[(p + 1) % d] = 1.0 + 0.25 * p
        rows.append((p + 1, p, v))
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[2].tolist() for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[1] for r in rows], pa.int32()),
        }
    )
    out = tmp_path_factory.mktemp("singleton") / "sf"
    out.mkdir()
    pq.write_table(tbl, out / "embeddings.parquet")
    return str(out)


def test_semdedup_sweep_emits_full_grid_on_degenerate_input(spark, singleton_bucket_dir):
    """When no vector has an earlier cluster-mate
    the sweep must still emit every tau row with n_pruned=0 /
    keep_rate=1.0 — and stay oracle-exact on that input."""
    from http_datafusion_spark.operators.similarity import SEMDEDUP_TAU_GRID
    from http_datafusion_spark.plans.compare import compare_query, duckdb_connection
    from http_datafusion_spark.plans.registry import all_queries

    spec = all_queries()["sim_semdedup_threshold_sweep"]
    rows = spec.spark(spark, singleton_bucket_dir).orderBy("tau").collect()
    assert [r.tau for r in rows] == [pytest.approx(t) for t in SEMDEDUP_TAU_GRID]
    assert all(r.n_pruned == 0 and r.keep_rate == 1.0 and r.n_vectors == 8 for r in rows)
    con = duckdb_connection(singleton_bucket_dir)
    try:
        res = compare_query(spark, spec, singleton_bucket_dir, con=con)
        assert res.ok and res.exact, res.detail
    finally:
        con.close()


# ---------------------------------------------------------------------
# Exact-int64 helper properties: the helpers shared by centroid_assignments / sim_ood_detection /
# sim_centroid_classifier_eval / sim_kmeans_refit.

from hypothesis import given, settings
from hypothesis import strategies as st

MICRO_BOUND = 20_000_000  # documented |x| <= ~2e7 micro (20.0 raw)
DIMS = 64


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-MICRO_BOUND, max_value=MICRO_BOUND),
            min_size=DIMS,
            max_size=DIMS,
        ),
        min_size=1,
        max_size=6,
    ),
    st.lists(
        st.lists(
            st.integers(min_value=-MICRO_BOUND, max_value=MICRO_BOUND),
            min_size=DIMS,
            max_size=DIMS,
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_int64_sqdist_never_overflows_at_documented_bounds(xs, cs):
    """_int64_sqdist must equal the arbitrary-precision big-int
    computation at the EXTREME documented bounds (|x| <= 2e7 micro,
    64 dims): worst case per cell is 64 * (4e7)^2 ~ 1.02e17 < 2^63.
    A silent wraparound would corrupt every consumer's ordering."""
    from http_datafusion_spark.operators.similarity import _int64_sqdist

    X = np.array(xs, dtype=np.int64)
    C = np.array(cs, dtype=np.int64)
    got = _int64_sqdist(X, C)
    for i, xv in enumerate(xs):
        for j, cv in enumerate(cs):
            exact = sum((int(a) - int(b)) ** 2 for a, b in zip(xv, cv))
            assert exact < 2**63
            assert int(got[i, j]) == exact


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=64 * (2 * MICRO_BOUND) ** 2))
def test_integer_half_up_matches_decimal_oracle(mi):
    """(mi + 5e5) // 1e6 (the sim_ood_detection kernel's integer
    rounding, mi >= 0) must be bit-equal to Decimal ROUND_HALF_UP at
    6 micro-digits — including EXACT .5 remainders, where HALF_DOWN
    or banker's rounding would differ."""
    from decimal import ROUND_HALF_UP, Decimal

    got = (mi + 500_000) // 1_000_000
    want = int(
        (Decimal(mi) / Decimal(1_000_000)).quantize(Decimal(1), ROUND_HALF_UP)
    )
    assert got == want


def test_integer_half_up_exact_boundary_cases():
    """Pin the adversarial remainders explicitly (Hypothesis finds
    them probabilistically; these must never regress)."""
    for q in (0, 1, 7, 10**9):
        base = q * 1_000_000
        assert (base + 499_999 + 500_000) // 1_000_000 == q  # just below .5
        assert (base + 500_000 + 500_000) // 1_000_000 == q + 1  # exactly .5
        assert (base + 500_001 + 500_000) // 1_000_000 == q + 1  # just above


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-100, max_value=100),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=6,
        unique_by=tuple,
    ),
    st.lists(
        st.integers(min_value=-100, max_value=100), min_size=4, max_size=4
    ),
)
def test_argmin_tiebreak_matches_lexicographic_d2_label(cents, x):
    """np.argmin's first-min rule over ascending-label centroid rows
    must equal min by (d2, label) — the oracle's ORDER BY d2, clabel.
    Small coordinates force frequent exact distance ties."""
    from http_datafusion_spark.operators.similarity import _int64_sqdist

    labels = np.arange(len(cents), dtype=np.int64)  # ascending by row
    C = np.array(cents, dtype=np.int64)
    X = np.array([x], dtype=np.int64)
    d2 = _int64_sqdist(X, C)[0]
    got = labels[int(np.argmin(d2))]
    want = min(zip(d2.tolist(), labels.tolist()))[1]
    assert got == want
