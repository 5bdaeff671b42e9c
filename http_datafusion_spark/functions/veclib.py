"""Arrow-batched vector kernels with *fold-exact* float semantics.

Higher-order Spark expressions (``zip_with`` + ``aggregate``) evaluate
interpreted — outside whole-stage codegen — and measured ~17-20x slower
than vectorized numpy on this repo's own benchmarks (BASELINE.md). These
kernels replace them in the hot paths while keeping **bit-identical**
results to a sequential left fold, which is what both DuckDB's
``list_sum(list_transform(...))`` oracle and Spark's ``F.aggregate``
compute:

- the element products/squares are exact in float64 whenever the inputs
  originate from float32 (24+24 mantissa bits < 53), so only the
  *accumulation order* can differ between implementations;
- every kernel therefore accumulates dimension-by-dimension, left to
  right (one vectorized add per dimension) — the same IEEE rounding
  sequence per output element as a per-row sequential fold, and ~100x
  the throughput of an interpreted lambda;
- notably NOT ``A @ B.T``: BLAS reorders/block-sums the accumulation,
  which is faster but loses bit-parity with the SQL oracle.
"""

from __future__ import annotations

import numpy as np


def stack_embeddings(col) -> np.ndarray:
    """pandas Series of array<float> -> (n, d) float64 matrix."""
    return np.stack(col.to_numpy()).astype(np.float64)


_FOLD_TILE = 512  # B-columns per tile: 1024-row chunk x 512 x 8B = 4 MB accumulator


def fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, d) x (m, d) -> (n, m) dot products, accumulated dim-by-dim.

    Tiled over B's rows (output columns) so the accumulator slab stays
    cache-resident across the d fold iterations — the untiled form
    streamed the full (n, m) accumulator through DRAM once PER
    DIMENSION, which made the bucket-kNN kernel memory-bound (d x
    the necessary traffic). Tiling partitions independent output
    elements only; each element's accumulation order is unchanged, so
    results stay bit-identical to the sequential fold / SQL oracle."""
    n, d = A.shape
    m = B.shape[0]
    acc = np.empty((n, m))
    for j0 in range(0, m, _FOLD_TILE):
        j1 = min(j0 + _FOLD_TILE, m)
        tile = np.zeros((n, j1 - j0))
        Bt = B[j0:j1]
        for k in range(d):
            tile += A[:, k : k + 1] * Bt[:, k][None, :]
        acc[:, j0:j1] = tile
    return acc


def fold_norms(A: np.ndarray) -> np.ndarray:
    """(n, d) -> (n,) L2 norms: sqrt of a left-fold sum of squares."""
    acc = np.zeros(A.shape[0])
    for k in range(A.shape[1]):
        x = A[:, k]
        acc += x * x
    return np.sqrt(acc)


def fold_sqdist(A: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, d) x (K, d) -> (n, K) squared L2 distances, dim-by-dim fold."""
    acc = np.zeros((A.shape[0], C.shape[0]))
    for k in range(A.shape[1]):
        diff = A[:, k : k + 1] - C[:, k][None, :]
        acc += diff * diff
    return acc
