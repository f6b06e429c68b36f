"""Numpy kernels of the three-phase cascade, each step written once.

Both numpy hosts of the cascade run on these: the Arrow batch scan of
``cascade_search_batch`` (operators/cascade.py) and the RAM-tier searchers
(operators/local_serve.py).  Each host scores its rows exactly, selects an
exact local top-k and merges globally (the REPOSE shape).  Every kernel is
bit-identical to the SQL expressions of functions/vector.py and to the
DuckDB oracles: hamming is integer-exact, dot products fold strictly
left-to-right over ascending dimension in float64.

numpy only — importing this module loads neither pyspark nor pyarrow.
"""

from __future__ import annotations

import numpy as np


def unpack_pm1(packed: np.ndarray, dim: int) -> np.ndarray:
    """Packed sign bits, one row per vector (uint64 lanes or uint8 bytes,
    LSB-first — the pack_bits/pack_bits_np layout on a little-endian
    host), to an ``(n, dim)`` float32 matrix of ±1."""
    bits = np.unpackbits(np.ascontiguousarray(packed).view(np.uint8), axis=1,
                         bitorder="little")[:, :dim]
    return bits.astype(np.float32) * 2 - 1


def sign_pm1(q: np.ndarray) -> np.ndarray:
    """Query sign bits as float32 ±1 (x >= 0 is bit set, as in pack_bits)."""
    return np.where(q >= 0, np.float32(1), np.float32(-1))


def hamming_pm1(qpm: np.ndarray, dpm: np.ndarray) -> np.ndarray:
    """int32 hamming distances via hamming(q, d) = (dim - q·d) / 2 over ±1
    vectors: ``(n,)`` for one query, ``(nq, n)`` for a query matrix.  The
    GEMM sums ±1 terms, so it is integer-valued and exact in float32 up to
    dim 2^24 whatever fold order BLAS picks."""
    return ((dpm.shape[1] - qpm @ dpm.T) * 0.5).astype(np.int32)


def select_topk(h: np.ndarray, ids: np.ndarray, kk: int) -> np.ndarray:
    """Row indices of one query's top-``kk`` by (h asc, id asc), as a set
    in no particular order.  Hamming has only dim+1 values, so a histogram
    gives the cutoff score: every row below it is in, and the ties AT it
    resolve by smallest id (~5x faster than argpartition on a composite
    key at 1M rows)."""
    if kk >= len(h):
        return np.arange(len(h))
    cut = int(np.searchsorted(np.bincount(h).cumsum(), kk))
    below = np.flatnonzero(h < cut)
    tie = np.flatnonzero(h == cut)
    need = kk - len(below)
    if need < len(tie):
        tie = tie[np.argpartition(ids[tie], need - 1)[:need]]
    return np.concatenate((below, tie))


def fold_dot(q: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """float64 row dots of ``mat`` with ``q`` — one ``(dim,)`` query, or one
    query row per matrix row — folded ``acc += q[d] * mat[:, d]`` over
    ascending d: the exact sequential fold of the SQL dot/binary_dot
    expressions (never a BLAS dot, whose pairwise fold drifts ULPs).  The
    Fortran-order product makes each column add a contiguous vector op."""
    prod = np.multiply(mat, q, dtype=np.float64, order="F")
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for d in range(mat.shape[1]):
        acc += prod[:, d]
    return acc
