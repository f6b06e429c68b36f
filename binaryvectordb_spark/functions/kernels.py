"""Numpy kernels of the three-phase cascade, each step written once.

Both numpy hosts of the cascade run on these: the Arrow batch scan of
``cascade_search_batch`` (operators/cascade.py) and the RAM-tier searchers
(operators/local_serve.py).  Each host scores its rows exactly, selects an
exact local top-k and merges globally (the REPOSE shape).  Every kernel is
bit-identical to the SQL expressions of functions/vector.py and to the
DuckDB oracles: hamming is integer-exact, dot products fold strictly
left-to-right over ascending dimension in float64.

Phase I has two hamming kernels, one per host, both exact:

- ``hamming_lanes`` — popcount(q ^ d) over the packed uint64 lanes, as
  faiss ``IndexBinaryFlat`` does (the reference's README.md:132).  The RAM
  tier scores ONE query at a time against bits it keeps packed: dim/8
  bytes per doc (8 MB at 1M x 64, against 256 MB as ±1 float32), and no
  BLAS on the serving path.  A one-query GEMV wakes OpenBLAS's thread
  pool, whose workers spin on after the call returns.  Per query on 4
  vCPUs, GEMV against popcount: at 5k docs, isolated calls took 149 ms
  against 1.4 ms of process CPU; at 1M x 64, back-to-back calls took
  28-36 ms of wall for 108-134 ms of CPU against 15-16 ms for 15-16 ms.
- ``hamming_pm1`` — the ±1 GEMM identity (dim - q·d)/2.  The Arrow batch
  scan scores a whole query MATRIX per record batch, where one GEMM beats
  a popcount per query (100 q x 200k docs, dim 64, local[4]: 1.40-1.46 s
  against 1.52-1.61 s; dim 256, 100 q x 50k: 227 against 329 ms).

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


def pack_lanes(mat: np.ndarray) -> np.ndarray:
    """``(n, dim)`` float matrix -> ``(n, ceil(dim/64))`` uint64 sign-bit
    lanes: dimension d in lane d//64 at bit d%64, set iff x >= 0, padding
    bits zero — the pack_bits/pack_bits_np layout."""
    return lanes_from_bytes(
        np.packbits(np.asarray(mat) >= 0, axis=1, bitorder="little"))


def lanes_from_bytes(packed: np.ndarray) -> np.ndarray:
    """LSB-first sign-bit bytes (``np.packbits(..., bitorder="little")``,
    the RAM tier's on-disk ``packed_bits``) -> uint64 lanes, the last
    lane zero-padded."""
    n, nbytes = packed.shape
    out = np.zeros((n, -(-nbytes // 8) * 8), dtype=np.uint8)
    out[:, :nbytes] = packed
    return out.view("<u8").astype(np.uint64, copy=False)


_M1, _M2, _M4, _H01 = (np.uint64(m) for m in (
    0x5555555555555555, 0x3333333333333333, 0x0F0F0F0F0F0F0F0F,
    0x0101010101010101))


def popcount64(x: np.ndarray) -> np.ndarray:
    """Set bits of each element of a uint64 array, IN PLACE (``x`` is
    returned, now holding the counts).  numpy 1.26 has no
    ``bitwise_count``, so the count is SWAR: bit pairs, then nibbles, then
    bytes, and a multiply sums the eight byte counts into the top byte."""
    t = np.right_shift(x, np.uint64(1))
    t &= _M1
    x -= t
    np.right_shift(x, np.uint64(2), out=t)
    t &= _M2
    x &= _M2
    x += t
    np.right_shift(x, np.uint64(4), out=t)
    x += t
    x &= _M4
    x *= _H01
    x >>= np.uint64(56)
    return x


def hamming_lanes(qlanes: np.ndarray, lanes: np.ndarray) -> np.ndarray:
    """``(n,)`` int32 hamming distances of one query's ``(L,)`` uint64
    lanes to ``(n, L)`` doc lanes: popcount(q ^ d) summed over the lanes,
    one lane column at a time."""
    h = popcount64(np.bitwise_xor(lanes[:, 0], qlanes[0]))
    for j in range(1, len(qlanes)):
        h += popcount64(np.bitwise_xor(lanes[:, j], qlanes[j]))
    return h.astype(np.int32)


def sign_pm1(q: np.ndarray) -> np.ndarray:
    """Query sign bits as float32 ±1 (x >= 0 is bit set, as in pack_bits)."""
    return np.where(q >= 0, np.float32(1), np.float32(-1))


def hamming_pm1(qpm: np.ndarray, dpm: np.ndarray) -> np.ndarray:
    """int32 hamming distances via hamming(q, d) = (dim - q·d) / 2 over ±1
    vectors: ``(nq, n)`` for a query matrix (the Arrow batch scan),
    ``(n,)`` for one query.  The GEMM sums ±1 terms, so it is
    integer-valued and exact in float32 up to dim 2^24 whatever fold order
    BLAS picks."""
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
