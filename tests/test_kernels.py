"""Properties of the shared numpy cascade kernels (functions/kernels.py).
No Spark: these pin the selection and fold that both numpy hosts — the
Arrow batch scan and the RAM tier — run."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from binaryvectordb_spark.functions import kernels


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=300),
       st.integers(min_value=1, max_value=65),
       st.data())
def test_select_topk_is_lexsort_prefix(n, n_values, data):
    """select_topk(h, ids, kk) returns exactly the set of the first kk rows
    by (h asc, id asc), for unsorted unique ids and tie-heavy scores (few
    distinct values), kk == 1 and kk == len(h) included."""
    seed = data.draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.RandomState(seed)
    h = rng.randint(0, n_values, n).astype(np.int32)
    ids = rng.permutation(10 * n)[:n].astype(np.int64)
    kk = data.draw(st.sampled_from(sorted({1, n, rng.randint(1, n + 1)})))
    got = kernels.select_topk(h, ids, kk)
    assert len(got) == kk
    assert set(got.tolist()) == set(np.lexsort((ids, h))[:kk].tolist())


def test_hamming_pm1_matches_popcount():
    """Both Phase-I kernels against the sign-bit truth: the ±1 GEMM for a
    query matrix and one query, and the lane popcount of one packed query
    (dim 70 has a second, zero-padded lane)."""
    rng = np.random.RandomState(3)
    for dim in (64, 70):
        q = rng.uniform(-1, 1, (4, dim)).astype(np.float32)
        d = rng.uniform(-1, 1, (50, dim)).astype(np.float32)
        d[:5] = q[1]                                  # distance 0
        d[5:10] = -q[1]                               # distance dim
        want = ((q[:, None, :] >= 0) != (d[None, :, :] >= 0)).sum(axis=2)
        dpm = kernels.sign_pm1(d)
        assert (kernels.hamming_pm1(kernels.sign_pm1(q), dpm) == want).all()
        assert (kernels.hamming_pm1(kernels.sign_pm1(q[1]), dpm)
                == want[1]).all()
        lanes = kernels.pack_lanes(d)
        assert lanes.dtype == np.uint64
        assert lanes.shape == (50, -(-dim // 64))
        for i in range(len(q)):
            qlanes = kernels.pack_lanes(q[i:i + 1])[0]
            got = kernels.hamming_lanes(qlanes, lanes)
            assert got.dtype == np.int32 and (got == want[i]).all()


def test_popcount64_extremes():
    x = np.array([0, 1, 2**63, 2**64 - 1, 0x5555555555555555,
                  0x8000000000000001], dtype=np.uint64)
    assert kernels.popcount64(x.copy()).tolist() == [0, 1, 1, 64, 32, 2]


def test_kernel_fold_is_sequential():
    """Both query forms equal the explicit ascending-dimension fold."""
    rng = np.random.RandomState(5)
    q = rng.uniform(-1, 1, (30, 48))
    mat = rng.randint(-127, 128, (30, 48)).astype(np.int8)
    want = np.zeros(30)
    for d in range(48):
        want += q[:, d] * mat[:, d].astype(np.float64)
    assert (kernels.fold_dot(q, mat) == want).all()
    want1 = np.zeros(30)
    for d in range(48):
        want1 += q[0, d] * mat[:, d].astype(np.float64)
    assert (kernels.fold_dot(q[0], mat) == want1).all()
