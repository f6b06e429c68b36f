"""Property tests for the vector kernels against numpy ground truth
(SURVEY §7 risk 1: bit-packing fidelity)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from binaryvectordb_spark.functions.vector import (
    binary_dot,
    dot,
    hamming,
    int8_quantize,
    pack_bits,
    popcount_vec,
)

DIM = 96  # deliberately not a multiple of 64: exercises the partial lane


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.RandomState(7)
    vecs = rng.uniform(-1, 1, (50, DIM)).astype(np.float32)
    vecs[0, :] = 0.0                       # all-zero edge case (bit = v>=0 -> all ones)
    vecs[1, ::2] = 0.0                     # exact zeros mixed in
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "id: long, v: array<float>")
    return df, vecs


def test_pack_bits_matches_numpy(vec_df):
    df, vecs = vec_df
    packed = df.select("id", pack_bits("v", DIM).alias("packed"))
    got = {r.id: r.packed for r in packed.collect()}
    for i, v in enumerate(vecs):
        bits = (v >= 0)
        for lane in range((DIM + 63) // 64):
            want = 0
            for b in range(min(64, DIM - 64 * lane)):
                if bits[64 * lane + b]:
                    want |= 1 << b
            # interpret as signed int64 (Spark LongType)
            want = want - (1 << 64) if want >= (1 << 63) else want
            assert got[i][lane] == want, (i, lane)


def test_pack_bits_np_matches_sql(vec_df):
    """Driver-side numpy packer and the SQL expression packer share one bit
    layout (vector.py's contract) — they must agree on every input."""
    from binaryvectordb_spark.functions.vector import pack_bits_np

    df, vecs = vec_df
    got = {r.id: r.packed
           for r in df.select("id", pack_bits("v", DIM).alias("packed")).collect()}
    want = pack_bits_np(vecs).view(np.int64)  # Spark lanes are signed int64
    for i in range(len(vecs)):
        assert list(want[i]) == got[i], i


def test_hamming_matches_numpy(spark, vec_df):
    df, vecs = vec_df
    packed = df.select("id", pack_bits("v", DIM).alias("p"))
    a = packed.selectExpr("id as ida", "p as pa")
    b = packed.selectExpr("id as idb", "p as pb")
    got = {(r.ida, r.idb): r.h
           for r in a.join(b, F.col("ida") < F.col("idb"))
           .select("ida", "idb", hamming("pa", "pb").alias("h")).collect()}
    bits = vecs >= 0
    for (i, j), h in got.items():
        assert h == int((bits[i] != bits[j]).sum())


def test_popcount_and_dot(vec_df):
    df, vecs = vec_df
    out = (df.select("id", pack_bits("v", DIM).alias("p"), "v")
           .select("id", popcount_vec("p").alias("pc"),
                   dot("v", "v").alias("d")))
    for r in out.collect():
        v = vecs[r.id].astype(np.float64)
        assert r.pc == int((v >= 0).sum())
        # engine contract: strict left-to-right fold (np.dot pairwise-sums,
        # so it differs in the last ulp — build the fold explicitly)
        acc = 0.0
        for x in v:
            acc += x * x
        assert r.d == acc


def test_binary_dot_matches_numpy(vec_df):
    df, vecs = vec_df
    q = vecs[2]
    qlit = F.array(*[F.lit(float(x)) for x in q]).cast("array<float>")
    out = (df.select("id", pack_bits("v", DIM).alias("p"))
           .withColumn("qv", qlit)
           .select("id", binary_dot("qv", "p", DIM).alias("bd")))
    for r in out.collect():
        pm = (vecs[r.id] >= 0).astype(np.float64) * 2 - 1
        want = float(np.dot(q.astype(np.float64), pm))
        assert r.bd == pytest.approx(want, rel=1e-12)


def test_int8_quantize(vec_df):
    df, vecs = vec_df
    out = df.select("id", int8_quantize("v").alias("q"))
    for r in out.collect():
        v = np.clip(vecs[r.id].astype(np.float64), -1, 1) * 127
        # HALF_UP == round half away from zero
        want = np.sign(v) * np.floor(np.abs(v) + 0.5)
        assert list(r.q) == [int(x) for x in want]


def test_pack_unpack_roundtrip_property():
    """SURVEY §7 risk 1 mitigation: pack∘unpack == sign-bits identity at
    ARBITRARY dims (partial lanes, multi-lane), unpacked by
    kernels.unpack_pm1 — the unpack every numpy cascade kernel runs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from binaryvectordb_spark.functions.kernels import unpack_pm1
    from binaryvectordb_spark.functions.vector import pack_bits_np

    @settings(max_examples=50, deadline=None)
    @given(st.integers(min_value=1, max_value=200),
           st.integers(min_value=0, max_value=2**31 - 1))
    def check(dim, seed):
        rng = np.random.RandomState(seed)
        v = rng.uniform(-1, 1, (3, dim)).astype(np.float32)
        v[0, 0] = 0.0  # boundary: zero counts as bit set (x >= 0)
        pm = unpack_pm1(pack_bits_np(v), dim)
        assert (pm == np.where(v >= 0, 1, -1)).all(), (dim, seed)

    check()
