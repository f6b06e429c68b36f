"""Property-based semantic parity: the Spark cascade must reproduce the
reference algorithm (BinaryVectorDB/BinaryVectorDB.py:200-252) on arbitrary
inputs and parameter combinations — not just the fixture corpus.

``reference_cascade`` is a clean-room numpy statement of the documented
semantics (sign-bit hamming ascending with id tie-break -> q·(2b-1)
descending -> q·int8/‖int8‖ descending, truncations at :204/:230/:248) used
as the test oracle.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from binaryvectordb_spark.operators.cascade import (
    build_doc_store,
    build_index,
    cascade_search,
)

DIM = 32


def reference_cascade(V: np.ndarray, ids: np.ndarray, q: np.ndarray,
                      k: int, bo: int, io: int):
    n = len(V)
    q64 = q.astype(np.float64)
    bits = V >= 0
    qb = q >= 0
    ham = (bits != qb).sum(axis=1)
    binary_k = min(k * bo, n)                       # :204 ntotal clamp
    p1 = np.lexsort((ids, ham))[:binary_k]
    sb = (bits[p1].astype(np.float64) * 2 - 1) @ q64
    order2 = np.lexsort((ids[p1], -sb))[: k * io]   # :230 no clamp
    p2 = p1[order2]
    i8 = np.clip(np.round(np.clip(V[p2].astype(np.float64), -1, 1) * 127),
                 -128, 127)
    sc = (i8 @ q64) / np.linalg.norm(i8, axis=1)
    order3 = np.lexsort((ids[p2], -sc))[:k]
    p3 = p2[order3]
    return [(int(ids[p3][j]), int(ham[p3][j]), float(sc[order3][j]))
            for j in range(len(p3))]


@st.composite
def corpus(draw):
    n = draw(st.integers(min_value=5, max_value=60))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    k = draw(st.sampled_from([1, 3, 10]))
    bo = draw(st.sampled_from([2, 10]))
    io = draw(st.sampled_from([1, 3]))
    rng = np.random.RandomState(seed)
    V = rng.uniform(-1, 1, (n, DIM)).astype(np.float32)
    q = rng.uniform(-1, 1, DIM).astype(np.float32)
    return V, q, k, bo, io


def _per_query_rows(index, store, dim, queries, k):
    """The reference for a batch: each query through the single-query
    JVM expression plan (cascade_search), its rows prefixed with qid."""
    out = []
    for qid, qvec in queries:
        out += [(qid, *r) for r in cascade_search(
            index, store, dim, query_vec=qvec, k=k).collect()]
    return out


@pytest.mark.parametrize("dim", [96, 1024])
@pytest.mark.slow
def test_batch_phase1_paths_agree(spark, dim):
    """The Arrow batch cascade must produce byte-identical rows to the
    per-query expression cascade — including tie regions (duplicated
    vectors force score ties whose resolution must be (score, doc_id),
    not selection-order).  dim=96 covers a partial lane; dim=1024 is the
    reference's real dimensionality (16 full lanes)."""
    from binaryvectordb_spark.operators.cascade import cascade_search_batch

    rng = np.random.RandomState(7)
    V = rng.uniform(-1, 1, (80, dim)).astype(np.float32)
    V[40:60] = V[0:20]  # duplicate block -> hamming ties across doc_ids
    rows = [(int(i), v.tolist()) for i, v in enumerate(V)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    index = build_index(emb, dim)
    store = build_doc_store(emb)
    queries = [(int(i), V[i * 3].tolist()) for i in range(5)]
    qs = spark.createDataFrame(queries, "qid: long, qvec: array<float>")
    a = cascade_search_batch(index, store, dim, qs, k=5).collect()
    h = _per_query_rows(index, store, dim, queries, k=5)
    assert [tuple(r) for r in a] == h
    assert len(a) == 25


@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(corpus())
def test_cascade_matches_reference_semantics(spark, data):
    V, q, k, bo, io = data
    ids = np.arange(len(V), dtype=np.int64)
    rows = [(int(i), v.tolist()) for i, v in zip(ids, V)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    got = cascade_search(build_index(emb, DIM), build_doc_store(emb), DIM,
                         query_vec=q.tolist(), k=k,
                         binary_oversample=bo, int8_oversample=io).collect()
    want = reference_cascade(V, ids, q, k, bo, io)
    assert [(r.doc_id, r.score_hamming) for r in got] == \
        [(w[0], w[1]) for w in want]
    for r, w in zip(got, want):
        assert r.score_cossim == pytest.approx(w[2], rel=1e-9)


@pytest.mark.slow
def test_cascade_quality_retention(spark):
    """The reference's quality claim (README.md:134-153: more rescoring =>
    more of the float-exact result retained) must hold on the fixtures:
    recall@10 vs exact float cosine has a sane floor at the default
    oversample and does not degrade when oversampling doubles.  (Absolute
    values are fixture-dependent: near-random 64-dim vectors are the
    adversarial case for sign quantization; the reference's 99.99% is on
    real 1024-dim embeddings.)"""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from binaryvectordb_spark.functions.vector import cosine
    from binaryvectordb_spark.operators.cascade import (
        build_doc_store,
        build_index,
        cascade_search_batch,
    )
    from binaryvectordb_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    # unpersisted at the end: a cached fixture table would change the
    # physical plans (InMemoryTableScan) of later tests in the session
    try:
        index, store = build_index(emb, 64), build_doc_store(emb)
        queries = (emb.where(F.col("vec_id") < 30)
                   .select(F.col("vec_id").alias("qid"),
                           F.col("embedding").alias("qvec")))
        w = Window.partitionBy("qid").orderBy(F.desc("s"), F.asc("doc_id"))
        exact = (emb.join(F.broadcast(queries.select("qid", F.col("qvec").alias("qv"))))
                 .select("qid", F.col("vec_id").alias("doc_id"),
                         cosine("qv", "embedding").alias("s"))
                 .withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 10))
        truth: dict[int, set] = {}
        for r in exact.collect():
            truth.setdefault(r.qid, set()).add(r.doc_id)

        def recall(bo, io):
            hits = cascade_search_batch(index, store, 64, queries, k=10,
                                        binary_oversample=bo, int8_oversample=io
                                        ).collect()
            got: dict[int, set] = {}
            for r in hits:
                got.setdefault(r.qid, set()).add(r.doc_id)
            return sum(len(truth[q] & got[q]) for q in truth) / (10 * len(truth))

        r_default = recall(10, 3)
        r_double = recall(20, 5)
        assert r_default >= 0.55, f"default-oversample recall {r_default}"
        assert r_double >= r_default - 0.02, (r_default, r_double)
    finally:
        emb.unpersist()


def test_cascade_k_exceeds_corpus(spark):
    """k*oversample beyond ntotal must clamp like the reference (:204 —
    LIMIT clamps naturally) and return min(k, n) rows, both paths."""
    from binaryvectordb_spark.operators.cascade import cascade_search_batch

    rng = np.random.RandomState(3)
    V = rng.uniform(-1, 1, (7, DIM)).astype(np.float32)
    rows = [(int(i), v.tolist()) for i, v in enumerate(V)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    index, store = build_index(emb, DIM), build_doc_store(emb)

    single = cascade_search(index, store, DIM, query_vec=V[0].tolist(),
                            k=50).collect()
    assert len(single) == 7
    assert single[0].doc_id == 0  # self-match ranks first

    qs = spark.createDataFrame([(0, V[0].tolist()), (1, V[1].tolist())],
                               "qid: long, qvec: array<float>")
    batched = cascade_search_batch(index, store, DIM, qs, k=50).collect()
    assert len(batched) == 14


@pytest.mark.slow
def test_batch_phase1_paths_agree_large_multibatch(spark):
    """Arrow batch vs per-query expression cascade equivalence at a scale
    that forces MANY partitions and multiple Arrow batches per partition,
    with heavy score ties SPANNING batch boundaries (the corpus is 40x-replicated, so every vector has 40
    identical twins in other partitions) — exercises the local-select
    tie fix-up and the global merge."""
    from pyspark.sql import functions as F

    from binaryvectordb_spark.operators.cascade import cascade_search_batch
    from binaryvectordb_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    big = (emb.crossJoin(spark.range(40).select(F.col("id").alias("rep")))
           .select((F.col("vec_id") + F.col("rep") * n).alias("vec_id"),
                   "embedding")
           .repartition(16))
    index = build_index(big, 64).cache()
    store = build_doc_store(big).cache()
    qs = (emb.where(F.col("vec_id") < 20)
          .select(F.col("vec_id").alias("qid"),
                  F.col("embedding").alias("qvec")))
    queries = [(int(r["qid"]), list(r["qvec"])) for r in qs.collect()]
    # force >1 Arrow record batch per partition (1250 rows/partition, 300
    # rows/batch) so the kernel's cross-batch accumulate+merge actually runs
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "300")
    try:
        a = cascade_search_batch(index, store, 64, qs, k=10).collect()
        h = _per_query_rows(index, store, 64, sorted(queries), k=10)
    finally:
        spark.conf.set(key, prev)
        index.unpersist()
        store.unpersist()
    assert [tuple(r) for r in a] == h
    assert len(a) == 200


def test_nonfinite_query_rejected(spark):
    from binaryvectordb_spark.operators.cascade import cascade_search_batch

    rng = np.random.RandomState(3)
    V = rng.uniform(-1, 1, (10, DIM)).astype(np.float32)
    emb = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(V)],
        "vec_id: long, embedding: array<float>")
    index, store = build_index(emb, DIM), build_doc_store(emb)
    bad = V[0].tolist()
    bad[3] = float("nan")
    qs = spark.createDataFrame([(0, bad)], "qid: long, qvec: array<float>")
    with pytest.raises(ValueError, match="finite"):
        cascade_search_batch(index, store, DIM, qs, k=3).collect()
