"""The three-phase quantized k-NN search cascade, Spark-first.

Reference semantics (BinaryVectorDB/BinaryVectorDB.py:200-252, README.md:125-162):

  Phase I   hamming k-NN over the binary index, ascending, top
            ``binary_k = min(k * binary_oversample, ntotal)``         (:204,:209-216)
  Phase II  rescore ALL Phase-I candidates with q_float · (2b-1),
            descending, truncate to ``k * int8_oversample``           (:218-232)
  Phase III fetch {doc, emb_int8} for survivors, score q·d/‖d‖
            (doc-side norm only), descending, truncate to k           (:234-250)

Spark mapping (SURVEY §3.1): the whole cascade is ONE logical plan —
  cached index scan -> hamming expr -> TakeOrderedAndProject(binary_k)
  -> rescore expr -> TakeOrderedAndProject(rescore_k)
  -> broadcast join against the documents table (candidates are tiny)
  -> cosine expr -> TakeOrderedAndProject(k).

Scale notes (100 TB): Phase I is an embarrassingly parallel scan + per-partition
partial top-k with a k-row-per-partition merge (TakeOrderedAndProject) — no full
shuffle.  Phases II/III touch <= k*oversample rows.  The documents join
broadcasts the candidate side, so the big documents table is never shuffled;
Parquet column pruning reads only (doc_id, doc, emb_int8).

Tie-breaking: the reference relies on Python's stable sort (:229,:247); we pin
ties explicitly with doc_id ascending so results are deterministic (SURVEY §7
risk 3).

Phase-I kernel choice (measured at 1M cached vectors, local[8]): the pure
expression scan runs 0.23s; an Arrow-batched numpy mapInPandas scan with a
popcount LUT runs 1.42s — Arrow serialization of JVM-cached data costs ~6x
more than the whole expression evaluation.  Expressions stay; pandas kernels
are reserved for logic expressions cannot express (multimodal decode).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from binaryvectordb_spark.functions import kernels
from binaryvectordb_spark.functions.vector import (
    NUM_LANES,
    binary_dot,
    hamming,
    int8_cosine,
    int8_quantize,
    pack_bits,
)

DEFAULT_K = 10
DEFAULT_BINARY_OVERSAMPLE = 10   # BinaryVectorDB/BinaryVectorDB.py:174
DEFAULT_INT8_OVERSAMPLE = 3      # BinaryVectorDB/BinaryVectorDB.py:174


def build_index(emb_df: DataFrame, dim: int,
                id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """embeddings -> index(doc_id, vec ARRAY<BIGINT>) — the RAM tier.

    1 bit/dim packed into int64 lanes = the reference's 32x compression
    (README.md:126-131).  Callers .cache() this (README.md:68 'binary
    embeddings are loaded in memory').
    """
    return emb_df.select(
        F.col(id_col).alias("doc_id"),
        pack_bits(emb_col, dim).alias("vec"),
    )


def build_doc_store(emb_df: DataFrame, docs_df: DataFrame | None = None,
                    id_col: str = "vec_id", emb_col: str = "embedding",
                    doc_id_col: str = "doc_id", doc_col: str = "text") -> DataFrame:
    """embeddings [+ documents] -> documents(doc_id, doc, emb_int8) — disk tier.

    Mirrors the RocksDB value shape {'doc':…, 'emb_int8':…}
    (BinaryVectorDB/BinaryVectorDB.py:153) as a columnar table.
    """
    store = emb_df.select(
        F.col(id_col).alias("doc_id"),
        int8_quantize(emb_col).alias("emb_int8"),
    )
    if docs_df is not None:
        payload = docs_df.select(F.col(doc_id_col).alias("doc_id"),
                                 F.col(doc_col).alias("doc"))
        store = store.join(payload, "doc_id", "left")
    else:
        store = store.withColumn("doc", F.lit(None).cast("string"))
    return store.select("doc_id", "doc", "emb_int8")


def _query_df(spark_source: DataFrame, query_vec, dim: int):
    """Build a 1-row broadcastable query DataFrame (qvec float, qbits packed).

    The vector is inlined as a literal array expression rather than shipped
    through createDataFrame: materializing a 1-row local relation costs
    ~0.2 s per call in Spark 4 (Arrow/py4j local-data conversion — measured
    as nearly HALF of db.search's per-query latency on a cached 1M index),
    while parsing a literal plan is sub-ms and yields the same plan shape.
    repr() round-trips every double exactly, so results are bit-identical."""
    import math
    spark = spark_source.sparkSession
    vals = []
    for x in query_vec:
        f = float(x)
        if not math.isfinite(f):
            raise ValueError("query vectors must be finite (got NaN/Inf)")
        vals.append(repr(f) + "D")
    q = spark.range(1).select(
        F.expr(f"array({','.join(vals)})").cast("array<float>").alias("qvec"))
    return q.select("qvec", pack_bits("qvec", dim).alias("qbits"))


def _resolve_query(index_df: DataFrame, dim: int, query_vec,
                   query_df: DataFrame | None) -> DataFrame:
    """The 1-row (qvec, qbits) query frame from either calling form."""
    if query_df is None:
        return _query_df(index_df, query_vec, dim)
    if "qbits" in query_df.columns:
        return query_df
    return query_df.select("qvec", pack_bits("qvec", dim).alias("qbits"))


def _phase1(index_df: DataFrame, q: DataFrame, dim: int) -> DataFrame:
    """Phase I scored scan (doc_id, vec, qvec, score_hamming); callers add
    the top-k (TakeOrderedAndProject; no shuffle of the scan)."""
    return (index_df.join(F.broadcast(q))
            .select("doc_id", "vec", "qvec",
                    hamming("qbits", "vec", NUM_LANES(dim)).alias("score_hamming")))


def _phases23(p1: DataFrame, doc_df: DataFrame, dim: int,
              rescore_k: int, k: int) -> DataFrame:
    """Phases II and III over the Phase-I candidates ``p1``."""
    # Phase II — rescore all Phase-I candidates (tiny), truncate
    p2 = (p1.select("doc_id", "qvec", "score_hamming",
                    binary_dot("qvec", "vec", dim).alias("score_binary"))
          .orderBy(F.desc("score_binary"), F.asc("doc_id"))
          .limit(rescore_k))

    # Phase III — broadcast candidates against the documents table (late
    # materialization: payload + int8 read only for survivors, :236-241).
    # doc_kind (typed-payload tag, db.py) rides along when the store has it.
    extra = [c for c in doc_df.columns if c == "doc_kind"]
    return (F.broadcast(p2).join(doc_df, "doc_id")
            .select("doc_id", "score_hamming", "score_binary",
                    int8_cosine("qvec", "emb_int8").alias("score_cossim"),
                    "doc", *extra)
            .orderBy(F.desc("score_cossim"), F.asc("doc_id"))
            .limit(k))


def cascade_search(index_df: DataFrame, doc_df: DataFrame, dim: int,
                   query_vec=None, query_df: DataFrame | None = None,
                   k: int = DEFAULT_K,
                   binary_oversample: int = DEFAULT_BINARY_OVERSAMPLE,
                   int8_oversample: int = DEFAULT_INT8_OVERSAMPLE) -> DataFrame:
    """Single-query three-phase cascade; returns the final hits DataFrame
    ``(doc_id, score_hamming, score_binary, score_cossim, doc)`` ordered by
    score_cossim desc, doc_id asc (reference output shape :247-252).

    ``query_df`` must be a 1-row frame with a float-array column ``qvec``
    (and optionally precomputed ``qbits``); otherwise pass ``query_vec``.
    """
    q = _resolve_query(index_df, dim, query_vec, query_df)
    binary_k = k * binary_oversample       # LIMIT clamps to ntotal implicitly (:204)
    rescore_k = k * int8_oversample        # NOT ntotal-clamped, as in :230
    p1 = (_phase1(index_df, q, dim)
          .orderBy(F.asc("score_hamming"), F.asc("doc_id"))
          .limit(binary_k))
    return _phases23(p1, doc_df, dim, rescore_k, k)


def cascade_search_filtered_adaptive(
        index_df: DataFrame, doc_df: DataFrame, dim: int,
        eligible: DataFrame, query_vec=None,
        query_df: DataFrame | None = None, k: int = DEFAULT_K,
        switch: float = 0.5, overfetch: int = 4,
        selectivity: float | None = None) -> DataFrame:
    """Filtered k-NN with a selectivity-adaptive strategy — the standard
    production-ANN planner choice the reference (filter-free, faiss-only)
    never needs but any metadata-filtered deployment does:

    - **prefilter** (selective predicate, sel <= ``switch``): semi-join the
      index against the eligible ids BEFORE Phase I, so every phase budget
      is spent on eligible docs only — exact filtered top-k, at the cost of
      touching the filter column for the whole corpus.
    - **postfilter** (broad predicate): run Phase I UNFILTERED with an
      ``overfetch``-inflated budget (binary_k * overfetch), drop ineligible
      survivors, then continue Phases II/III on the survivors.  Skips the
      corpus-wide semi-join; recall is bounded by the over-fetch (with a
      broad predicate the expected eligible count in the pool is
      overfetch * binary_k * sel >> binary_k).

    ``eligible`` is a (doc_id)-only DataFrame.  ``selectivity`` overrides
    the measured |eligible| / |index| ratio (two cheap count jobs) when the
    caller already knows it (e.g. from table stats at 100 TB).  The chosen
    strategy is returned as a literal ``strategy`` column so result
    consumers — and the cross-engine oracle — can assert the plan choice,
    not just the rows.
    """
    if selectivity is None:
        total = index_df.count()
        selectivity = (eligible.count() / total) if total else 0.0

    if selectivity <= switch:
        hits = cascade_search(
            index_df.join(eligible, "doc_id", "left_semi"), doc_df, dim,
            query_vec=query_vec, query_df=query_df, k=k)
        return hits.withColumn("strategy", F.lit("prefilter"))

    q = _resolve_query(index_df, dim, query_vec, query_df)
    binary_k = k * DEFAULT_BINARY_OVERSAMPLE * overfetch
    rescore_k = k * DEFAULT_INT8_OVERSAMPLE
    p1 = (_phase1(index_df, q, dim)
          .orderBy(F.asc("score_hamming"), F.asc("doc_id"))
          .limit(binary_k))
    # Materialize the over-fetched pool's ids ONCE: Spark does not reuse
    # common subplans, so referencing p1 both to build the eligibility
    # probe and as the rescore input would execute the dominant corpus-wide
    # Phase-I scan twice per query.  The pool is <= binary_k rows, so the
    # id collect is a candidate-set collect (same class as the cascade's
    # other <= k-row collects).  The eligible filter is then a map-side
    # prune of the filter table (isin on the literal id list — no shuffle,
    # no broadcast exchange), and the surviving <= binary_k ids rebuild the
    # pool rows from a SECOND, id-pruned index read: the In-filter pushes
    # to the parquet scan (row-group stats + dictionary), so at scale this
    # re-read opens a handful of files, not the corpus.
    pool_ids = [r[0] for r in p1.select("doc_id").collect()]
    surv_ids = [r[0] for r in
                eligible.where(F.col("doc_id").isin(pool_ids))
                .select("doc_id").collect()] if pool_ids else []
    p1f = _phase1(index_df.where(F.col("doc_id").isin(surv_ids)
                                 if surv_ids else F.lit(False)), q, dim)
    return (_phases23(p1f, doc_df, dim, rescore_k, k)
            .withColumn("strategy", F.lit("postfilter")))


def _phase1_arrow_topk(index_df: DataFrame, dim: int, queries_df: DataFrame,
                       binary_k: int) -> DataFrame:
    """One-pass batched Phase I+II scoring: an Arrow kernel computes, per
    index partition, the exact local top-``binary_k`` per query (±1 GEMM
    hamming over the unpacked sign bits, functions/kernels.py) AND the
    Phase-II score ``q_float . (2b-1)`` for those survivors — so the big
    scan happens ONCE, only ~binary_k x n_queries slim rows per partition
    enter the global rank window, and no second index pass is needed to
    re-attach vectors.

    Selection inside a batch uses the composite key (score, doc_id), so
    tie-breaking matches the global (score asc, doc_id asc) order exactly.
    score_binary is folded left-to-right over ascending dimension in float64
    — bit-identical to functions/vector.py binary_dot and to the DuckDB
    oracle (never a BLAS dot, whose pairwise fold would drift ULPs).

    Measured at 100 queries x 1M vectors, local[32]: the kernel scan runs
    3.3s vs 5.8s for the two-pass histogram-threshold expression plan this
    replaces (Arrow transfer of the cached index costs 0.66s of that).
    Queries are collected driver-side (a serving batch is small by
    construction) and broadcast to the kernel; kernel memory is
    O(n_queries x arrow_batch_rows), so a very large query batch is split
    by the caller into several ``cascade_search_batch`` calls.
    """
    import pyarrow as pa

    qrows = (queries_df.select("qid", F.col("qvec").cast("array<float>"))
             .collect())
    out_schema = "qid bigint, doc_id bigint, score_hamming int, score_binary double"
    if not qrows:
        spark = index_df.sparkSession
        return spark.createDataFrame([], out_schema)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float32)
    if qmat.ndim != 2 or qmat.shape[1] != dim:
        raise ValueError(
            f"query vectors shape {qmat.shape} does not match dim={dim}")
    if not np.isfinite(qmat).all():
        # NaN would quantize differently here (np sign test: NaN >= 0 is
        # False) vs the SQL packer (Spark orders NaN above all numerics, so
        # x >= 0 is true) — reject at the boundary instead of letting the
        # two Phase-I paths silently disagree
        raise ValueError("query vectors must be finite (got NaN/Inf)")
    bc = index_df.sparkSession.sparkContext.broadcast(
        (qids, qmat.astype(np.float64), binary_k, NUM_LANES(dim)))

    def kernel(batches):
        np_qids, np_qf, bk, lanes = bc.value
        nq = len(np_qids)
        qpm = kernels.sign_pm1(np_qf)

        def merge(q1, d1, s1, v1, q2, d2, s2, v2):
            """Exact running top-bk merge of two candidate sets: order by
            (query, score, doc_id), keep the first min(bk, group) per query
            — bounds task memory at O(nq x bk) regardless of batch count."""
            qs = np.concatenate((q1, q2)); ds = np.concatenate((d1, d2))
            ss = np.concatenate((s1, s2)); vs = np.vstack((v1, v2))
            order = np.lexsort((ds, ss, qs))
            qs, ds, ss, vs = qs[order], ds[order], ss[order], vs[order]
            starts = np.searchsorted(qs, np.arange(nq))
            ends = np.searchsorted(qs, np.arange(nq), side="right")
            keep = np.concatenate([np.arange(s, min(s + bk, e))
                                   for s, e in zip(starts, ends)])
            return qs[keep], ds[keep], ss[keep], vs[keep]

        qs = np.empty(0, dtype=np.int32)
        ds = np.empty(0, dtype=np.int64)
        ss = np.empty(0, dtype=np.int32)
        vs = np.empty((0, lanes), dtype=np.uint64)

        for batch in batches:
            ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            col = batch.column("vec")
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            vec = (col.flatten().to_numpy(zero_copy_only=False)
                   .view(np.uint64).reshape(len(ids), lanes))
            b = len(ids)
            if b == 0:
                continue
            d = kernels.hamming_pm1(qpm, kernels.unpack_pm1(vec, dim))
            kk = min(bk, b)
            part = np.stack([kernels.select_topk(d[i], ids, kk)
                             for i in range(nq)])                 # (nq, kk)
            flat = part.ravel()
            qs, ds, ss, vs = merge(
                qs, ds, ss, vs,
                np.repeat(np.arange(nq, dtype=np.int32), kk),
                ids[flat],
                np.take_along_axis(d, part, axis=1).ravel(),
                vec[flat])

        if len(qs) == 0:
            return
        # Phase-II score of the survivors
        acc = kernels.fold_dot(np_qf[qs], kernels.unpack_pm1(vs, dim))
        yield pa.record_batch(
            [pa.array(np_qids[qs]),
             pa.array(ds),
             pa.array(ss),
             pa.array(acc)],
            names=["qid", "doc_id", "score_hamming", "score_binary"])

    return index_df.select("doc_id", "vec").mapInArrow(kernel, out_schema)


def cascade_search_batch(index_df: DataFrame, doc_df: DataFrame, dim: int,
                         queries_df: DataFrame,
                         k: int = DEFAULT_K,
                         binary_oversample: int = DEFAULT_BINARY_OVERSAMPLE,
                         int8_oversample: int = DEFAULT_INT8_OVERSAMPLE
                         ) -> DataFrame:
    """Multi-query cascade: ``queries_df(qid, qvec array<float>)`` -> per-qid
    top-k hits, each query's rows equal to its ``cascade_search`` (the
    single-query JVM expression plan, pinned in
    tests/test_cascade_semantics.py).

    Phase I is the one-pass per-partition exact local top-k Arrow kernel
    (see ``_phase1_arrow_topk``): the scan output is ~binary_k rows per
    (query, partition), so the only shuffle is the tiny rank window, and
    the kernel also emits the Phase-II score, so the cached index is
    scanned exactly ONCE.  (A direct window over the full scored scan
    shuffles #queries x index_size rows and both OOMed and ran 1000x
    slower at 100 x 1M — measured.)  The exchange carries ONLY slim
    scored candidate rows, never vectors.  For larger query batches,
    shard queries and union.
    """
    q = queries_df.select("qid", F.col("qvec").cast("array<float>").alias("qvec"))

    binary_k = k * binary_oversample
    rescore_k = k * int8_oversample

    w1 = Window.partitionBy("qid").orderBy(F.asc("score_hamming"), F.asc("doc_id"))
    local = _phase1_arrow_topk(index_df, dim, queries_df, binary_k)
    # score_binary came with the kernel output; Phase II is just the rank
    # window (it rescores ALL Phase-I candidates, :218-232)
    p2s = (local.withColumn("rn", F.row_number().over(w1))
           .where(F.col("rn") <= binary_k).drop("rn"))

    w2 = Window.partitionBy("qid").orderBy(F.desc("score_binary"), F.asc("doc_id"))
    p2 = (p2s.withColumn("rn", F.row_number().over(w2))
          .where(F.col("rn") <= rescore_k).drop("rn")
          .join(F.broadcast(q), "qid"))

    extra = [c for c in doc_df.columns if c == "doc_kind"]
    p3s = (F.broadcast(p2).join(doc_df, "doc_id")
           .select("qid", "doc_id", "score_hamming", "score_binary",
                   int8_cosine("qvec", "emb_int8").alias("score_cossim"), "doc",
                   *extra))
    w3 = Window.partitionBy("qid").orderBy(F.desc("score_cossim"), F.asc("doc_id"))
    return (p3s.withColumn("rn", F.row_number().over(w3))
            .where(F.col("rn") <= k).drop("rn")
            .orderBy("qid", F.desc("score_cossim"), F.asc("doc_id")))
