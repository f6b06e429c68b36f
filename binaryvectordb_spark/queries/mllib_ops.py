"""MLlib-backed query surface, driver-checked via INVARIANT outputs.

MLlib models (KMeans, BucketedRandomProjectionLSH, MinHashLSH) are
seed-deterministic but not SQL-reproducible, so their raw outputs can't be
value-hashed against a DuckDB oracle.  Each query therefore returns
deterministic DERIVED values the oracle CAN recompute:

  * the exact-side answer (brute-force top-k id checksum, exact pair
    counts) — fully SQL-expressible, hash-strong;
  * soundness booleans (every reported distance within the threshold —
    guaranteed by approxSimilarityJoin's exact post-filter);
  * recall booleans with fat margins (measured 0.9-1.0 across fixtures;
    asserted >= 0.5-0.8), constant-TRUE in the oracle.

The models still run — the booleans are computed FROM their outputs, so a
broken fit/join flips a hash mismatch.  Fine-grained quality pins live in
tests/test_mllib_ops.py (recall against exact operators, fixed seeds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binaryvectordb_spark.functions.vector import cosine
from binaryvectordb_spark.operators.mllib_ann import (
    brp_lsh_similarity_join,
    ivf_kmeans_search,
    minhash_lsh_dedup_pairs,
)
from binaryvectordb_spark.queries import register
from binaryvectordb_spark.sources.tables import load_table

# SQL fragments imported from queries/vector.py's oracles (64-dim fold,
# ascending dimension, operands widened to DOUBLE — bit-identical engines);
# ONE definition so a future fold change cannot drift between modules
from binaryvectordb_spark.queries.vector import (  # noqa: E402
    _DNORM,
    _DOT,
    _QNORM,
)


def _packed_chunks(df: DataFrame, id_col: str, payload):
    """Block the rows of ``df`` for an all-pairs kernel (guide §4): P
    row-chunks (P = defaultParallelism, so the blocking tracks the session's
    core count) each joined with the FULL row list.  The full side is packed
    by an executor-side collect_list aggregate — no driver collect — and
    rides a single-row broadcast; the repartition spreads the P chunk rows
    so the kernel runs on every core (the groupBy output would otherwise
    AQE-coalesce to one partition at fixture scale).  O(P × corpus) duplicated
    bytes — bounded, fixture-scale-only: both callers are exact-quadratic
    VERIFY sides of LSH contrast rows; the LSH joins are the scale paths."""
    p = df.sparkSession.sparkContext.defaultParallelism
    row = F.struct(F.col(id_col).alias("i"), payload.alias("v"))
    chunks = (df.groupBy((F.col(id_col) % F.lit(p)).alias("blk"))
              .agg(F.collect_list(row).alias("part")))
    full = df.agg(F.collect_list(row).alias("full"))
    return chunks.join(F.broadcast(full)).repartition(p)


def _exact_euclidean_pair_count(e: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs euclidean pair count (id_a < id_b, dist <= threshold),
    vectorized: the N²/2 per-pair HOF folds of the old BroadcastNestedLoopJoin
    (CodegenFallback — interpreted per pair, r16 measured the flat unroll 2.5x
    WORSE) become a blocked numpy kernel over Arrow batches (guide §4).  The
    accumulation replays the fold's exact IEEE op order — float64 cast (exact
    from float32), one rounding each for subtract/multiply/add, dimension
    ascending, correctly-rounded sqrt — so the count is bit-identical to the
    HOF form and the DuckDB oracle (pinned by tests/test_r17_rewrites.py and
    verified equal at sf0.001/0.01/0.1)."""
    joined = _packed_chunks(e, "vec_id", F.col("embedding"))

    def count_pairs(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            total = 0
            for part, fl in zip(pdf["part"], pdf["full"]):
                ia = np.asarray([r["i"] for r in part], dtype=np.int64)
                va = np.asarray([r["v"] for r in part], dtype=np.float64)
                ib = np.asarray([r["i"] for r in fl], dtype=np.int64)
                vb = np.asarray([r["v"] for r in fl], dtype=np.float64)
                acc = np.zeros((va.shape[0], vb.shape[0]), dtype=np.float64)
                for d in range(va.shape[1]):
                    diff = va[:, d, None] - vb[None, :, d]
                    acc += diff * diff
                ok = ((np.sqrt(acc) <= threshold)
                      & (ia[:, None] < ib[None, :]))
                total += int(ok.sum())
            yield pd.DataFrame({"n": [total]})

    return (joined.mapInPandas(count_pairs, "n long")
            .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long")
                 .alias("n_exact_pairs")))


def _exact_jaccard_near_count(docs: DataFrame) -> DataFrame:
    """Exact all-pairs token-set Jaccard near count (similarity >= 0.5,
    id_a < id_b), vectorized: token sets become bit masks over the
    task-local vocabulary (built from the full packed row list — identical
    in every task) and the N²/2 array_intersect/array_union evaluations
    become word-wise AND/OR + SWAR popcounts (guide §4).  Integer predicate
    2*inter >= union AND union > 0 is exactly double(inter)/double(union)
    >= 0.5 with 0/0 -> NULL filtered: inter/union are exact small ints, and
    any true quotient != 0.5 sits >= 1/(2*union) from the boundary — far
    beyond one rounding of the correctly-rounded double divide.  Verified
    equal to the array_intersect form at sf0.001/0.01/0.1."""
    t = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    joined = _packed_chunks(t, "doc_id", F.col("toks"))

    def count_near(batches):
        import numpy as np
        import pandas as pd

        from binaryvectordb_spark.functions.kernels import popcount64

        def masks(rows, vocab, nwords):
            out = np.zeros((len(rows), nwords), dtype=np.uint64)
            ids = np.empty(len(rows), dtype=np.int64)
            for k, r in enumerate(rows):
                ids[k] = r["i"]
                for tok in r["v"]:
                    bit = vocab[tok]
                    out[k, bit >> 6] |= np.uint64(1) << np.uint64(bit & 63)
            return ids, out

        for pdf in batches:
            total = 0
            for part, fl in zip(pdf["part"], pdf["full"]):
                vocab: dict = {}
                for r in fl:
                    for tok in r["v"]:
                        if tok not in vocab:
                            vocab[tok] = len(vocab)
                nwords = max(1, (len(vocab) + 63) // 64)
                ia, ma = masks(part, vocab, nwords)
                ib, mb = masks(fl, vocab, nwords)
                inter = np.zeros((len(ia), len(ib)), dtype=np.int64)
                union = np.zeros_like(inter)
                for j in range(nwords):
                    aw = ma[:, j, None]
                    bw = mb[None, :, j]
                    inter += popcount64(aw & bw).astype(np.int64)
                    union += popcount64(aw | bw).astype(np.int64)
                ok = ((2 * inter >= union) & (union > 0)
                      & (ia[:, None] < ib[None, :]))
                total += int(ok.sum())
            yield pd.DataFrame({"n": [total]})

    return (joined.mapInPandas(count_near, "n long")
            .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long")
                 .alias("n_exact_near_pairs")))


def ann_ivf_kmeans_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans-trained IVF probe (nprobe=4 of 10 centroids) vs the exact
    brute-force top-10.  Output: the exact top-10's id checksum (hash-pins
    the exact side) + recall@10 >= 0.5 (measured 0.9-1.0 per fixture)."""
    e = load_table(spark, sf_dir, "embeddings")
    qvec = (e.where(F.col("vec_id") == 0)
            .select("embedding").first()["embedding"])
    approx = ivf_kmeans_search(e, qvec, k=10, n_clusters=10, nprobe=4)
    d = e.select(F.col("vec_id").alias("doc_id"),
                 F.col("embedding").alias("dvec"))
    qdf = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"))
    exact = (d.join(F.broadcast(qdf))
             .select("doc_id", cosine("qvec", "dvec").alias("s"))
             .orderBy(F.desc("s"), F.asc("doc_id")).limit(10))
    ap = approx.select(F.col("doc_id").alias("a_id"))
    g = (exact.join(F.broadcast(ap), exact.doc_id == ap.a_id, "left")
         .agg(F.count("*").alias("k_exact"),
              F.sum("doc_id").alias("exact_id_sum"),
              F.count("a_id").alias("n_hit")))
    return g.select("k_exact", "exact_id_sum",
                    (F.col("n_hit") >= 5).alias("recall_ge_05"))


register("ann_ivf_kmeans_search", ann_ivf_kmeans_search, oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
d AS (SELECT vec_id AS doc_id, embedding AS dv FROM embeddings),
ex AS (SELECT doc_id,
              CASE WHEN {_QNORM} > 0 AND {_DNORM} > 0
                   THEN {_DOT} / ({_QNORM} * {_DNORM})
                   ELSE CAST(0 AS DOUBLE) END AS s
       FROM d, q ORDER BY s DESC, doc_id ASC LIMIT 10)
SELECT CAST(count(*) AS BIGINT) AS k_exact,
       CAST(sum(doc_id) AS BIGINT) AS exact_id_sum,
       TRUE AS recall_ge_05
FROM ex
""")


def similarity_join_brp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH self-join at euclidean threshold 1.2
    (~1% densest pairs) vs the exact pair count.  Output: exact pair count
    (hash-strong), soundness (every LSH pair's true distance <= threshold —
    approxSimilarityJoin post-filters exactly), recall >= 0.8 (measured
    ~0.94 per fixture)."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = brp_lsh_similarity_join(e, threshold=1.2)
    lsh = pairs.agg(F.count("*").alias("n_lsh"),
                    F.max("dist").alias("max_dist"))
    # Exact side: still the full quadratic verify (every pair evaluated),
    # but as the blocked numpy kernel — r16 measured the SQL-side unroll
    # 2.5x WORSE than the HOF (janino method budget -> interpreted anyway);
    # r17 replaced the interpreted per-pair fold with Arrow-vectorized
    # float64 ops in the HOF's exact IEEE order (guide §4): exact side
    # 52.4 s -> 1.2 s at sf0.1 (same-host split), full query 54.4 -> 7.1 s
    # on the interleaved A/B — the MLlib join is the remaining cost.
    # Bit-identity pinned in tests/test_r17_rewrites.py.
    exact = _exact_euclidean_pair_count(e, threshold=1.2)
    return (exact.join(F.broadcast(lsh))
            .select("n_exact_pairs",
                    F.coalesce(F.col("max_dist") <= 1.2, F.lit(True))
                    .alias("all_pairs_sound"),
                    (F.col("n_lsh") >= 0.8 * F.col("n_exact_pairs"))
                    .alias("recall_ge_08")))


register("similarity_join_brp_lsh", similarity_join_brp_lsh, oracle="""
WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings),
b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings)
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS all_pairs_sound, TRUE AS recall_ge_08
FROM a JOIN b ON id_a < id_b
WHERE sqrt(list_sum(list_transform(range(1, 65), i ->
      (CAST(va[i] AS DOUBLE) - CAST(vb[i] AS DOUBLE)) *
      (CAST(va[i] AS DOUBLE) - CAST(vb[i] AS DOUBLE))))) <= 1.2
""")


def dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH near-dup join (Jaccard distance <= 0.8) vs the exact
    token-set Jaccard.  Output: exact count of near pairs (similarity >=
    0.5; the 500-doc corpus makes the exact quadratic join cheap on both
    engines), soundness (reported distances within threshold), recall of
    near pairs >= 0.8 (measured ~0.99 per fixture)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup_pairs(d, threshold=0.8)
    lsh = pairs.agg(
        F.max("jaccard_dist").alias("max_dist"),
        F.sum(F.when(F.col("jaccard_dist") <= 0.5, 1).otherwise(0))
        .alias("n_lsh_near"))
    # Exact side: full quadratic token-set Jaccard verify, as the bitmask
    # popcount kernel (guide §4) — the per-pair array_intersect/array_union
    # BNLJ was the sweep's one documented skip (202.9 s measured at sf0.1);
    # the kernel measured 16.2 s on the same contended host.  Count
    # equality pinned in tests/test_r17_rewrites.py and verified at
    # sf0.001/0.01/0.1 (8,926,373 near pairs at sf0.1 on both forms).
    exact = _exact_jaccard_near_count(d)
    return (exact.join(F.broadcast(lsh))
            .select("n_exact_near_pairs",
                    F.coalesce(F.col("max_dist") <= 0.8, F.lit(True))
                    .alias("all_pairs_sound"),
                    (F.col("n_lsh_near") >= 0.8 * F.col("n_exact_near_pairs"))
                    .alias("recall_ge_08")))


register("dedup_minhash_mllib", dedup_minhash_mllib, oracle="""
WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
           FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_exact_near_pairs,
       TRUE AS all_pairs_sound, TRUE AS recall_ge_08
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / length(list_distinct(a.toks || b.toks)) >= 0.5
""")
