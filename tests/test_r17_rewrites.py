"""r17 rewrite pins: each optimization is checked against its ORIGINAL
Spark construction (not just the oracle), same discipline as
test_r16_rewrites.  Results must be value-identical; plans must keep the
shape the rewrite bought."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from binaryvectordb_spark.plans.inspect import formatted_plan
from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())


def test_bm25_single_pass_equals_original_four_pass(spark):
    """The r17 per-doc conditional-count scorer must reproduce the original
    tf/df/dl/stats construction exactly (bigint scores — bit comparison)."""
    from binaryvectordb_spark.queries.hybrid import (
        TERMS,
        _bm25_scored,
        _doc_tokens,
    )

    tokens = _doc_tokens(spark, SF_SMOKE)
    dl = tokens.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("*").cast("double")).alias("avgdl"))
    tf = (tokens.where(F.col("token").isin(*TERMS))
          .groupBy("doc_id", "token")
          .agg(F.count("*").cast("double").alias("tf")))
    df_ = tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    term_score = (
        "CAST(floor(((n_docs - df) + 0.5D) / (df + 0.5D) * ((tf * 2.2D) / "
        "(tf + (1.2D * (0.25D + (0.75D * (dl / avgdl)))))) "
        "* 1e10) AS BIGINT)")
    original = (tf.join(F.broadcast(df_), "token")
                .join(dl, "doc_id")
                .crossJoin(F.broadcast(stats))
                .withColumn("term_score_e10", F.expr(term_score))
                .groupBy("doc_id")
                .agg(F.sum("term_score_e10").alias("bm25_e10")))
    assert _rows(_bm25_scored(spark, SF_SMOKE)) == _rows(original)


def test_bm25_batch_single_pass_equals_original(spark):
    from binaryvectordb_spark.queries.hybrid import (
        BATCH_TERMS,
        _bm25_scored_batch,
        _doc_tokens,
        _query_terms_df,
    )

    tokens = _doc_tokens(spark, SF_SMOKE)
    dl = tokens.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("*").cast("double")).alias("avgdl"))
    all_terms = sorted({t for ts in BATCH_TERMS.values() for t in ts})
    tf = (tokens.where(F.col("token").isin(*all_terms))
          .groupBy("doc_id", "token")
          .agg(F.count("*").cast("double").alias("tf")))
    df_ = tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    term_score = (
        "CAST(floor(((n_docs - df) + 0.5D) / (df + 0.5D) * ((tf * 2.2D) / "
        "(tf + (1.2D * (0.25D + (0.75D * (dl / avgdl)))))) "
        "* 1e10) AS BIGINT)")
    original = (tf.join(F.broadcast(_query_terms_df(spark)), "token")
                .join(F.broadcast(df_), "token")
                .join(dl, "doc_id")
                .crossJoin(F.broadcast(stats))
                .withColumn("term_score_e10", F.expr(term_score))
                .groupBy("qid", "doc_id")
                .agg(F.sum("term_score_e10").alias("bm25_e10")))
    assert _rows(_bm25_scored_batch(spark, SF_SMOKE)) == _rows(original)


def test_with_cosine_equals_single_expression_cosine(spark):
    """with_cosine's two-step projection must be bit-identical to the
    single-expression cosine() — the same three IEEE folds feed the same
    when/divide tree (includes zero-norm rows via the guard)."""
    from binaryvectordb_spark.functions.vector import cosine, with_cosine
    from binaryvectordb_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    zero = spark.range(1).select(
        F.lit(-1).cast("long").alias("doc_id"),
        F.expr("array_repeat(CAST(0.0 AS FLOAT), 64)").alias("dv"))
    base = (emb.select(F.col("vec_id").alias("doc_id"),
                       F.col("embedding").alias("dv"))
            .unionByName(zero)
            .crossJoin(F.broadcast(q)))
    a = with_cosine(base, "qv", "dv", "cos").select("doc_id", "cos")
    b = base.withColumn("cos", cosine("qv", "dv")).select("doc_id", "cos")
    assert _rows(a) == _rows(b)
    # the split survives CollapseProject: folds land in their own project
    plan = formatted_plan(a)
    assert "__cos_na" in plan and "__cos_nb" in plan


def test_jaccard_pin_equals_unpinned_and_plan_has_no_rederivation(spark):
    """dedup_jaccard_pairs' final plan must contain NO parquet re-scan and
    NO copy of the interpreted shingle transform (they live inside the
    one checkpointed derivation).  Its rows are pinned against the
    unpinned construction by the DuckDB parity of dedup_jaccard_pairs."""
    from binaryvectordb_spark.queries import dedup

    plan = formatted_plan(dedup.dedup_jaccard_pairs(spark, SF_SMOKE))
    assert "Scan parquet" not in plan
    assert "transform(sequence" not in plan


def test_part_view_pin_identical_rows(spark):
    """The pinned part view must not change either native-CTE row set."""
    from binaryvectordb_spark.queries import recursion

    results = {}
    for pin in (True, False):
        recursion._PIN_PART_VIEW = pin
        try:
            results[pin] = (
                _rows(recursion.recursive_cte_subtree_rollup(spark,
                                                             SF_SMOKE)),
                _rows(recursion.recursive_bom_extended_quantity(spark,
                                                                SF_SMOKE)))
        finally:
            recursion._PIN_PART_VIEW = True
    assert results[True] == results[False]


def test_semi_naive_lazy_checkpoint_levels_still_pinned(spark):
    """eager=False level checkpoints: the loop must still terminate on a
    cycle, produce BFS distances, and return level frames whose reuse does
    not re-derive (the count() materialized them)."""
    from binaryvectordb_spark.operators.recursive import semi_naive_closure

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    roots = spark.createDataFrame([(1,)], "node long")
    info: dict = {}
    out = semi_naive_closure(edges, roots, max_depth=10, info=info)
    got = {(r["node"], r["dist"]) for r in out.collect()}
    assert got == {(1, 0), (2, 1), (3, 2), (4, 3)}
    assert info["levels"] == 3
    # a second action over the SAME returned frame reads checkpointed
    # partitions (LogicalRDD scans), not a re-derivation
    plan = formatted_plan(out)
    assert "Scan ExistingRDD" in plan


def test_exact_euclidean_kernel_equals_hof_bnlj(spark):
    """The blocked numpy exact-pair kernel (similarity_join_brp_lsh's
    verify side) must reproduce the original interpreted HOF BNLJ count
    exactly — the kernel replays the fold's IEEE op order, so this is a
    bit comparison, not a tolerance."""
    from binaryvectordb_spark.queries.mllib_ops import (
        _exact_euclidean_pair_count,
    )
    from binaryvectordb_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    new = _exact_euclidean_pair_count(e, threshold=1.2).first()
    a = e.select(F.col("vec_id").alias("id_a"),
                 F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"),
                 F.col("embedding").alias("vb"))
    sq = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    old = (a.join(b, F.col("id_a") < F.col("id_b"))
           .where(F.sqrt(sq) <= 1.2)
           .agg(F.count("*").alias("n_exact_pairs")).first())
    assert new["n_exact_pairs"] == old["n_exact_pairs"] > 0


def test_exact_jaccard_kernel_equals_array_intersect_bnlj(spark):
    """The bitmask-popcount exact near-pair kernel (dedup_minhash_mllib's
    verify side) must reproduce the original array_intersect/array_union
    BNLJ count exactly (2*inter >= union AND union > 0 is the integer form
    of double(inter)/double(union) >= 0.5 with 0/0 -> NULL)."""
    from binaryvectordb_spark.queries.mllib_ops import (
        _exact_jaccard_near_count,
    )
    from binaryvectordb_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    new = _exact_jaccard_near_count(d).first()
    t = d.select("doc_id",
                 F.array_distinct(F.split("text", " ")).alias("toks"))
    ta = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("tka"))
    tb = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tkb"))
    jac = (F.size(F.array_intersect("tka", "tkb")).cast("double")
           / F.size(F.array_union("tka", "tkb")))
    old = (ta.join(tb, F.col("id_a") < F.col("id_b"))
           .where(jac >= 0.5)
           .agg(F.count("*").alias("n_exact_near_pairs")).first())
    assert new["n_exact_near_pairs"] == old["n_exact_near_pairs"] > 0


def test_mllib_verify_kernels_plan_shape(spark):
    """The two contrast rows' plans must carry the vectorized kernel
    (MapInPandas) and no interpreted per-pair fold in a join condition:
    the only BNLJs left are the packed-chunks broadcast attach and the
    final 1-row x 1-row result join."""
    from binaryvectordb_spark.queries import QUERIES

    plan = formatted_plan(QUERIES["similarity_join_brp_lsh"](spark, SF_SMOKE))
    assert "MapInPandas" in plan
    assert "zip_with" not in plan
    plan2 = formatted_plan(QUERIES["dedup_minhash_mllib"](spark, SF_SMOKE))
    assert "MapInPandas" in plan2
    assert "array_intersect" not in plan2
