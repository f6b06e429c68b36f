"""Hybrid retrieval: BM25-shaped keyword scoring and reciprocal-rank fusion
(RRF) of the keyword list with the vector top-k.

The reference is a semantic (vector-only) search engine over a document
corpus (/root/reference/README.md:1-40, search at
BinaryVectorDB/BinaryVectorDB.py:193-252).  Production retrieval over the
same corpus is almost always HYBRID — a lexical BM25 list fused with the
embedding top-k — so the engine ships both halves as first-class queries
over the ``documents``/``embeddings`` fixtures.

Determinism (oracle value-hash contract):
- BM25's idf uses the log-free rarity form (N - df + 0.5) / (df + 0.5):
  IEEE division of exactly-representable operands is correctly rounded and
  engine-identical, while libm log() is not (NOTES.md).  Ranking is
  unaffected for any fixed df ordering (the map is monotonic).
- The per-term double score is floored to integer 1e-10 units
  (floor(score * 1e10) AS BIGINT) BEFORE the per-doc sum: bigint sums are
  exact and fold-order-independent, so the cross-engine hash cannot be
  poisoned by double accumulation order.  Magnitudes stay far under 2^53.
- The RRF score is a SINGLE IEEE add of two correctly-rounded divisions
  (1/(60+rank)), computed in a fixed expression tree — bit-identical.

Scale (100 TB): the keyword side is one explode -> two hash aggregations
(doc length + term frequency); the query-term tf table is filtered to the
query's terms BEFORE any join, so the join input is O(matching docs), and
the df/avgdl side is a handful of scalars (broadcast).  The vector side
here is the brute-force baseline (the cascade/IVF paths are the scale
story, queries/vector.py); the fusion itself joins two top-k lists —
k rows each, trivially broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binaryvectordb_spark.queries import register
from binaryvectordb_spark.queries.vector import _DNORM, _DOT, _QNORM
from binaryvectordb_spark.sources.tables import load_table

# fixed query: three mid-frequency fixture-vocabulary terms + the flagship
# query vector (vec_id = 0, same as every knn_* query)
TERMS = ("vector", "window", "merge")
K1, B = 1.2, 0.75
RRF_K = 60
TOPN = 100  # depth of each fused list


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id",
                    F.explode(F.split(F.col("text"), " ")).alias("token"))


# identical expression tree to the oracle SQL — every constant is a SINGLE
# short decimal literal (never literal-on-literal arithmetic, whose rounding
# can land exactly on a tie and diverge across engines), and every
# sub-operation is a correctly-rounded IEEE double op, so the floored bigint
# is bit-identical across engines
_TERM_SCORE = (
    "CAST(floor(((n_docs - df) + 0.5D) / (df + 0.5D) * ((tf * 2.2D) / "
    "(tf + (1.2D * (0.25D + (0.75D * (dl / avgdl)))))) "
    "* 1e10) AS BIGINT)")


def _bm25_perdoc(spark: SparkSession, sf_dir: str,
                 terms: tuple[str, ...]) -> DataFrame:
    """ONE corpus token pass feeding everything BM25 needs: per doc, the
    token count (dl) and one conditional-count column per query term
    (tf_i = occurrences of terms[i]).

    r17 (guide §2.4): the naive tf/df/dl/stats construction planned FOUR
    full scan->explode->aggregate pipelines over `documents` in one query
    (tf, df, dl-for-join, dl-for-avgdl: the r16 before-plan's nodes
    1/8/20/30) because the consumers prune different columns, so no
    exchange is reusable.  With the fixed term list the per-term tf is a
    conditional aggregate riding the SAME groupBy(doc_id) as dl, and the
    frame is pinned with a lazy per-invocation localCheckpoint so its three
    consumers (tf unpivot, df, corpus stats) share ONE derivation.  Scale:
    one narrow row per doc — the same magnitude the old dl exchange already
    materialized; the corpus-stats pass is unavoidable (avgdl), and the
    100 TB serving path is the persisted inverted index (search_bm25_indexed),
    not this scan."""
    tokens = _doc_tokens(spark, sf_dir)
    perdoc = tokens.groupBy("doc_id").agg(
        F.count("*").cast("double").alias("dl"),
        *[F.count(F.when(F.col("token") == t, True)).cast("double")
          .alias(f"tf_{i}") for i, t in enumerate(terms)])
    return perdoc.localCheckpoint(eager=False)


def _bm25_tf_long(perdoc: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, dl, token, tf) rows with tf > 0 — the unpivot of the
    per-term tf columns; exactly the rows the old groupBy(doc_id, token)
    produced (a group existed iff the term occurred), with dl already on
    the row so the old tf-dl join disappears."""
    entries = F.array(*[
        F.struct(F.lit(t).alias("token"), F.col(f"tf_{i}").alias("tf"))
        for i, t in enumerate(terms)])
    return (perdoc.select("doc_id", "dl", F.explode(entries).alias("s"))
            .select("doc_id", "dl", F.col("s.token").alias("token"),
                    F.col("s.tf").alias("tf"))
            .where(F.col("tf") > 0))


def _bm25_stats(perdoc: DataFrame) -> DataFrame:
    return perdoc.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("*").cast("double")).alias("avgdl"))


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BM25 score (bigint 1e-10 units) for TERMS, every doc that
    matches at least one term.

    dl joins PLAIN (no candidates-only semi-join prune): the round-8
    interleaved A/B (NOTES.md) measured the r7 prune (distinct +
    broadcast semi before the join) 24-31% SLOWER at sf0.1 — dl's corpus-wide aggregation is unavoidable anyway
    (avgdl needs it).  r17 goes further the same direction: dl is not
    joined at all, it rides the per-doc frame (see _bm25_perdoc)."""
    perdoc = _bm25_perdoc(spark, sf_dir, TERMS)
    tf = _bm25_tf_long(perdoc, TERMS)
    df_ = tf.groupBy("token").agg(
        F.count("*").cast("double").alias("df"))
    return (tf.join(F.broadcast(df_), "token")
            .crossJoin(F.broadcast(_bm25_stats(perdoc)))
            .withColumn("term_score_e10", F.expr(_TERM_SCORE))
            .groupBy("doc_id")
            .agg(F.sum("term_score_e10").alias("bm25_e10")))


def _bm25_cte(terms, source: str = "documents") -> str:
    """The _BM25_ORACLE_CTE shape parameterized over the query terms
    and the corpus relation — same expression tree, same determinism
    contract (floored bigint per-term scores summed exactly).  Terms
    are registry constants, but quotes are escaped anyway (r13 review
    discipline: never build a SQL literal without it)."""
    in_list = ", ".join("'{}'".format(t.replace("'", "''")) for t in terms)
    return f"""
tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM {source}
), dl AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tokens GROUP BY 1
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM tokens
  WHERE token IN ({in_list})
  GROUP BY 1, 2
), df AS (
  SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
), bm25 AS (
  SELECT doc_id,
         CAST(sum(CAST(floor(((n_docs - df) + CAST(0.5 AS DOUBLE)) /
             (df + CAST(0.5 AS DOUBLE)) * ((tf * CAST(2.2 AS DOUBLE)) /
             (tf + (CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
             (CAST(0.75 AS DOUBLE) * (dl / avgdl)))))) *
             1e10) AS BIGINT)) AS BIGINT) AS bm25_e10
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY doc_id
)"""


_BM25_ORACLE_CTE = _bm25_cte(TERMS)


def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25(k1=1.2, b=0.75) for the fixed 3-term query."""
    w = Window.orderBy(F.desc("bm25_e10"), F.asc("doc_id"))
    return (_bm25_scored(spark, sf_dir)
            .withColumn("kw_rank", F.row_number().over(w))
            .where(F.col("kw_rank") <= 10)
            .select("doc_id", "bm25_e10", "kw_rank"))


register("search_bm25_topk", search_bm25_topk, oracle=f"""
WITH {_BM25_ORACLE_CTE}
SELECT doc_id, bm25_e10, kw_rank
FROM (SELECT doc_id, bm25_e10,
             row_number() OVER (ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
      FROM bm25)
WHERE kw_rank <= 10
""")


# one built index per fixture dir, reused across calls in this process —
# build is the one corpus pass the index exists to amortize
_TI_CACHE: dict[str, str] = {}


def search_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same top-10 BM25 query served from the PERSISTED inverted index
    (operators/textindex.py) instead of a corpus scan: postings are read
    via a pushed-down token IN (...) over token-range-sorted parquet, so
    at 100 TB the query touches the few MB of postings for its terms, not
    the corpus.  Bit-identical to search_bm25_topk (same expression tree;
    same oracle), which is exactly the point — the index changes the I/O,
    never the answer."""
    return _shared_text_index(spark, sf_dir).search(TERMS, k=10)


register("search_bm25_indexed", search_bm25_indexed, oracle=f"""
WITH {_BM25_ORACLE_CTE}
SELECT doc_id, bm25_e10, kw_rank
FROM (SELECT doc_id, bm25_e10,
             row_number() OVER (ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
      FROM bm25)
WHERE kw_rank <= 10
""")


def search_bm25_indexed_blockmax(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The same top-10 BM25 query through the BLOCK-MAX
    EARLY-TERMINATION tier, FORCED on (operators/textindex.py
    _search_blockmax_batch — the Block-Max WAND idea on impact-ordered
    parquet: per-term high-impact prefixes `imp >= I` pruned by the
    row-group footer max(imp) stats (imp is the stored per-posting
    impact; tf-ordering is only the non-impact micro-batch layout),
    answer proven exact via upper bounds or descended to the full
    read).  The fixture TERMS sit in
    ~78% of docs — exactly the stop-word density the tier exists for.
    Same oracle as search_bm25_topk / search_bm25_indexed: the tier
    changes which blocks are READ, never the answer — this row is the
    driver-level exactness gate for the termination proof."""
    return _shared_text_index(spark, sf_dir).search(
        TERMS, k=10, block_max=True)


register("search_bm25_indexed_blockmax", search_bm25_indexed_blockmax,
         oracle=f"""
WITH {_BM25_ORACLE_CTE}
SELECT doc_id, bm25_e10, kw_rank
FROM (SELECT doc_id, bm25_e10,
             row_number() OVER (ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
      FROM bm25)
WHERE kw_rank <= 10
""")


def search_bm25_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same top-10 BM25 query served by the RAM-tier lexical searcher
    (TextIndex.to_local — collected postings, zero Spark jobs per query):
    the third serving tier next to the corpus scan and the indexed Spark
    plan, and the one db.search_hybrid uses once a local searcher is
    attached.  The oracle is the SAME corpus-scan SQL — the whole point is
    that the in-process float64 replay of the scoring tree is
    bit-identical to both Spark paths, so this row is the driver-level
    parity gate for the serving tier."""
    hits = _shared_text_index(spark, sf_dir).to_local().search(TERMS, k=10)
    return spark.createDataFrame(
        [(h["doc_id"], h["bm25_e10"], h["kw_rank"]) for h in hits],
        "doc_id: long, bm25_e10: bigint, kw_rank: int")


register("search_bm25_local", search_bm25_local, oracle=f"""
WITH {_BM25_ORACLE_CTE}
SELECT doc_id, bm25_e10, kw_rank
FROM (SELECT doc_id, bm25_e10,
             row_number() OVER (ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
      FROM bm25)
WHERE kw_rank <= 10
""")


# selective + dense mix: 'dup' sits in exactly 5% of fixture docs (the
# MaxScore essential-vocabulary cutoff); the other two in ~77%
SPLIT_TERMS = ("dup", "vector", "window")


def search_bm25_maxscore_split(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Top-10 BM25 for the SELECTIVE+dense term mix, FORCED through the
    early-termination tier where the MaxScore essential/dense
    split engages (operators/textindex.py _split_batch,
    Turtle & Flood '95): the selective term's postings are read in full
    (tiny by definition), every no-essential doc is excluded by the
    dense terms' max-impact slack, and dense postings are fetched ONLY
    for the bounded candidate set — three bounded jobs, no iteration.
    The split's engagement on this exact shape is pytest-pinned
    (tests/test_textindex.py); this row is its driver-level exactness
    gate against the SAME corpus-scan oracle shape as search_bm25_topk
    (r13 verdict item 6: the split was pinned but never separately
    driver-hashed).  Exactness is structural: a non-separating bound
    returns None and the threshold descent takes over — either way the
    answer hashes identical."""
    return _shared_text_index(spark, sf_dir).search(
        SPLIT_TERMS, k=10, block_max=True)


register("search_bm25_maxscore_split", search_bm25_maxscore_split,
         oracle=f"""
WITH {_bm25_cte(SPLIT_TERMS)}
SELECT doc_id, bm25_e10, kw_rank
FROM (SELECT doc_id, bm25_e10,
             row_number() OVER (ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
      FROM bm25)
WHERE kw_rank <= 10
""")


def search_bm25_local_sharded(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """search_bm25_local through the 3-shard in-process router
    (ShardedLocalBM25Searcher: doc-partitioned shards, per-shard exact
    partial top-k, global (score, doc_id) merge — BM25 scores are
    per-doc-independent so sharding is embarrassingly exact).  This row
    completes the serving-tier driver coverage (r13 verdict item 6):
    corpus scan / indexed Spark plan / RAM tier / sharded router all
    hash against the SAME oracle."""
    from binaryvectordb_spark.operators.textindex import (
        ShardedLocalBM25Searcher,
    )

    base = _shared_text_index(spark, sf_dir).to_local()
    router = ShardedLocalBM25Searcher.from_searcher(base, n_shards=3)
    hits = router.search(list(TERMS), k=10)
    return spark.createDataFrame(
        [(h["doc_id"], h["bm25_e10"], h["kw_rank"]) for h in hits],
        "doc_id: long, bm25_e10: bigint, kw_rank: int")


register("search_bm25_local_sharded", search_bm25_local_sharded, oracle=f"""
WITH {_BM25_ORACLE_CTE}
SELECT doc_id, bm25_e10, kw_rank
FROM (SELECT doc_id, bm25_e10,
             row_number() OVER (ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
      FROM bm25)
WHERE kw_rank <= 10
""")


# deterministic mutation script for the dirty-tier driver row: remove
# docs 0..19, overwrite 20..24, add 5 brand-new docs carrying a token
# the bootstrap never saw ('mutated' — micro-segment-only vocabulary)
_MUT_REMOVED = tuple(range(20))
_MUT_OVERWRITES = tuple(
    (20 + i, f"vector window mutated overwrite{i} extra") for i in range(5))
_MUT_NEW = tuple(
    (900_001 + i, f"merge mutated fresh{i} batch") for i in range(5))
MUT_TERMS = TERMS + ("mutated",)
_TI_MUT_CACHE: dict[str, str] = {}


def _shared_mutated_text_index(spark: SparkSession, sf_dir: str):
    """A per-corpus TextIndex carried through the deterministic mutation
    script WITHOUT compaction — the segmented + tombstoned state the r14
    dirty block-max tier serves."""
    import os as _os
    import tempfile

    from binaryvectordb_spark.operators.segments import LOG
    from binaryvectordb_spark.operators.textindex import TextIndex

    key = _os.path.abspath(sf_dir)
    path = _TI_MUT_CACHE.get(key)
    if path is None or not _os.path.isdir(_os.path.join(path, LOG)):
        path = tempfile.mkdtemp(prefix="bvdb_textindex_mut_")
        ti = TextIndex(spark, path).build(
            load_table(spark, sf_dir, "documents"))
        ti.add_documents(spark.createDataFrame(
            list(_MUT_OVERWRITES), "doc_id: long, text: string"))
        ti.add_documents(spark.createDataFrame(
            list(_MUT_NEW), "doc_id: long, text: string"))
        ti.remove(list(_MUT_REMOVED))
        _TI_MUT_CACHE[key] = path
    return TextIndex(spark, path)


def search_bm25_indexed_mutated(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Top-10 BM25 through the early-termination tier in the
    MUTATED index state (r14: operators/textindex.py dirty mode) — the
    bootstrap segment is imp-thresholded, the micro segments (an
    overwrite batch and a batch carrying brand-new vocabulary) are read
    in full, the tombstones (20 removes + 5 overwrites) anti-join out,
    and the scores are re-derived from tf/dl with the LIVE df/avgdl the
    classic plan would compute.  The query mixes the three dense
    bootstrap terms with 'mutated' — a token that exists ONLY in the
    micro segments, so it has no impact stratum at all.  The oracle is
    the corpus-scan SQL over the mutated live corpus (removed docs
    filtered, overwrites and adds as literal rows): this row is the
    driver-level exactness gate for the mutation-tolerant termination
    proof."""
    return _shared_mutated_text_index(spark, sf_dir).search(
        MUT_TERMS, k=10, block_max=True)


def _mutated_corpus_sql() -> str:
    rm = ", ".join(str(i) for i in _MUT_REMOVED + tuple(
        i for i, _ in _MUT_OVERWRITES))
    lits = ", ".join(f"({i}, '{t}')" for i, t in
                     _MUT_OVERWRITES + _MUT_NEW)
    return (f"mutated_corpus AS (\n"
            f"  SELECT doc_id, text FROM documents"
            f" WHERE doc_id NOT IN ({rm})\n"
            f"  UNION ALL SELECT * FROM (VALUES {lits})"
            f" AS t(doc_id, text)\n)")


register("search_bm25_indexed_mutated", search_bm25_indexed_mutated,
         oracle=f"""
WITH {_mutated_corpus_sql()}, {_bm25_cte(MUT_TERMS, source="mutated_corpus")}
SELECT doc_id, bm25_e10, kw_rank
FROM (SELECT doc_id, bm25_e10,
             row_number() OVER (ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
      FROM bm25)
WHERE kw_rank <= 10
""")


def search_bm25_maxscore_split_mutated(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """The dirty MaxScore split's driver gate (r15,
    operators/textindex.py _split_batch in a mutated state): the
    selective-anchor + stop-word shape (SPLIT_TERMS — 'dup' sits in 5%
    of fixture docs) against the SAME mutated shared index as
    search_bm25_indexed_mutated.  The r14 close had this shape falling
    to the dirty descent's full read; the r15 split serves it in the
    clean split's three bounded jobs with live-frame reads, live-stats
    score re-derivation, and drift-inflated dense slack.  The oracle is
    the corpus-scan SQL over the mutated live corpus — engagement is
    pytest-pinned (test_maxscore_split_dirty_engages_and_is_exact plus
    the fixture pin), and either way the answer hashes identically (a
    refusal falls back to the descent, which is also exact)."""
    return _shared_mutated_text_index(spark, sf_dir).search(
        SPLIT_TERMS, k=10, block_max=True)


register("search_bm25_maxscore_split_mutated",
         search_bm25_maxscore_split_mutated, oracle=f"""
WITH {_mutated_corpus_sql()}, {_bm25_cte(SPLIT_TERMS,
                                         source="mutated_corpus")}
SELECT doc_id, bm25_e10, kw_rank
FROM (SELECT doc_id, bm25_e10,
             row_number() OVER (ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
      FROM bm25)
WHERE kw_rank <= 10
""")


PHRASE = ("order", "fast")
PHRASE_K = 20


def _shared_text_index(spark: SparkSession, sf_dir: str):
    """The per-corpus persisted TextIndex the indexed queries share."""
    import os as _os
    import tempfile

    from binaryvectordb_spark.operators.segments import LOG
    from binaryvectordb_spark.operators.textindex import TextIndex

    key = _os.path.abspath(sf_dir)
    path = _TI_CACHE.get(key)
    if path is None or not _os.path.isdir(_os.path.join(path, LOG)):
        path = tempfile.mkdtemp(prefix="bvdb_textindex_")
        TextIndex(spark, path).build(load_table(spark, sf_dir, "documents"))
        _TI_CACHE[key] = path
    return TextIndex(spark, path)


def search_phrase_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE query ('order fast', adjacency-exact) over the
    positional inverted index — the query class BM25's bag-of-words
    cannot answer.  Each phrase term is one pushed-down token='...'
    postings read; matching = intersection of offset-shifted position
    lists (the classic positional-index algorithm); only docs containing
    EVERY term enter the join."""
    return _shared_text_index(spark, sf_dir).search_phrase(PHRASE,
                                                           k=PHRASE_K)


register("search_phrase_indexed", search_phrase_indexed, oracle=f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
p0 AS (SELECT doc_id,
              list_filter(range(1, length(toks) + 1),
                          p -> toks[p] = '{PHRASE[0]}') AS s0 FROM tok),
p1 AS (SELECT doc_id,
              list_transform(list_filter(range(1, length(toks) + 1),
                                         p -> toks[p] = '{PHRASE[1]}'),
                             x -> x - 1) AS s1 FROM tok)
SELECT p0.doc_id,
       CAST(length(list_intersect(s0, s1)) AS BIGINT) AS n_occurrences
FROM p0 JOIN p1 ON p0.doc_id = p1.doc_id
WHERE length(list_intersect(s0, s1)) > 0
ORDER BY n_occurrences DESC, p0.doc_id ASC LIMIT {PHRASE_K}
""")


def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 top-100 and the cosine top-100
    (query vector = embedding of vec_id 0): score = 1/(60+kw_rank) +
    1/(60+vec_rank), absent list membership contributing 0.  The standard
    hybrid-retrieval fusion — rank-based, so the two score scales never
    need calibration."""
    kw = (_bm25_scored(spark, sf_dir)
          .withColumn("kw_rank", F.row_number().over(
              Window.orderBy(F.desc("bm25_e10"), F.asc("doc_id"))))
          .where(F.col("kw_rank") <= TOPN)
          .select("doc_id", "kw_rank"))

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"))
    from binaryvectordb_spark.functions.vector import with_cosine
    vec = (with_cosine(emb.select(F.col("vec_id").alias("doc_id"),
                                  F.col("embedding").alias("dv"))
                       .crossJoin(F.broadcast(q)), "qv", "dv", "cos")
           .withColumn("vec_rank", F.row_number().over(
               Window.orderBy(F.desc("cos"), F.asc("doc_id"))))
           .where(F.col("vec_rank") <= TOPN)
           .select("doc_id", "vec_rank"))

    fused = (kw.join(vec, "doc_id", "full_outer")
             .withColumn("rrf", F.expr(
                 f"coalesce(CAST(1 AS DOUBLE) / CAST({RRF_K} + kw_rank AS "
                 f"DOUBLE), 0.0D) + coalesce(CAST(1 AS DOUBLE) / "
                 f"CAST({RRF_K} + vec_rank AS DOUBLE), 0.0D)")))
    w = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (fused.withColumn("fused_rank", F.row_number().over(w))
            .where(F.col("fused_rank") <= 10)
            .select("doc_id", "kw_rank", "vec_rank", "rrf", "fused_rank"))


def search_rerank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-stage rerank over the vector top-50 — the retrieve->rerank
    production shape (a cross-encoder in a model deployment; here a
    deterministic lexical scorer, so the full pipeline is oracle-checkable):
    candidates come from the cosine top-50, the reranker scores each
    (query, doc) pair by Jaccard overlap between the query terms and the
    doc's distinct token set, and the final order is (rerank score desc,
    first-stage rank asc, doc_id asc) top-10.  At scale the candidate set
    is k rows per query — the rerank join and scoring touch candidates
    only, never the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    from binaryvectordb_spark.functions.vector import with_cosine
    cand = (with_cosine(emb.select(F.col("vec_id").alias("doc_id"),
                                   F.col("embedding").alias("dv"))
                        .crossJoin(F.broadcast(q)), "qv", "dv", "cos")
            .withColumn("vec_rank", F.row_number().over(
                Window.orderBy(F.desc("cos"), F.asc("doc_id"))))
            .where(F.col("vec_rank") <= 50)
            .select("doc_id", "vec_rank"))
    toks = (docs.select("doc_id",
                        F.explode(F.array_distinct(
                            F.split(F.col("text"), " "))).alias("token"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.count(F.when(F.col("token").isin(*TERMS), 1))
                 .alias("n_hit")))
    # broadcast the 50-row candidate list into the token-stats stream —
    # the rerank join is map-side and scoring touches candidates only
    scored = (toks.join(F.broadcast(cand), "doc_id")
              .withColumn("rerank_score", F.expr(
                  f"CAST(n_hit AS DOUBLE) / CAST((n_tokens + {len(TERMS)}) "
                  "- n_hit AS DOUBLE)")))
    w = Window.orderBy(F.desc("rerank_score"), F.asc("vec_rank"),
                       F.asc("doc_id"))
    return (scored.withColumn("final_rank", F.row_number().over(w))
            .where(F.col("final_rank") <= 10)
            .select("doc_id", "vec_rank", "rerank_score", "final_rank"))


register("search_rerank_overlap", search_rerank_overlap, oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
d AS (SELECT vec_id AS doc_id, embedding AS dv FROM embeddings),
cand AS (
  SELECT doc_id, vec_rank
  FROM (SELECT doc_id,
               row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
        FROM (SELECT doc_id,
                     CASE WHEN {_QNORM} > 0 AND {_DNORM} > 0
                          THEN {_DOT} / ({_QNORM} * {_DNORM})
                          ELSE CAST(0 AS DOUBLE) END AS cos
              FROM d, q))
  WHERE vec_rank <= 50
), toks AS (
  SELECT doc_id, count(*) AS n_tokens,
         count(CASE WHEN token IN ('{TERMS[0]}', '{TERMS[1]}', '{TERMS[2]}')
                    THEN 1 END) AS n_hit
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents)
  GROUP BY doc_id
), scored AS (
  SELECT cand.doc_id, vec_rank,
         CAST(n_hit AS DOUBLE) / CAST((n_tokens + {len(TERMS)}) - n_hit
             AS DOUBLE) AS rerank_score
  FROM cand JOIN toks ON cand.doc_id = toks.doc_id
)
SELECT doc_id, vec_rank, rerank_score, final_rank
FROM (SELECT *, row_number() OVER (ORDER BY rerank_score DESC, vec_rank,
                                   doc_id) AS final_rank
      FROM scored)
WHERE final_rank <= 10
""")


register("search_hybrid_rrf", search_hybrid_rrf, oracle=f"""
WITH {_BM25_ORACLE_CTE},
kw AS (
  SELECT doc_id, kw_rank
  FROM (SELECT doc_id,
               row_number() OVER (ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
        FROM bm25)
  WHERE kw_rank <= {TOPN}
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
d AS (SELECT vec_id AS doc_id, embedding AS dv FROM embeddings),
vec AS (
  SELECT doc_id, vec_rank
  FROM (SELECT doc_id,
               row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
        FROM (SELECT doc_id,
                     CASE WHEN {_QNORM} > 0 AND {_DNORM} > 0
                          THEN {_DOT} / ({_QNORM} * {_DNORM})
                          ELSE CAST(0 AS DOUBLE) END AS cos
              FROM d, q))
  WHERE vec_rank <= {TOPN}
), fused AS (
  SELECT coalesce(kw.doc_id, vec.doc_id) AS doc_id, kw_rank, vec_rank,
         coalesce(CAST(1 AS DOUBLE) / CAST({RRF_K} + kw_rank AS DOUBLE), 0.0)
         + coalesce(CAST(1 AS DOUBLE) / CAST({RRF_K} + vec_rank AS DOUBLE),
                    0.0) AS rrf
  FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id
)
SELECT doc_id, kw_rank, vec_rank, rrf, fused_rank
FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
      FROM fused)
WHERE fused_rank <= 10
""")


# ---------------------------------------------------------------------------
# batch (multi-query) hybrid retrieval — the serving-pipeline form: a
# (qid, term) query table on the lexical side, qid = vec_id 0..4 on the
# vector side (mirroring knn_cascade_batch), qid-partitioned rank windows,
# RRF per qid.  One corpus scan serves the whole batch.
# ---------------------------------------------------------------------------

BATCH_TERMS: dict[int, tuple[str, ...]] = {
    0: ("vector", "window", "merge"),   # the fixed single-query terms
    1: ("hash", "join", "table"),
    2: ("stream", "batch", "scan"),
    3: ("sort", "group", "order"),
    4: ("dup", "filter", "key"),        # includes a rare term (df ~ 25)
}
N_BATCH = len(BATCH_TERMS)


def _query_terms_df(spark: SparkSession) -> DataFrame:
    """The (qid, token) query table as an inline literal plan — never
    createDataFrame (~0.2 s of Arrow/py4j per call, NOTES.md)."""
    structs = ", ".join(
        f"struct(bigint({qid}) AS qid, '{t}' AS token)"
        for qid, ts in sorted(BATCH_TERMS.items()) for t in ts)
    return (spark.range(1)
            .select(F.explode(F.expr(f"array({structs})")).alias("s"))
            .select("s.qid", "s.token"))


def _bm25_scored_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(qid, doc) BM25 score for the whole query batch in one corpus
    scan: tf is computed once over the UNION of all batch terms, the tiny
    (qid, term) table joins in on term (broadcast), and the per-doc sum is
    grouped by (qid, doc_id).  df/avgdl are query-independent corpus stats,
    identical to the single-query path.  r17: single-pass per-doc frame +
    pin, same restructure as _bm25_scored (was 4 corpus scans)."""
    all_terms = tuple(sorted({t for ts in BATCH_TERMS.values() for t in ts}))
    perdoc = _bm25_perdoc(spark, sf_dir, all_terms)
    tf = _bm25_tf_long(perdoc, all_terms)
    df_ = tf.groupBy("token").agg(
        F.count("*").cast("double").alias("df"))
    return (tf.join(F.broadcast(_query_terms_df(spark)), "token")
            .join(F.broadcast(df_), "token")
            .crossJoin(F.broadcast(_bm25_stats(perdoc)))
            .withColumn("term_score_e10", F.expr(_TERM_SCORE))
            .groupBy("qid", "doc_id")
            .agg(F.sum("term_score_e10").alias("bm25_e10")))


_QTERMS_VALUES = ", ".join(
    f"(CAST({qid} AS BIGINT), '{t}')"
    for qid, ts in sorted(BATCH_TERMS.items()) for t in ts)
_ALL_TERMS_IN = ", ".join(
    f"'{t}'" for t in sorted({t for ts in BATCH_TERMS.values() for t in ts}))

_BM25_BATCH_ORACLE_CTE = f"""
qterms(qid, token) AS (SELECT * FROM (VALUES {_QTERMS_VALUES})),
tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tokens GROUP BY 1
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM tokens
  WHERE token IN ({_ALL_TERMS_IN})
  GROUP BY 1, 2
), df AS (
  SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
), bm25 AS (
  SELECT qid, doc_id,
         CAST(sum(CAST(floor(((n_docs - df) + CAST(0.5 AS DOUBLE)) /
             (df + CAST(0.5 AS DOUBLE)) * ((tf * CAST(2.2 AS DOUBLE)) /
             (tf + (CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
             (CAST(0.75 AS DOUBLE) * (dl / avgdl)))))) *
             1e10) AS BIGINT)) AS BIGINT) AS bm25_e10
  FROM tf JOIN qterms USING (token) JOIN df USING (token)
       JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY qid, doc_id
)"""


def search_bm25_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per query for the 5-query batch — one corpus scan,
    qid-partitioned rank window (plans under Spark 4's window-group-limit,
    so each partition keeps only its top rows pre-shuffle)."""
    w = Window.partitionBy("qid").orderBy(F.desc("bm25_e10"), F.asc("doc_id"))
    return (_bm25_scored_batch(spark, sf_dir)
            .withColumn("kw_rank", F.row_number().over(w))
            .where(F.col("kw_rank") <= 10)
            .select("qid", "doc_id", "bm25_e10", "kw_rank"))


register("search_bm25_topk_batch", search_bm25_topk_batch, oracle=f"""
WITH {_BM25_BATCH_ORACLE_CTE}
SELECT qid, doc_id, bm25_e10, kw_rank
FROM (SELECT qid, doc_id, bm25_e10,
             row_number() OVER (PARTITION BY qid
                                ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
      FROM bm25)
WHERE kw_rank <= 10
""")


def search_hybrid_rrf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion per query over the 5-query batch: BM25
    top-100 and cosine top-100 per qid (query vector = embedding of
    vec_id = qid), full-outer joined on (qid, doc_id), fused with
    1/(60+rank) + 1/(60+rank), top-10 per qid.  Both sides amortize one
    corpus scan across the batch; the fusion joins two 5*k-row lists."""
    kw = (_bm25_scored_batch(spark, sf_dir)
          .withColumn("kw_rank", F.row_number().over(
              Window.partitionBy("qid")
              .orderBy(F.desc("bm25_e10"), F.asc("doc_id"))))
          .where(F.col("kw_rank") <= TOPN)
          .select("qid", "doc_id", "kw_rank"))

    emb = load_table(spark, sf_dir, "embeddings")
    qs = (emb.where(F.col("vec_id") < N_BATCH)
          .select(F.col("vec_id").alias("qid"),
                  F.col("embedding").alias("qv")))
    from binaryvectordb_spark.functions.vector import with_cosine
    vec = (with_cosine(emb.select(F.col("vec_id").alias("doc_id"),
                                  F.col("embedding").alias("dv"))
                       .crossJoin(F.broadcast(qs)), "qv", "dv", "cos")
           .withColumn("vec_rank", F.row_number().over(
               Window.partitionBy("qid")
               .orderBy(F.desc("cos"), F.asc("doc_id"))))
           .where(F.col("vec_rank") <= TOPN)
           .select("qid", "doc_id", "vec_rank"))

    fused = (kw.join(vec, ["qid", "doc_id"], "full_outer")
             .withColumn("rrf", F.expr(
                 f"coalesce(CAST(1 AS DOUBLE) / CAST({RRF_K} + kw_rank AS "
                 f"DOUBLE), 0.0D) + coalesce(CAST(1 AS DOUBLE) / "
                 f"CAST({RRF_K} + vec_rank AS DOUBLE), 0.0D)")))
    w = Window.partitionBy("qid").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (fused.withColumn("fused_rank", F.row_number().over(w))
            .where(F.col("fused_rank") <= 10)
            .select("qid", "doc_id", "kw_rank", "vec_rank", "rrf",
                    "fused_rank"))


register("search_hybrid_rrf_batch", search_hybrid_rrf_batch, oracle=f"""
WITH {_BM25_BATCH_ORACLE_CTE},
kw AS (
  SELECT qid, doc_id, kw_rank
  FROM (SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
        FROM bm25)
  WHERE kw_rank <= {TOPN}
), qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id < {N_BATCH}),
d AS (SELECT vec_id AS doc_id, embedding AS dv FROM embeddings),
vec AS (
  SELECT qid, doc_id, vec_rank
  FROM (SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, doc_id) AS vec_rank
        FROM (SELECT qid, doc_id,
                     CASE WHEN {_QNORM} > 0 AND {_DNORM} > 0
                          THEN {_DOT} / ({_QNORM} * {_DNORM})
                          ELSE CAST(0 AS DOUBLE) END AS cos
              FROM d, qs))
  WHERE vec_rank <= {TOPN}
), fused AS (
  SELECT coalesce(kw.qid, vec.qid) AS qid,
         coalesce(kw.doc_id, vec.doc_id) AS doc_id, kw_rank, vec_rank,
         coalesce(CAST(1 AS DOUBLE) / CAST({RRF_K} + kw_rank AS DOUBLE), 0.0)
         + coalesce(CAST(1 AS DOUBLE) / CAST({RRF_K} + vec_rank AS DOUBLE),
                    0.0) AS rrf
  FROM kw FULL OUTER JOIN vec
       ON kw.qid = vec.qid AND kw.doc_id = vec.doc_id
)
SELECT qid, doc_id, kw_rank, vec_rank, rrf, fused_rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY rrf DESC, doc_id) AS fused_rank
      FROM fused)
WHERE fused_rank <= 10
""")


def search_bm25_indexed_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5-query BM25 batch served from the persisted inverted index —
    ONE pruned postings read for the union of all batch terms, vs
    search_bm25_topk_batch's one corpus scan.  Bit-identical to the
    corpus-scan batch by the TextIndex score contract, so it shares that
    query's oracle verbatim: the throughput twin of search_bm25_indexed."""
    return _shared_text_index(spark, sf_dir).search_batch(BATCH_TERMS, k=10)


register("search_bm25_indexed_batch", search_bm25_indexed_batch, oracle=f"""
WITH {_BM25_BATCH_ORACLE_CTE}
SELECT qid, doc_id, bm25_e10, kw_rank
FROM (SELECT qid, doc_id, bm25_e10,
             row_number() OVER (PARTITION BY qid
                                ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
      FROM bm25)
WHERE kw_rank <= 10
""")


def search_bm25_indexed_batch_blockmax(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """The 5-query batch FORCED through the batched early-termination
    tier (r15, operators/textindex.py _search_blockmax_batch): one
    imp-thresholded postings read per descent round serves every
    still-unproven member at the union of their frontiers, each member's
    exactness proven per-query (all k rows covered + outside bound under
    the k-th key) or descended to the full read.  Bit-identical to the
    classic batch by construction, so it shares the corpus-scan batch
    oracle verbatim — the tier twin of search_bm25_indexed_batch, as
    search_bm25_indexed_blockmax is of search_bm25_indexed."""
    return (_shared_text_index(spark, sf_dir)
            .search_batch(BATCH_TERMS, k=10, block_max=True))


register("search_bm25_indexed_batch_blockmax",
         search_bm25_indexed_batch_blockmax, oracle=f"""
WITH {_BM25_BATCH_ORACLE_CTE}
SELECT qid, doc_id, bm25_e10, kw_rank
FROM (SELECT qid, doc_id, bm25_e10,
             row_number() OVER (PARTITION BY qid
                                ORDER BY bm25_e10 DESC, doc_id) AS kw_rank
      FROM bm25)
WHERE kw_rank <= 10
""")
