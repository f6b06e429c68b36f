"""The MinHash-LSH near-duplicate family, in one place: every Spark caller
composes the pieces below — the registry queries of queries/dedup.py
(``dedup_minhash_signature``, ``dedup_minhash_pairs``, ``dedup_lsh_jaccard``
and the queries built on them), the ingest gate (``near_dup_gate``,
``intra_batch_dups``, ``gated_add_documents_df``), the persisted
``GateIndex`` and the RAM-tier ``LocalNearDupGate`` build.

    3-word shingle sets -> 12 affine MinHash mins over an md5-prefix base
    hash -> 4 bands x 3 rows -> band-collision candidate pairs -> exact
    shingle-Jaccard verification

(Broder 1997; the banding of Leskovec, Rajaraman & Ullman, *MMDS* ch. 3).
The independent references the tests compare against are the DuckDB
oracles in queries/dedup.py, ``LocalNearDupGate``'s pure-Python twin and
the Python oracle of tests/test_ingest_gate_property.py.

The ingest gate is the MAINTENANCE form of the bootstrap dedup: *is this
incoming doc a near-dup of anything already admitted?*  The reference's
add_documents flow (BinaryVectorDB/BinaryVectorDB.py:93-101) has no such
gate; at 100 TB a corpus without one silently re-accumulates the
duplicates the bootstrap removed.  Its shape: the BATCH side's band table
(O(batch) rows) broadcasts against the corpus band table — the corpus
never shuffles and never self-joins; exact verification touches only the
pruned candidate pairs.  Cost per ingest is O(corpus scan + batch), the
corpus scan being the narrow shingle/band projection only.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from binaryvectordb_spark.functions.text import (
    minhash_min_exprs,
    shingles,
    token_hash31,
)
from binaryvectordb_spark.operators.segments import SegmentStore

N_HASHES = 12
N_BANDS = 4
ROWS_PER_BAND = 3
SHINGLE_K = 3


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))


def _shingle_set() -> Column:
    return F.array_distinct(shingles("toks", SHINGLE_K))


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shs): the distinct k-token shingle set of each (doc_id,
    text) row.  Docs with fewer than SHINGLE_K tokens have an empty set —
    they produce no MinHash signature, collide with nothing, and are
    always admitted."""
    return _tokens(docs).select("doc_id", _shingle_set().alias("shs"))


def minhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, sig_0..sig_{N_HASHES-1}): ONE md5 base hash per distinct
    shingle, then the affine-family MINs in a single hash-agg (map-side
    combinable; one shuffle on doc_id).

    ``docs`` is either a (doc_id, text) frame, whose shingle expression
    is exploded directly, or a PINNED or stored (doc_id, shs) frame.
    Both run the interpreted shingle transform once per doc.  An
    unpinned (doc_id, shs) frame would not: Spark infers a size(shs) > 0
    filter from the explode of a column and pushes it below the
    projection that computes shs, so the transform runs again in that
    filter."""
    if "shs" in docs.columns:
        ex = docs.select("doc_id", F.explode("shs").alias("s"))
    else:
        ex = _tokens(docs).select("doc_id",
                                  F.explode(_shingle_set()).alias("s"))
    return (ex.select("doc_id", F.expr(token_hash31("s")).alias("h"))
            .groupBy("doc_id").agg(*minhash_min_exprs("h", N_HASHES)))


def band_table(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, bh): one LSH band hash per (doc, band) — the
    inverted-index key, ROWS_PER_BAND signature mins per band.  ``docs``
    as for ``minhash_sigs``."""
    bands = minhash_sigs(docs).select("doc_id", F.array(*[
        F.concat_ws("|", *[f"sig_{b * ROWS_PER_BAND + r}"
                           for r in range(ROWS_PER_BAND)])
        for b in range(N_BANDS)]).alias("bands"))
    return bands.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "bh"))


def lsh_pairs(bands: DataFrame) -> DataFrame:
    """(id_a, id_b), id_a < id_b: the distinct doc pairs that agree on any
    band — the band table self-equi-joined on (band_idx, bh), a shuffle on
    short keys only, no cross join.  The band table is pinned (lazy
    localCheckpoint, per invocation) so the two join sides read one
    shingle + MinHash derivation instead of running it once each."""
    ex = bands.localCheckpoint(eager=False)
    a, b = ex.alias("a"), ex.alias("b")
    return (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .distinct())


def _verify(pairs: DataFrame, sh_a: DataFrame, sh_b: DataFrame, *,
            small_pairs: bool = False) -> DataFrame:
    """(id_a, id_b, jaccard): the exact shingle Jaccard of each candidate
    pair, from the (doc_id, shs) frames of the id_a and id_b sides.

    ``small_pairs`` states that the pairs are bounded by a batch while
    ``sh_b`` is a whole corpus (near_dup_gate): the pairs broadcast, with
    id_a's sets attached, so the corpus neither shuffles nor broadcasts
    at any scale.  Left to size estimates the planner broadcast the
    CORPUS sets instead, the wrong side at 100 TB.  The bootstrap's pairs
    are O(corpus), so the planner chooses there; a caller whose inputs
    are all bounded (GateIndex.gate) hints them itself."""
    a = sh_a.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("sa"))
    b = sh_b.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("sb"))
    left = pairs.join(a, "id_a")
    common = F.size(F.array_intersect("sa", "sb")).cast("double")
    return (b.join(F.broadcast(left) if small_pairs else left, "id_b")
            .select("id_a", "id_b",
                    (common / (F.size("sa") + F.size("sb") - common))
                    .alias("jaccard")))


def near_dup_pairs(docs: DataFrame, j_threshold: float = 0.5) -> DataFrame:
    """(id_a, id_b, jaccard), id_a < id_b: the LSH candidate pairs of a
    (doc_id, text) frame whose exact shingle Jaccard is >= j_threshold —
    the bootstrap dedup (dedup_lsh_jaccard) and the intra-batch gate.
    One pinned shingle pass feeds both the bands and the verify."""
    sh = shingle_sets(docs).localCheckpoint(eager=False)
    return (_verify(lsh_pairs(band_table(sh)), sh, sh)
            .where(F.col("jaccard") >= j_threshold))


def _collisions(c_bands: DataFrame, b_bands: DataFrame) -> DataFrame:
    """Band-key collisions of batch docs (id_a) with corpus rows (id_b),
    the batch side broadcast so the corpus side never shuffles.  Corpus
    rows with the batch doc's own doc_id are excluded (see near_dup_gate).
    Keeps the corpus side's other columns."""
    b = b_bands.select(F.col("doc_id").alias("id_a"), "band_idx", "bh")
    return (c_bands.join(F.broadcast(b), ["band_idx", "bh"])
            .where(F.col("doc_id") != F.col("id_a"))
            .withColumnRenamed("doc_id", "id_b"))


def _gate_record(ids: DataFrame, ver: DataFrame | None,
                 j_threshold: float) -> DataFrame:
    """One record per batch doc in ``ids`` from its verified candidate
    pairs ``ver`` (id_a = the batch doc; None when there are none):
    (doc_id, n_candidates, n_dups, best_jaccard, admit), zero-candidate
    docs kept by the left join."""
    if ver is None:
        return (ids.withColumn("n_candidates", F.lit(0).cast("long"))
                .withColumn("n_dups", F.lit(0).cast("long"))
                .withColumn("best_jaccard", F.lit(None).cast("double"))
                .withColumn("admit", F.lit(True)))
    dup = F.col("jaccard") >= j_threshold
    per_doc = (ver.groupBy("id_a")
               .agg(F.count("*").alias("n_candidates"),
                    F.sum(F.when(dup, 1).otherwise(0)).alias("n_dups"),
                    F.max(F.when(dup, F.col("jaccard")))
                    .alias("best_jaccard")))
    return (ids.join(per_doc, ids["doc_id"] == per_doc["id_a"], "left")
            .select("doc_id",
                    F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
                    F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
                    "best_jaccard")
            .withColumn("admit", F.col("n_dups") == 0))


def _distinct_shingles(docs: DataFrame) -> DataFrame:
    """The shingle sets of a (doc_id, text) frame's distinct doc_ids,
    pinned per invocation (lazy localCheckpoint): bands, verify and the
    record's id list all read this one pass."""
    return (shingle_sets(docs.select("doc_id", "text")
                         .dropDuplicates(["doc_id"]))
            .localCheckpoint(eager=False))


def near_dup_gate(batch: DataFrame, corpus: DataFrame, *,
                  j_threshold: float = 0.5) -> DataFrame:
    """Per-batch-doc admit/reject record vs an existing corpus.

    Both inputs are (doc_id, text) frames (extra columns ignored).  Returns
    (doc_id, n_candidates, n_dups, best_jaccard, admit) — one row per
    DISTINCT batch doc_id, where n_candidates counts LSH band collisions
    against the corpus, n_dups counts candidates whose EXACT shingle
    Jaccard >= j_threshold, best_jaccard is the max such score (NULL when
    none), and admit = (n_dups == 0).

    SELF-pairs (a corpus row carrying the same doc_id as a batch row) are
    EXCLUDED from candidates: a doc is never a near-dup of its own prior
    version, so a replayed batch re-admits identically (exactly-once gate
    log under foreachBatch's at-least-once replay) and an UPDATE of an
    existing doc_id is gated only against the rest of the corpus, not
    silently rejected as a dup of itself (ADVICE r9).

    The batch band table broadcasts; the corpus is scanned once and never
    shuffled (plan-pinned via the registry query that delegates here).
    NOTE: the corpus shingle/band derivation runs PER CALL — right for a
    bootstrap or an occasional micro-batch, wrong as a steady serving
    path.  ``GateIndex`` persists those artifacts through commits so a
    probe pays only its own (pruned) read cost.  The per-call pin of the
    corpus shingle sets (``localCheckpoint``) materializes O(corpus) rows
    in executor storage for the invocation and is not fault-tolerant (an
    executor loss fails the job instead of recomputing) — acceptable here
    exactly because this form is the bootstrap path; when corpus >>
    memory, use the persisted ``GateIndex`` route."""
    b_sh = _distinct_shingles(batch)
    c_sh = (shingle_sets(corpus.select("doc_id", "text"))
            .localCheckpoint(eager=False))
    cands = (_collisions(band_table(c_sh), band_table(b_sh))
             .select("id_a", "id_b").distinct())
    return _gate_record(b_sh.select("doc_id"),
                        _verify(cands, b_sh, c_sh, small_pairs=True),
                        j_threshold)


def intra_batch_dups(batch: DataFrame, *,
                     j_threshold: float = 0.5) -> DataFrame:
    """(doc_id) rows for batch docs that are near-dups of a LOWER-doc_id
    doc in the SAME batch — the intra-batch half of the ingest gate
    (ADVICE r9: two near-identical docs arriving in one micro-batch must
    not both be admitted): ``near_dup_pairs`` over the batch.

    Semantics are PAIRWISE, lowest-id-wins, and deliberately
    non-transitive: if 2 dups 1 and 3 dups 2 (but 3 does not dup 1), BOTH
    2 and 3 are rejected — 3 collides with 2 regardless of 2's own fate.
    Safe-side and deterministic; the transitive-closure alternative would
    need a connected-components pass per micro-batch.  O(batch²) only
    within colliding LSH buckets."""
    batch = batch.select("doc_id", "text").dropDuplicates(["doc_id"])
    return (near_dup_pairs(batch, j_threshold)
            .select(F.col("id_b").alias("doc_id")).distinct())


def gated_add_documents_df(db, docs_df: DataFrame, *,
                           j_threshold: float = 0.5,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Near-dup-gated distributed upsert: run the gate against the DB's
    CURRENT str-payload documents AND within the batch itself, admit only
    docs with zero near-dups, upsert the admitted slice via
    add_documents_df, and return the gate record (one row per distinct
    incoming doc_id): (doc_id, n_candidates, n_dups, best_jaccard,
    intra_dup, admit) where admit = corpus-clean AND NOT intra_dup.

    Corpus rows with the SAME doc_id as a batch row are excluded by
    near_dup_gate, so updates to an existing doc are gated against the
    rest of the corpus (not self-rejected) and a foreachBatch replay
    re-admits identically.

    The record is localCheckpoint-materialized BEFORE the upsert commits —
    both it and the admitted slice derive from the pre-commit docs table,
    and the commit garbage-collects superseded files (the db.py
    _after_upsert re-execution hazard, ADVICE r8)."""
    batch = docs_df.select(F.col(id_col).cast("long").alias("doc_id"),
                           F.col(text_col).alias("text"))
    corpus_df = db.docs_df()
    gi = db._gate_index()
    if corpus_df is None:
        rec = _gate_record(batch.dropDuplicates(["doc_id"]).select("doc_id"),
                           None, j_threshold)
    elif gi is not None:
        # persisted artifacts: probe-side cost, bit-identical decisions
        # (the commit hooks keep the index current through every upsert/
        # remove, so gating against it == gating against the corpus)
        rec = gi.gate(batch, j_threshold=j_threshold)
    else:
        corpus = (corpus_df.where(F.col("doc_kind") == "str")
                  .select("doc_id", F.col("doc").alias("text")))
        rec = near_dup_gate(batch, corpus, j_threshold=j_threshold)
    intra = intra_batch_dups(batch, j_threshold=j_threshold) \
        .withColumn("intra_dup", F.lit(True))
    rec = (rec.drop("admit").join(intra, "doc_id", "left")
           .withColumn("intra_dup", F.coalesce("intra_dup", F.lit(False)))
           .withColumn("admit", (F.col("n_dups") == 0) & ~F.col("intra_dup")))
    rec = rec.localCheckpoint(eager=True)
    admitted = (batch.join(rec.where("admit").select("doc_id"), "doc_id")
                .localCheckpoint(eager=True))
    if admitted.take(1):
        db.add_documents_df(admitted)
    return rec


class GateIndex(SegmentStore):
    """Persisted corpus shingle/band tables for the near-dup gate — the
    TextIndex maintenance discipline applied to the gate's derived state
    (VERDICT r10 item 3: ``near_dup_gate`` recomputes the corpus
    shingle/band tables on EVERY call, which priced the single-doc
    distributed gate at ~8 s; with the tables persisted a probe pays only
    its own pruned read cost).

    Layout (all files under ``folder``):
        seg_<n>/shingles/  (doc_id, shs)       range-sorted by doc_id
        seg_<n>/bands/     (doc_id, band_idx, bh)  range-sorted by bh
        tomb_<n>/          (doc_id, upto_seg)  deletes/replacements
    The state {fmt, segments, tombstones, tomb_upto, ...} naming the live
    dirs is an entry of the DB manifest for the DB's gate (committed with
    the data it derives from; the DB's ``_gc`` deletes dirs no retained
    manifest names), ``_log/v<n>.json`` for a standalone one (opened only
    in the current ``fmt``, see operators/segments.py).

    - Segments, tombstones, state commits and compaction are the segment
      store shared with TextIndex (operators/segments.py): a batch of
      new/updated docs is ONE new segment plus a tombstone scoped to
      every earlier segment (delete-then-insert).  O(batch) write cost.
      The segment-stats entry is the segment's integer doc count.
    - ``gate`` probes with the incoming batch's band keys: the bands scan
      carries an ``In(bh)`` filter (pushed to parquet row-group stats —
      the segments are range-sorted on bh), candidate ids are a bounded
      collect, and the shingle verification reads ONLY ``In(doc_id)``
      pruned row groups.  No corpus text is re-shingled, no corpus table
      is shuffled — plan- and job-pinned in tests/test_ingest_gate.py.
    - ``compact()`` folds live rows into one segment and clears
      tombstones; ``compact_tail()`` is the tiered merge the DB hook
      (``db._bound_state``) prefers: fold only the trailing run of
      comparably-small segments and the tombstone pile, so micro-batch
      ingest costs amortized O(batch·log) and the bootstrap segment is
      never rewritten just because 16 small batches arrived.  The
      tombstone ROW count is bounded separately by the hook's row-budget
      vacuum — a full ``compact()`` only once the dead rows reach ~half
      the table (amortized O(1) rewrite per churned doc, a vacuum, not a
      cadence).

    100 TB: both tables are O(corpus) on disk but a probe touches
    O(probe bands + candidates) row groups; segments are immutable files
    on object storage and the state commit is the only commit point."""

    _SCHEMAS = {"shingles": "doc_id long, shs array<string>",
                "bands": "doc_id long, band_idx int, bh string"}
    # the existence probe reads the doc_id-sorted shingle tables
    _PROBE = "shingles"

    @staticmethod
    def _seg_size(n: int) -> int:
        return int(n)

    def _write_tables(self, name: str, shingles: DataFrame,
                      bands) -> int:
        """Write one segment's shingle table and, when it holds rows, its
        band table from ``bands()``; returns n_docs.  Both tables are
        range-sorted so probe-time In() filters prune row groups."""
        seg = os.path.join(self.folder, name)
        # the Observation sits ABOVE the range exchange: the range
        # partitioner's boundary-sampling pass re-executes only the
        # exchange's CHILD, so a below-exchange observe double-counts
        # (seg_stats carried a ~2x bias — wrong for the row-budget
        # vacuum) while this placement is exact AND free — no read-back
        # job, no sampling bias (verified empirically: child 2000 vs
        # above-exchange 1000 on a 1000-row write)
        obs = Observation()
        (shingles
         .repartitionByRange("doc_id")
         .observe(obs, F.count(F.lit(1)).alias("n"))
         .sortWithinPartitions("doc_id")
         .write.mode("overwrite").parquet(os.path.join(seg, "shingles")))
        n_docs = int(obs.get["n"])
        if n_docs:
            (bands().repartitionByRange("bh")
             .sortWithinPartitions("bh", "doc_id")
             .write.mode("overwrite").parquet(os.path.join(seg, "bands")))
        return n_docs

    def _write_segment(self, docs: DataFrame, name: str) -> int:
        """A batch of (doc_id, text) rows as one segment.  Bands are
        derived from the WRITTEN shingle table (one text pass, the
        doclen-from-written-postings pattern)."""
        docs = docs.select("doc_id", "text").dropDuplicates(["doc_id"])
        return self._write_tables(
            name, shingle_sets(docs),
            lambda: band_table(
                self.spark.read.schema(self._SCHEMAS["shingles"])
                .parquet(os.path.join(self.folder, name, "shingles"))))

    def _merge_run(self, name: str, lo: int) -> int:
        """The live rows of segments[lo:] as one segment."""
        return self._write_tables(name, self._live_run("shingles", lo),
                                  lambda: self._live_run("bands", lo))

    # -- mutation -------------------------------------------------------

    def build(self, docs: DataFrame) -> "GateIndex":
        """(Re)build from scratch: one corpus pass, single segment."""
        name = self._next_name("seg")
        n = self._write_segment(docs, name)
        self._commit_single(name if n else None, n)
        return self

    def compact(self) -> None:
        """Fold live rows into one fresh segment; clear tombstones."""
        if not self.meta["segments"]:
            return
        name = self._next_name("seg")
        n = self._merge_run(name, 0)
        self._commit_single(name if n else None, n)

    # -- read -----------------------------------------------------------

    def live_shingles(self, prune_ids=None) -> DataFrame:
        return self._live_run("shingles", 0, prune_ids)

    # -- serve ----------------------------------------------------------

    def gate(self, batch: DataFrame, *,
             j_threshold: float = 0.5) -> DataFrame:
        """``near_dup_gate`` semantics against the PERSISTED corpus
        artifacts — bit-identical records (pinned by
        tests/test_ingest_gate.py), at probe-side cost:

        1. the batch's band table is COLLECTED (O(batch x N_BANDS) slim
           rows — the bounded candidate-set collect class);
        2. the persisted bands scan carries ``In(bh)`` from those keys
           (row-group pruned — the segments are range-sorted on bh) and
           its broadcast-join collisions are collected as (batch doc,
           corpus doc, seg) triples (bounded by LSH collisions);
           liveness is then refined DRIVER-SIDE from a tombstone read
           pruned to the corpus docs, so probe cost never scales with
           the tombstone pile;
        3. the final plan verifies exactly the surviving pairs: batch
           shingles (narrow recompute) x corpus shingles read with
           ``In(doc_id)`` pruned row groups on BOTH the segment and
           tombstone sides — the bands table is not re-scanned.

        The corpus is never re-shingled and never shuffled; the only
        exchanges in the final plan carry candidate/record rows.  The
        batch is not pinned: each plan above derives its shingles once,
        and a pin would add a job per probe to save a recompute that
        O(batch) keeps small."""
        spark = self.spark
        batch = batch.select("doc_id", "text").dropDuplicates(["doc_id"])
        ids = batch.select("doc_id")
        brows = band_table(batch).collect()
        if not brows or not self.meta["segments"]:
            return _gate_record(ids, None, j_threshold)
        keys = sorted({r["bh"] for r in brows})
        # collisions against the RAW (un-tombstoned) bands, carrying the
        # segment ordinal; liveness is refined DRIVER-SIDE from an
        # In(id_b)-pruned tombstone read (r12 review: joining the whole
        # pile into the probe made probe cost O(churn since vacuum) —
        # this way both the collision collect and the tombstone read
        # are bounded by the probe, and the surviving (row, seg) set is
        # exactly what the anti-join would keep, so records stay
        # bit-identical to the recompute form)
        b_bands = spark.createDataFrame(
            brows, "doc_id long, band_idx int, bh string")
        raw_pairs = (_collisions(
            self._raw_run("bands").where(F.col("bh").isin(keys)), b_bands)
            .select("id_a", "id_b", "seg").distinct().collect())
        cset = sorted({int(p["id_b"]) for p in raw_pairs})
        dead_scope: dict[int, int] = {}
        tomb = self._tomb()
        if tomb is not None and cset:
            for r in (tomb.where(F.col("doc_id").isin(cset))
                      .groupBy("doc_id")
                      .agg(F.max("upto_seg").alias("u")).collect()):
                dead_scope[int(r["doc_id"])] = int(r["u"])
        pairs = sorted({(int(p["id_a"]), int(p["id_b"])) for p in raw_pairs
                        if dead_scope.get(int(p["id_b"]), -1)
                        < int(p["seg"])})
        if not pairs:
            return _gate_record(ids, None, j_threshold)
        # every side is probe-bounded: the pairs and the id-pruned corpus
        # sets broadcast, the batch sets stream
        sb = self.live_shingles(prune_ids=sorted({c for _, c in pairs}))
        ver = _verify(F.broadcast(spark.createDataFrame(
                          pairs, "id_a long, id_b long")),
                      shingle_sets(batch), F.broadcast(sb))
        return _gate_record(ids, ver, j_threshold)


class LocalNearDupGate:
    """RAM-tier admission control — the serving-tier twin of
    near_dup_gate, zero Spark jobs per check (the same trade as
    LocalCascadeSearcher / TextIndex.to_local: one distributed build
    collects the corpus artifacts, then every decision is in-process).

    The build collects the SPARK-computed shingle sets and LSH band
    table (executor-side md5/minhash work, two slim collects); `check`
    recomputes the incoming doc's bands/shingles in pure python with the
    bit-identical recipe (md5-prefix base hash, affine min family, 4x3
    banding — the same stack tests/test_ingest_gate_property.py pins
    against the distributed gate), so a LocalNearDupGate decision equals
    the distributed gate's decision exactly.

    `admit` is INCREMENTAL: an admitted (or updating) doc is registered
    into the in-memory index immediately, so a stream of single-doc
    admissions gates each doc against everything admitted before it —
    the per-event ingest shape no micro-batch gate can serve.  Same
    self-pair semantics as the distributed gate: an existing doc_id is
    first DE-registered (delete-then-insert), so updates are never
    rejected against their own prior version.

    Memory: O(corpus distinct shingles) python strings + 4 band keys per
    doc — the honest RAM-tier cost (fixture corpus ~MBs; at very large
    corpora keep the distributed gate or shard this one)."""

    def __init__(self, j_threshold: float = 0.5):
        self.j_threshold = j_threshold
        self._bands: dict[tuple[int, str], set[int]] = {}
        self._shingles: dict[int, frozenset] = {}

    # -- bit-exact python twin of the Spark shingle/minhash pipeline ----

    @staticmethod
    def _py_shingle_set(text: str) -> frozenset:
        toks = text.split(" ")
        if len(toks) < SHINGLE_K:
            return frozenset()
        return frozenset(" ".join(toks[i:i + SHINGLE_K])
                         for i in range(len(toks) - SHINGLE_K + 1))

    @staticmethod
    def _py_bands(shs: frozenset) -> list[tuple[int, str]]:
        import hashlib

        from binaryvectordb_spark.functions.text import (
            MINHASH_P,
            minhash_a,
            minhash_b,
        )
        if not shs:
            return []
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P
              for s in shs]
        sigs = [min((minhash_a(j) * h + minhash_b(j)) % MINHASH_P
                    for h in hs) for j in range(N_HASHES)]
        return [(b, "|".join(str(sigs[b * ROWS_PER_BAND + r])
                             for r in range(ROWS_PER_BAND)))
                for b in range(N_BANDS)]

    # -- build ----------------------------------------------------------

    @classmethod
    def from_df(cls, docs: DataFrame,
                j_threshold: float = 0.5) -> "LocalNearDupGate":
        """One distributed build over a (doc_id, text) frame: shingle
        sets and band table computed executor-side, collected once."""
        g = cls(j_threshold)
        sh = _distinct_shingles(docs)
        for r in sh.collect():
            g._shingles[r["doc_id"]] = frozenset(r["shs"])
        for r in band_table(sh).collect():
            g._bands.setdefault((r["band_idx"], r["bh"]),
                                set()).add(r["doc_id"])
        return g

    @classmethod
    def from_db(cls, db, j_threshold: float = 0.5) -> "LocalNearDupGate":
        """Build from the DB's current str-payload documents (the same
        corpus gated_add_documents_df gates against)."""
        from pyspark.sql import functions as F
        corpus = db.docs_df()
        if corpus is None:
            return cls(j_threshold)
        return cls.from_df(
            corpus.where(F.col("doc_kind") == "str")
            .select("doc_id", F.col("doc").alias("text")), j_threshold)

    # -- serve ----------------------------------------------------------

    def _deregister(self, doc_id: int) -> None:
        shs = self._shingles.pop(doc_id, None)
        if shs is None:
            return
        for key in self._py_bands(shs):
            s = self._bands.get(key)
            if s is not None:
                s.discard(doc_id)
                if not s:
                    del self._bands[key]

    def check(self, doc_id: int, text: str) -> dict:
        """Gate record for one incoming doc vs the current in-memory
        corpus — (n_candidates, n_dups, best_jaccard, admit), identical
        to the distributed near_dup_gate row (self-pair excluded)."""
        sa = self._py_shingle_set(text)
        return self._check_pre(doc_id, sa, self._py_bands(sa))

    def _check_pre(self, doc_id: int, sa: frozenset,
                   band_keys: list[tuple[int, str]]) -> dict:
        """check() over PRE-computed probe shingles/band keys — the
        sharded gate derives them once and probes every shard with the
        same values (the md5/minhash work is per-probe, not per-shard)."""
        cands: set[int] = set()
        for key in band_keys:
            cands |= self._bands.get(key, set())
        cands.discard(doc_id)
        dups, best = 0, None
        for cid in cands:
            sb = self._shingles[cid]
            common = len(sa & sb)
            j = common / (len(sa) + len(sb) - common)
            if j >= self.j_threshold:
                dups += 1
                best = j if best is None else max(best, j)
        return {"doc_id": doc_id, "n_candidates": len(cands),
                "n_dups": dups, "best_jaccard": best,
                "admit": dups == 0}

    def admit(self, doc_id: int, text: str) -> dict:
        """check + incremental registration: an admitted doc immediately
        becomes part of the corpus the NEXT doc is gated against; an
        admitted update first de-registers the prior version
        (delete-then-insert)."""
        rec = self.check(doc_id, text)
        if rec["admit"]:
            self._register(doc_id, text)
        return rec

    def _register(self, doc_id: int, text: str) -> None:
        self._deregister(doc_id)
        shs = self._py_shingle_set(text)
        self._shingles[doc_id] = shs
        for key in self._py_bands(shs):
            self._bands.setdefault(key, set()).add(doc_id)

    def __len__(self) -> int:
        return len(self._shingles)


class ShardedLocalNearDupGate:
    """LocalNearDupGate beyond one RAM budget: the corpus is sharded by
    ``doc_id % n_shards``, each shard holding the band/shingle maps for
    ITS docs only (per-shard memory = total / n, zero duplication — a
    band-key sharding would replicate each doc's shingles into up to
    N_BANDS shards).  Decisions are BIT-IDENTICAL to the unsharded gate:
    candidate sets partition exactly across shards (a candidate lives
    where its doc does), so the per-shard records merge additively —
    n_candidates/n_dups sum, best_jaccard maxes, admit = no shard saw a
    dup.  Property-pinned against the unsharded gate under a mixed
    check/admit/update stream (tests/test_ingest_gate.py).

    This in-process form models the cross-process architecture (the
    ``cascade_1m_local_sharded4`` pattern): each shard is independent
    state behind the same probe values — the probe's shingle/minhash
    derivation runs ONCE and fans out, which is exactly the scatter a
    real N-node deployment would broadcast."""

    def __init__(self, n_shards: int = 4, j_threshold: float = 0.5):
        if n_shards < 1:
            raise ValueError("n_shards must be >= 1")
        self.n_shards = n_shards
        self.j_threshold = j_threshold
        self.shards = [LocalNearDupGate(j_threshold)
                       for _ in range(n_shards)]

    @classmethod
    def from_df(cls, docs: DataFrame, n_shards: int = 4,
                j_threshold: float = 0.5) -> "ShardedLocalNearDupGate":
        """The unsharded gate's build, its docs routed to their owner
        shard driver-side."""
        flat = LocalNearDupGate.from_df(docs, j_threshold)
        g = cls(n_shards, j_threshold)
        for doc_id, shs in flat._shingles.items():
            g.shards[doc_id % n_shards]._shingles[doc_id] = shs
        for key, ids in flat._bands.items():
            for doc_id in ids:
                g.shards[doc_id % n_shards]._bands.setdefault(
                    key, set()).add(doc_id)
        return g

    def check(self, doc_id: int, text: str) -> dict:
        probe_sa = LocalNearDupGate._py_shingle_set(text)
        probe_bands = LocalNearDupGate._py_bands(probe_sa)
        n_cands = n_dups = 0
        best = None
        for sh in self.shards:
            rec = sh._check_pre(doc_id, probe_sa, probe_bands)
            n_cands += rec["n_candidates"]
            n_dups += rec["n_dups"]
            if rec["best_jaccard"] is not None:
                best = (rec["best_jaccard"] if best is None
                        else max(best, rec["best_jaccard"]))
        return {"doc_id": doc_id, "n_candidates": n_cands,
                "n_dups": n_dups, "best_jaccard": best,
                "admit": n_dups == 0}

    def admit(self, doc_id: int, text: str) -> dict:
        rec = self.check(doc_id, text)
        if rec["admit"]:
            self.shards[doc_id % self.n_shards]._register(doc_id, text)
        return rec

    def __len__(self) -> int:
        return sum(len(s) for s in self.shards)
