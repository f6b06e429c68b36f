"""DB-surface lexical index + hybrid serving (db.build_text_index /
search_text / search_hybrid): the inverted index is maintained through the
DB's own mutation paths and always answers like a fresh rebuild."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from binaryvectordb_spark.db import BinaryVectorDB
from binaryvectordb_spark.operators.textindex import TextIndex

DIM = 8
TERMS = ("fast", "merge", "scan")
VOCAB = ("fast", "merge", "scan", "join", "sort", "hash", "key", "window")


def _emb(i: int) -> list[float]:
    return [((i * (j + 3)) % 17) / 17.0 - 0.5 for j in range(DIM)]


def _text(i: int) -> str:
    return " ".join(VOCAB[(i + j) % len(VOCAB)] for j in range(3 + i % 5))


def _mkdb(spark, folder: str, n: int = 120) -> BinaryVectorDB:
    db = BinaryVectorDB(spark, folder, dim=DIM, buckets=4)
    db.add_batch(list(range(n)), [_text(i) for i in range(n)],
                 np.array([_emb(i) for i in range(n)], dtype=np.float32))
    return db


def _fresh_answer(spark, db, tmp_path, name: str, k: int = 10):
    """Ground truth: a from-scratch TextIndex over the db's CURRENT live
    str-kind docs."""
    docs = db.docs_df().where(F.col("doc_kind") == "str") \
        .select("doc_id", F.col("doc").alias("text"))
    ti = TextIndex(spark, str(tmp_path / name)).build(docs, text_col="text")
    return sorted(map(tuple, ti.search(TERMS, k=k).collect()))


@pytest.mark.slow
def test_search_text_and_incremental_maintenance(spark, tmp_path):
    db = _mkdb(spark, str(tmp_path / "db"))
    with pytest.raises(Exception, match="build_text_index"):
        db.search_text(TERMS)
    db.build_text_index()

    hits = db.search_text(TERMS, k=10)
    assert [(h["doc_id"], h["bm25_e10"], h["kw_rank"]) for h in hits] \
        == sorted(_fresh_answer(spark, db, tmp_path, "f0"),
                  key=lambda t: t[2])
    assert all(h["doc"] == _text(h["doc_id"]) for h in hits)

    # upsert through the DB: rewritten + new docs flow into the index
    db.add_batch([0, 1, 200], ["merge merge fast scan"] * 2 + ["scan scan"],
                 np.array([_emb(0), _emb(1), _emb(200)], dtype=np.float32))
    # delete through the DB
    db.remove_docs([2, 3])
    got = sorted((h["doc_id"], h["bm25_e10"], h["kw_rank"])
                 for h in db.search_text(TERMS, k=10))
    assert got == _fresh_answer(spark, db, tmp_path, "f1")
    gone = {h["doc_id"] for h in db.search_text(TERMS, k=200)}
    assert not gone & {2, 3}

    # a doc updated to a TYPED payload drops out of keyword search
    db.add_documents([0], [{"k": 1}], docs2text=lambda d: "fast fast fast")
    assert 0 not in {h["doc_id"] for h in db.search_text(TERMS, k=200)}
    got = sorted((h["doc_id"], h["bm25_e10"], h["kw_rank"])
                 for h in db.search_text(TERMS, k=10))
    assert got == _fresh_answer(spark, db, tmp_path, "f2")


def test_search_hybrid_fuses_both_lists(spark, tmp_path):
    db = _mkdb(spark, str(tmp_path / "db"))
    db.build_text_index()
    qvec = _emb(7)
    hits = db.search_hybrid(TERMS, qvec, k=10, depth=50)
    assert len(hits) == 10
    # manual RRF over the two component lists
    kw = {h["doc_id"]: h["kw_rank"] for h in db.search_text(TERMS, k=50)}
    vec = {h["doc_id"]: i + 1 for i, h in enumerate(db.search(qvec, k=50))}
    want = sorted(
        ((d, (1 / (60 + kw[d]) if d in kw else 0)
          + (1 / (60 + vec[d]) if d in vec else 0))
         for d in set(kw) | set(vec)),
        key=lambda t: (-t[1], t[0]))[:10]
    assert [(h["doc_id"], h["rrf"]) for h in hits] == want
    # every hit carries its component ranks and payload
    assert all(h["kw_rank"] or h["vec_rank"] for h in hits)
    assert all(h["doc"] == _text(h["doc_id"]) for h in hits)


def test_search_hybrid_maxsim_rerank(spark, tmp_path):
    """maxsim_rerank re-orders the fused top-k by exact-integer MaxSim
    (same md5-derived token embeddings as the registered MaxSim queries),
    with RRF position as the tie-break."""
    from binaryvectordb_spark.queries.lateinteraction import _emb_ints

    db = _mkdb(spark, str(tmp_path / "db"))
    db.build_text_index()
    qvec = _emb(7)
    base = db.search_hybrid(TERMS, qvec, k=10, depth=50)
    rr = db.search_hybrid(TERMS, qvec, k=10, depth=50, maxsim_rerank=True)
    assert {h["doc_id"] for h in rr} == {h["doc_id"] for h in base}

    qembs = [_emb_ints(t) for t in TERMS]

    def ms(doc):
        tembs = [_emb_ints(t) for t in set(doc.split(" "))]
        return sum(max(sum(a * b for a, b in zip(q, te)) for te in tembs)
                   for q in qembs)

    want = sorted(range(len(base)),
                  key=lambda i: (-ms(base[i]["doc"]), i))
    assert [h["doc_id"] for h in rr] == [base[i]["doc_id"] for i in want]
    assert all(h["maxsim"] == ms(h["doc"]) for h in rr)
    # scores are monotonically non-increasing
    scores = [h["maxsim"] for h in rr]
    assert scores == sorted(scores, reverse=True)


def test_restore_drops_derived_text_index(spark, tmp_path):
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=DIM, buckets=2,
                        retain_versions=3)
    db.add_batch([0, 1], ["fast merge", "scan sort"],
                 np.array([_emb(0), _emb(1)], dtype=np.float32))
    v0 = db.history()[-1]["version"]
    db.add_batch([2], ["merge scan"], np.array([_emb(2)], dtype=np.float32))
    db.build_text_index()
    assert db.search_text(TERMS, k=5)
    db.restore(v0)
    assert db._text_index() is None
    with pytest.raises(Exception, match="build_text_index"):
        db.search_text(TERMS)


@pytest.mark.slow
def test_auto_compact_bounds_segments(spark, tmp_path):
    """Micro-batch upserts may not grow the segment list without bound:
    at the threshold the maintenance hook folds the index back to one
    segment, and answers are unchanged."""
    db = _mkdb(spark, str(tmp_path / "db"), n=40)
    db.build_text_index()
    thr = BinaryVectorDB._COMPACT_SEGMENTS
    for i in range(thr + 2):
        db.add_batch([1000 + i], [f"fast merge batch{i}"],
                     np.array([_emb(1000 + i)], dtype=np.float32))
        assert len(db._text_index().meta["segments"]) <= thr
    # the folded index still answers like a fresh rebuild
    got = sorted((h["doc_id"], h["bm25_e10"], h["kw_rank"])
                 for h in db.search_text(TERMS, k=10))
    assert got == _fresh_answer(spark, db, tmp_path, "fc")


@pytest.mark.slow
def test_local_serving_hybrid_bit_identical_and_zero_jobs(spark, tmp_path):
    """attach_local_serving routes search_text / search_hybrid through the
    RAM tier (VERDICT r8 item 3): results are bit-identical to the
    distributed plans, ZERO Spark jobs run per query once attached, and a
    mutation transparently re-materializes (memo keyed on the manifest
    version — the OCC contract makes staleness impossible)."""
    db = _mkdb(spark, str(tmp_path / "db"))
    db.build_text_index()
    qvec = _emb(7)

    def snap(d):
        text = [(h["doc_id"], h["bm25_e10"], h["kw_rank"], h["doc"])
                for h in d.search_text(TERMS, k=10)]
        hyb = [(h["doc_id"], h["rrf"], h["kw_rank"], h["vec_rank"], h["doc"])
               for h in d.search_hybrid(TERMS, qvec, k=10, depth=50)]
        rer = [(h["doc_id"], h["maxsim"])
               for h in d.search_hybrid(TERMS, qvec, k=10, depth=50,
                                        maxsim_rerank=True)]
        return text, hyb, rer

    distributed = snap(db)
    db.attach_local_serving()
    assert snap(db) == distributed

    # zero Spark jobs per query once the memo is warm
    sc = spark.sparkContext
    sc.setJobGroup("local-serve-probe", "must stay empty")
    try:
        snap(db)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("local-serve-probe") == []

    # a mutation invalidates the memo; the next call re-materializes and
    # matches a freshly-computed distributed answer
    db.add_batch([500], ["fast merge scan scan"],
                 np.array([_emb(500)], dtype=np.float32))
    local_after = snap(db)
    db.detach_local_serving()
    assert snap(db) == local_after
    assert any(h[0] == 500 for h in local_after[0])


def test_hybrid_export_serves_cross_process(spark, tmp_path):
    """export_serving_shards on a DB with a text index stages the lexical
    tier (bm25/) into the same atomic export; LocalHybridServer.load — in
    THIS process and in a fresh Spark-free subprocess — answers
    search/search_text/search_hybrid exactly like the attached RAM tier."""
    import json as _json
    import subprocess
    import sys

    db = _mkdb(spark, str(tmp_path / "db"))
    db.build_text_index()
    out = db.export_serving_shards(n_shards=3)
    qvec = _emb(7)

    db.attach_local_serving()
    want_hyb = db.search_hybrid(TERMS, qvec, k=10, depth=50)
    want_txt = db.search_text(TERMS, k=10)

    srv = db.load_hybrid_server()
    assert srv.search_hybrid(TERMS, qvec, k=10, depth=50) == want_hyb
    assert srv.search_text(TERMS, k=10) == want_txt

    script = (
        "import sys, json\n"
        "from binaryvectordb_spark.operators.local_serve import "
        "LocalHybridServer\n"
        "path, terms, q = sys.argv[1], json.loads(sys.argv[2]), "
        "json.loads(sys.argv[3])\n"
        "s = LocalHybridServer.load(path)\n"
        "print(json.dumps({'h': s.search_hybrid(terms, q, k=10, depth=50),"
        " 't': s.search_text(terms, k=10)}))\n")
    proc = subprocess.run(
        [sys.executable, "-c", script, out, _json.dumps(list(TERMS)),
         _json.dumps(qvec)],
        capture_output=True, text=True, timeout=120, cwd="/root/repo")
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["h"] == _json.loads(_json.dumps(want_hyb))
    assert got["t"] == _json.loads(_json.dumps(want_txt))

    # an export made with NO text index has no bm25/ tier: loud contract
    db2 = _mkdb(spark, str(tmp_path / "db2"), n=30)
    out2 = db2.export_serving_shards(n_shards=2)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="bm25"):
        db2.load_hybrid_server(out2)


@pytest.mark.slow
def test_batch_hybrid_matches_single_query_loop(spark, tmp_path):
    """search_text_batch / search_hybrid_batch must return per-query
    results identical to the single-query loop — the batch forms exist to
    amortize the job floor, never to change answers — on both the
    distributed and the attached-local tiers."""
    db = _mkdb(spark, str(tmp_path / "db"))
    db.build_text_index()
    terms_batch = [list(TERMS), ["fast"], ["join", "sort", "window"]]
    qvecs = [_emb(3), _emb(7), _emb(11)]

    def norm(hits):
        return [(h["doc_id"], h.get("bm25_e10"), h.get("kw_rank"),
                 h.get("rrf"), h.get("vec_rank"), h["doc"]) for h in hits]

    for attached in (False, True):
        if attached:
            db.attach_local_serving()
        want_t = [norm(db.search_text(ts, k=7)) for ts in terms_batch]
        got_t = [norm(h) for h in db.search_text_batch(terms_batch, k=7)]
        assert got_t == want_t, f"text batch != loop (attached={attached})"
        want_h = [norm(db.search_hybrid(ts, q, k=7, depth=40))
                  for ts, q in zip(terms_batch, qvecs)]
        got_h = [norm(h) for h in
                 db.search_hybrid_batch(terms_batch, qvecs, k=7, depth=40)]
        assert got_h == want_h, f"hybrid batch != loop (attached={attached})"
    # and the two tiers agree with each other (transitively pinned above,
    # asserted directly for the error message)
    db.detach_local_serving()
    assert [norm(h) for h in
            db.search_hybrid_batch(terms_batch, qvecs, k=7, depth=40)] \
        == want_h


def test_db_search_phrase(spark, tmp_path):
    """db.search_phrase: adjacency-exact matching with payloads attached,
    maintained through mutations like every other index read."""
    db = _mkdb(spark, str(tmp_path / "db"))
    db.build_text_index()
    # _text builds consecutive VOCAB words, so adjacent pairs occur often
    hits = db.search_phrase(("fast", "merge"), k=5)
    assert hits and all(h["n_occurrences"] >= 1 for h in hits)
    assert all("fast merge" in h["doc"] for h in hits)
    # an upsert is visible immediately
    db.add_batch([900], ["fast merge fast merge fast merge"],
                 np.array([_emb(900)], dtype=np.float32))
    top = db.search_phrase(("fast", "merge"), k=1)[0]
    assert top["doc_id"] == 900 and top["n_occurrences"] == 3


def test_hybrid_server_maxsim_rerank_matches_db(spark, tmp_path):
    """LocalHybridServer(maxsim_rerank=True) re-orders exactly like
    db.search_hybrid(maxsim_rerank=True) — and its inlined _emb_ints copy
    (kept pyspark-import-free for serving hosts) matches the canonical
    definition token-for-token."""
    from binaryvectordb_spark.operators.local_serve import LocalHybridServer
    from binaryvectordb_spark.queries.lateinteraction import _emb_ints

    for tok in ("fast", "merge", "scan", "batch7", ""):
        assert LocalHybridServer._emb_ints(tok) == _emb_ints(tok)

    db = _mkdb(spark, str(tmp_path / "db"))
    db.build_text_index()
    db.export_serving_shards(n_shards=2)
    srv = db.load_hybrid_server()
    qvec = _emb(7)
    want = db.search_hybrid(TERMS, qvec, k=10, depth=50, maxsim_rerank=True)
    got = srv.search_hybrid(TERMS, qvec, k=10, depth=50, maxsim_rerank=True)
    assert got == want
