"""The derived indexes' state rides the DB manifest: a side-index write
becomes visible in the same commit as the data it derives from, a failed
write leaves the old index answering, restore(v) brings back the indexes
of v, and the DB's GC is the only deleter of their dirs."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from binaryvectordb_spark import db as db_mod
from binaryvectordb_spark.db import BinaryVectorDB
from binaryvectordb_spark.operators.ingest_gate import GateIndex
from binaryvectordb_spark.operators.textindex import TextIndex

DIM = 8
TERMS = ("fast", "merge", "scan")
VOCAB = ("fast", "merge", "scan", "join", "sort", "hash", "key", "window",
         "probe", "bucket", "footer", "shuffle")


def _emb(i: int) -> np.ndarray:
    return np.array([[((i * (j + 3)) % 17) / 17.0 - 0.5 for j in range(DIM)]],
                    dtype=np.float32)


def _text(i: int) -> str:
    return " ".join(VOCAB[(i * 5 + j * (1 + i % 3)) % len(VOCAB)]
                    for j in range(6 + i % 5))


def _add(db, ids, text=_text):
    db.add_batch(list(ids), [text(i) for i in ids],
                 np.concatenate([_emb(i) for i in ids]))


def _mkdb(spark, folder, n=60, **kw):
    db = BinaryVectorDB(spark, folder, dim=DIM, buckets=2, **kw)
    _add(db, range(n))
    return db


def _text_hits(db, k=10):
    return [(h["doc_id"], h["bm25_e10"], h["kw_rank"], h["doc"])
            for h in db.search_text(TERMS, k=k)]


def _probe(spark):
    return spark.createDataFrame(
        [(9001, _text(4)), (9002, _text(7) + " footer"),
         (9003, "nothing like any corpus text here")],
        "doc_id long, text string")


def _gate_rows(gi, spark):
    return sorted(tuple(r) for r in gi.gate(_probe(spark)).collect())


def _str_docs(db):
    return (db.docs_df().where(F.col("doc_kind") == "str")
            .select("doc_id", F.col("doc").alias("text")))


def _assert_no_unreferenced_dirs(db):
    """Every seg_*/tomb_* dir of a side index is named by the head
    manifest (retain_versions=0 keeps exactly one)."""
    for name in db._SIDE_DIRS:
        ix = db._side_index(name)
        p = os.path.join(db.folder, name)
        on_disk = (set() if not os.path.isdir(p) else
                   {e for e in os.listdir(p)
                    if e.startswith(("seg_", "tomb_"))})
        named = (set() if ix is None else
                 set(ix.meta["segments"]) | set(ix.meta["tombstones"]))
        assert on_disk == named, (name, on_disk, named)


def test_attached_tier_serves_built_and_rebuilt_text_index(spark, tmp_path):
    """attach_local_serving() before build_text_index(): the build is a
    commit, so the RAM tier's memo (keyed on the manifest version) picks
    the new index up — and a rebuild after more docs serves the new
    postings, equal to the detached distributed path both times."""
    db = _mkdb(spark, str(tmp_path / "db"))
    db.attach_local_serving()
    db.build_text_index()
    attached = _text_hits(db)
    db.detach_local_serving()
    assert attached == _text_hits(db) and attached

    db.attach_local_serving()
    _add(db, [500, 501], text=lambda i: "fast fast merge scan scan")
    db.build_text_index()
    attached = _text_hits(db)
    assert {500, 501} <= {h[0] for h in attached}
    db.detach_local_serving()
    assert attached == _text_hits(db)


@pytest.mark.parametrize("kind", ["text", "gate"])
def test_failed_build_keeps_old_index(spark, tmp_path, monkeypatch, kind):
    """A (re)build that raises mid-write leaves the committed index
    answering as before; the next successful commit sweeps the staged
    dirs."""
    db = _mkdb(spark, str(tmp_path / "db"))
    build = db.build_text_index if kind == "text" else db.build_gate_index
    cls = TextIndex if kind == "text" else GateIndex
    build()
    _add(db, [200, 201])  # a second segment + tombstone-free upsert
    before = (_text_hits(db) if kind == "text"
              else _gate_rows(db._gate_index(), spark))

    def boom(self, *a, **kw):
        raise RuntimeError("injected segment-write failure")

    monkeypatch.setattr(cls, "_write_segment", boom)
    with pytest.raises(RuntimeError, match="injected"):
        build()
    monkeypatch.undo()
    after = (_text_hits(db) if kind == "text"
             else _gate_rows(db._gate_index(), spark))
    assert after == before
    _add(db, [202])
    _assert_no_unreferenced_dirs(db)


def test_failed_standalone_build_keeps_old_index(spark, tmp_path,
                                                 monkeypatch):
    """A standalone TextIndex rebuild that raises over a two-segment
    index leaves both segments live (the old delete-then-swap left the
    state naming deleted dirs)."""
    folder = str(tmp_path / "ti")
    docs = spark.createDataFrame([(i, _text(i)) for i in range(30)],
                                 "doc_id long, text string")
    ti = TextIndex(spark, folder).build(docs)
    ti.add_documents(spark.createDataFrame([(100, "fast merge scan")],
                                           "doc_id long, text string"))
    assert len(ti.meta["segments"]) == 2
    before = sorted(map(tuple, ti.search(TERMS, k=10).collect()))

    def boom(self, *a, **kw):
        raise RuntimeError("injected segment-write failure")

    monkeypatch.setattr(TextIndex, "_write_segment", boom)
    with pytest.raises(RuntimeError, match="injected"):
        TextIndex(spark, folder).build(docs)
    monkeypatch.undo()
    again = TextIndex(spark, folder)
    assert sorted(map(tuple, again.search(TERMS, k=10).collect())) == before


def test_failed_commit_leaves_db_and_side_indexes_at_old_version(
        spark, tmp_path, monkeypatch):
    """An exception after the side indexes staged their new dirs but
    before the manifest link leaves the DB and both indexes at the old
    version; the next commit removes every staged dir it does not
    name."""
    db = _mkdb(spark, str(tmp_path / "db"))
    db.build_text_index()
    db.build_gate_index()
    v = db._manifest_version()
    text0, gate0 = _text_hits(db), _gate_rows(db._gate_index(), spark)
    n0 = len(db)

    def boom(*a, **kw):
        raise RuntimeError("injected crash before link(2)")

    monkeypatch.setattr(db_mod, "commit_version", boom)
    with pytest.raises(RuntimeError, match="injected"):
        _add(db, [4, 300], text=lambda i: "fast fast fast merge scan")
    with pytest.raises(RuntimeError, match="injected"):
        db.remove_docs([5, 6])
    monkeypatch.undo()
    # the staged dirs exist but nothing names them
    staged = [e for e in os.listdir(os.path.join(db.folder, "text_index"))
              if e.startswith(("seg_", "tomb_"))]
    assert len(staged) > 1
    assert db._manifest_version() == v and len(db) == n0
    assert _text_hits(db) == text0
    assert _gate_rows(db._gate_index(), spark) == gate0

    _add(db, [4, 300], text=lambda i: "fast fast fast merge scan")
    _assert_no_unreferenced_dirs(db)
    fresh = TextIndex(spark, str(tmp_path / "fresh")).build(_str_docs(db))
    assert ([h[:3] for h in _text_hits(db)]
            == sorted(map(tuple, fresh.search(TERMS, k=10).collect()),
                      key=lambda t: t[2]))


def test_restore_brings_back_side_indexes_of_version(spark, tmp_path):
    """restore(v) to a version with a text and a gate index, after later
    upserts, removes and rebuilds: search_text and gate equal a fresh
    build over v's docs."""
    db = _mkdb(spark, str(tmp_path / "db"), retain_versions=10)
    db.build_text_index()
    db.build_gate_index()
    v = db._manifest_version()
    _add(db, [1, 2, 400], text=lambda i: "merge merge scan footer")
    db.remove_docs([3, 10, 11])
    db.build_text_index()
    _add(db, [401], text=lambda i: "fast scan")
    db.restore(v)

    fresh_ti = TextIndex(spark, str(tmp_path / "fti")).build(_str_docs(db))
    fresh_gi = GateIndex(spark, str(tmp_path / "fgi")).build(_str_docs(db))
    assert ([h[:3] for h in _text_hits(db)]
            == sorted(map(tuple, fresh_ti.search(TERMS, k=10).collect()),
                      key=lambda t: t[2]))
    assert (_gate_rows(db._gate_index(), spark)
            == _gate_rows(fresh_gi, spark))
    # and the restored indexes keep being maintained by later commits
    _add(db, [402], text=lambda i: "fast fast merge")
    fresh_ti = TextIndex(spark, str(tmp_path / "fti2")).build(_str_docs(db))
    assert 402 in {h[0] for h in _text_hits(db, k=200)}
    assert ([h[:3] for h in _text_hits(db)]
            == sorted(map(tuple, fresh_ti.search(TERMS, k=10).collect()),
                      key=lambda t: t[2]))


def test_restore_to_version_whose_side_dirs_are_gone_raises(spark,
                                                            tmp_path):
    """retain_versions=0: two text-index builds leave v's data files on
    disk but sweep the first build's segment.  restore(v) must refuse
    like any vacuumed version, not commit state naming a missing dir,
    and the DB keeps answering and taking writes."""
    db = _mkdb(spark, str(tmp_path / "db"))
    db.build_text_index()
    v = db._manifest_version()
    db.build_text_index()
    head = db._manifest_version()
    with pytest.raises(ValueError, match="has been vacuumed"):
        db.restore(v)
    assert db._manifest_version() == head
    fresh = TextIndex(spark, str(tmp_path / "fresh")).build(_str_docs(db))
    assert ([h[:3] for h in _text_hits(db)]
            == sorted(map(tuple, fresh.search(TERMS, k=10).collect()),
                      key=lambda t: t[2]))
    _add(db, [500], text=lambda i: "fast fast merge scan")
    db.remove_docs([4])
    hits = {h[0] for h in _text_hits(db, k=200)}
    assert 500 in hits and 4 not in hits
    _assert_no_unreferenced_dirs(db)


def test_standalone_log_keeps_only_head(spark, tmp_path):
    """A standalone store prunes superseded log versions on commit; a
    handle two commits behind, whose next version name is free again,
    still loses and leaves the winner's state."""
    folder = str(tmp_path / "ti")
    docs = spark.createDataFrame([(i, _text(i)) for i in range(20)],
                                 "doc_id long, text string")
    a = TextIndex(spark, folder).build(docs)
    b = TextIndex(spark, folder)
    a.add_documents(docs.limit(2))
    a.remove([5])
    log = os.path.join(folder, "_log")
    assert os.listdir(log) == [f"v{a.version:010d}.json"]
    with pytest.raises(Exception, match="concurrent TextIndex writer"):
        b.remove([6])
    assert os.listdir(log) == [f"v{a.version:010d}.json"]
    c = TextIndex(spark, folder)
    assert c.meta == a.meta
    assert (sorted(map(tuple, c.search(TERMS, k=10).collect()))
            == sorted(map(tuple, a.search(TERMS, k=10).collect())))


def test_stale_standalone_handle_keeps_winner_state(spark, tmp_path):
    """Two standalone handles: the stale one's commit loses the link(2)
    race, and the winner's segments survive its staged writes."""
    folder = str(tmp_path / "gi")
    docs = spark.createDataFrame([(i, _text(i)) for i in range(20)],
                                 "doc_id long, text string")
    a = GateIndex(spark, folder).build(docs)
    b = GateIndex(spark, folder)
    a.upsert_batch(docs.limit(2))
    with pytest.raises(Exception, match="concurrent GateIndex writer"):
        b.upsert_batch(docs.limit(3))
    c = GateIndex(spark, folder)
    assert c.meta == a.meta
    assert _gate_rows(c, spark) == _gate_rows(a, spark)
