"""Transaction-log semantics: atomic cross-tier commits, crash safety,
garbage collection, history, and legacy (pre-log) adoption.

The reference has no transactional story at all — a delete rewrites the
whole faiss index in place (BinaryVectorDB/BinaryVectorDB.py:165-172) and
README.md:174 concedes "multi-process safety, rollbacks etc." are missing.
SURVEY §1.3 names Delta MERGE as the target shape; this log is that shape
on plain parquet: a mutation stages files invisibly, then one atomic
manifest rename makes every touched bucket of BOTH tiers visible at once.
"""

import glob
import hashlib
import json
import os

import numpy as np
import pytest

from binaryvectordb_spark.db import BinaryVectorDB, ConcurrentWriteError


def _manifest_files(folder):
    return sorted(glob.glob(os.path.join(folder, "_log", "v*.json")))


def _data_files(folder, name):
    # bucket=K/ for plain tables, cluster=C/bucket=K/ for the IVF index
    return ({os.path.basename(f)
             for f in glob.glob(os.path.join(folder, name, "bucket=*", "*"))}
            | {os.path.basename(f) for f in glob.glob(
                os.path.join(folder, name, "cluster=*", "bucket=*", "*"))})


def _referenced(db, name):
    return {f for fl in (db._manifest_tables()[name]).values() for f in fl}


def _md5s(folder, name):
    out = {}
    for f in glob.glob(os.path.join(folder, name, "bucket=*", "*.parquet")):
        with open(f, "rb") as fh:
            out[os.path.relpath(f, folder)] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_one_commit_per_mutation_covers_both_tiers(spark, tmp_path):
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=32, buckets=4)
    db.add_documents([1, 2, 3], ["one", "two", "three"])
    assert len(_manifest_files(folder)) == 1
    m = json.load(open(_manifest_files(folder)[-1]))
    # a single manifest lists BOTH tables: the cross-tier commit point
    assert set(m["tables"]) == {"index", "documents"}
    db.add_documents([2, 9], ["TWO", "nine"])     # upsert
    assert len(_manifest_files(folder)) == 2
    db.remove_docs([1])                           # delete
    assert len(_manifest_files(folder)) == 3
    hist = db.history()
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert hist[-1]["tables"]["index"] == hist[-1]["tables"]["documents"]


def test_crash_before_commit_preserves_old_version(spark, tmp_path):
    """A failure after staging but before the manifest rename must leave
    readers on the previous version for BOTH tiers, and the strays must be
    collected by the next successful commit."""
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=32, buckets=4)
    db.add_documents([1, 2], ["one", "two"])
    before = json.load(open(_manifest_files(folder)[-1]))

    real_commit = db._commit
    def boom(updates, expect=None):
        raise RuntimeError("simulated crash between stage and commit")
    db._commit = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        db.add_documents([2, 3], ["TWO", "three"])
    db._commit = real_commit

    # nothing moved: same manifest, old values visible, new id invisible
    assert json.load(open(_manifest_files(folder)[-1])) == before
    assert len(db) == 2
    assert db.get_doc(2) == "two"
    assert db.get_doc(3) is None
    # staged strays exist on disk but are unreferenced...
    assert _data_files(folder, "index") > _referenced(db, "index")
    # ...and the next commit garbage-collects them
    db.add_documents([4], ["four"])
    assert _data_files(folder, "index") == _referenced(db, "index")
    assert _data_files(folder, "documents") == _referenced(db, "documents")
    assert len(db) == 3 and db.get_doc(2) == "two"


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    """Partial rewrite through the log: files of untouched buckets stay
    byte-identical AND keep their manifest entries (no re-stage)."""
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=32, buckets=8)
    db.add_documents(list(range(16)), [f"doc {i}" for i in range(16)])
    before = _md5s(folder, "documents")
    db.add_documents([3], ["doc three updated"])  # touches bucket 3 only
    after = _md5s(folder, "documents")
    untouched_before = {p: h for p, h in before.items() if "bucket=3" not in p}
    untouched_after = {p: h for p, h in after.items() if "bucket=3" not in p}
    assert untouched_before == untouched_after
    assert {p for p in before if "bucket=3" in p} != \
           {p for p in after if "bucket=3" in p}


def test_gc_keeps_disk_equal_to_manifest(spark, tmp_path):
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=32, buckets=4)
    db.add_documents(list(range(8)), [f"doc {i}" for i in range(8)])
    for i in range(3):  # churn: upserts + a delete + compaction
        db.add_documents([i], [f"doc {i} v2"])
    db.remove_docs([5])
    db.compact()
    for name in ("index", "documents"):
        assert _data_files(folder, name) == _referenced(db, name)
    # manifests are all retained (audit trail)
    assert [h["version"] for h in db.history()] == list(range(1, 7))


def test_full_delete_drops_tables(spark, tmp_path):
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=32, buckets=4)
    db.add_documents([1, 2], ["one", "two"])
    db.remove_docs([1, 2])
    assert len(db) == 0
    with pytest.raises(Exception, match="empty"):
        db.search("one", k=1)
    # tables dropped from the manifest and the data dirs GC'd away
    assert db._manifest_tables() == {}
    assert not os.path.isdir(os.path.join(folder, "index"))
    # and the DB is still usable afterwards
    db.add_documents([7], ["seven"])
    assert db.search("seven", k=1)[0]["doc_id"] == 7


def test_time_travel_reads_prior_version(spark, tmp_path):
    """retain_versions keeps superseded versions' files on disk; a versioned
    read plans against exactly that manifest's file list (Delta
    `VERSION AS OF`)."""
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=32, buckets=4, retain_versions=2)
    db.add_documents([1, 2], ["one", "two"])             # v1
    db.add_documents([2, 3], ["TWO", "three"])           # v2 (upsert)
    db.remove_docs([1])                                  # v3
    # live head: {2: TWO, 3: three}
    assert db.get_doc(2) == "TWO" and db.get_doc(1) is None
    v1 = {r.doc_id: r.doc for r in db.docs_df(version=1).collect()}
    assert v1 == {1: "one", 2: "two"}
    v2 = {r.doc_id: r.doc for r in db.docs_df(version=2).collect()}
    assert v2 == {1: "one", 2: "TWO", 3: "three"}
    assert db.index_df(version=1).count() == 2
    with pytest.raises(ValueError, match="no committed version 99"):
        db.docs_df(version=99)


def test_default_retention_vacuums_eagerly(spark, tmp_path):
    """retain_versions=0 (the reference-faithful default: latest state only)
    GCs superseded files at commit; a versioned read of an aged-out version
    fails with an explicit 'vacuumed' error, not a silent partial result."""
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=32, buckets=4)
    db.add_documents([1, 2], ["one", "two"])             # v1
    db.add_documents([1], ["ONE"])                       # v2 supersedes v1
    assert _data_files(folder, "documents") == _referenced(db, "documents")
    with pytest.raises(ValueError, match="vacuumed"):
        db.docs_df(version=1)
    assert [h["version"] for h in db.history()] == [1, 2]  # audit trail stays


@pytest.mark.slow
def test_restore_rolls_back_and_moves_history_forward(spark, tmp_path):
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=32, buckets=4, retain_versions=3)
    db.add_documents([1, 2], ["one", "two"])             # v1
    db.add_documents([2], ["TWO"])                       # v2
    db.remove_docs([1])                                  # v3
    assert len(db) == 1
    db.restore(1)                                        # commits v4 == v1
    assert db._manifest_version() == 4
    assert len(db) == 2
    assert db.get_doc(1) == "one" and db.get_doc(2) == "two"
    # restored files are head-referenced: churn past the window keeps them
    db.add_documents([9], ["nine"])                      # v5
    db.add_documents([10], ["ten"])                      # v6
    db.add_documents([11], ["eleven"])                   # v7
    db.add_documents([12], ["twelve"])                   # v8
    assert db.get_doc(1) == "one"
    assert db.search("one", k=1)[0]["doc_id"] == 1


def test_vacuum_reclaims_retained_versions(spark, tmp_path):
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=32, buckets=4, retain_versions=5)
    db.add_documents([1, 2], ["one", "two"])             # v1
    db.add_documents([1], ["ONE"])                       # v2
    assert db.docs_df(version=1) is not None             # retained
    with pytest.raises(ValueError, match="keep_last"):
        db.vacuum(0)
    db.vacuum(1)                                         # latest only
    with pytest.raises(ValueError, match="vacuumed"):
        db.docs_df(version=1)
    assert _data_files(folder, "documents") == _referenced(db, "documents")
    assert db.get_doc(1) == "ONE"                        # head unharmed
    assert [h["version"] for h in db.history()] == [1, 2]


def test_concurrent_writer_aborts_instead_of_lost_update(spark, tmp_path):
    """Two handles on one folder: the slower writer's merge was computed
    against a superseded snapshot — committing it would silently drop the
    faster writer's rows (lost update).  It must abort; a retry on the
    fresh snapshot then succeeds and preserves BOTH writers' rows."""
    folder = str(tmp_path / "db")
    a = BinaryVectorDB(spark, folder, dim=32, buckets=4)
    b = BinaryVectorDB(spark, folder, dim=32, buckets=4)
    a.add_documents([1], ["one"])                        # v1, seen by both

    # interleave: b captures its snapshot, then a commits first
    real_commit = b._commit
    def racy_commit(updates, expect=None):
        a.add_documents([2], ["two"])                    # a wins the race
        real_commit(updates, expect=expect)
    b._commit = racy_commit
    with pytest.raises(ConcurrentWriteError, match="aborted"):
        b.add_documents([3], ["three"])
    b._commit = real_commit

    # b's aborted rows are invisible; both committed writers' rows live
    assert len(a) == 2
    assert a.get_doc(3) is None
    b.add_documents([3], ["three"])                      # retry succeeds
    assert len(b) == 3
    assert b.get_doc(1) == "one" and b.get_doc(2) == "two"
    # the aborted attempt's staged strays were GC'd by the retry's commit
    assert _data_files(folder, "documents") == _referenced(b, "documents")
    assert _data_files(folder, "index") == _referenced(b, "index")


def test_ivf_build_commits_through_log(spark, tmp_path):
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=32, buckets=4,
                        index_type="ivf", index_args={"n_clusters": 2})
    db.add_documents(list(range(10)), [f"doc number {i}" for i in range(10)])
    # ingest commit + automatic IVF build commit
    assert db._manifest_version() == 2
    assert db.search("doc number 4", k=1)[0]["doc_id"] == 4
    db.remove_docs([4])
    assert len(db) == 9
    assert _data_files(folder, "index") == _referenced(db, "index")


def test_diff_versions_cdc(spark, tmp_path):
    """db.diff_versions: CDC classification between committed snapshots —
    upserted docs read as changed, new ids as added, removed ids as
    removed, untouched ids as unchanged; diffing a version against
    itself is all-unchanged; v_new defaults to the live head."""
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=32, buckets=4, retain_versions=4)
    db.add_documents([1, 2, 3], ["one", "two", "three"])   # v1
    db.add_documents([2, 4], ["TWO", "four"])              # v2
    db.remove_docs([3])                                    # v3

    d12 = {r.doc_id: r.change_type
           for r in db.diff_versions(1, 2).collect()}
    assert d12 == {1: "unchanged", 2: "changed", 3: "unchanged",
                   4: "added"}
    d13 = {r.doc_id: r.change_type for r in db.diff_versions(1).collect()}
    assert d13 == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added"}
    same = {r.change_type for r in db.diff_versions(2, 2).collect()}
    assert same == {"unchanged"}
    with pytest.raises(ValueError, match="no committed version"):
        db.diff_versions(99)


def test_export_snapshot_clones_a_version(spark, tmp_path):
    """export_snapshot: the clone opens as an independent DB holding
    exactly the chosen version's rows; mutating it leaves the source
    untouched; a crashed export (simulated half-written .tmp) never
    shadows the real target; exporting an older version makes THAT
    snapshot the clone's v1."""
    src = BinaryVectorDB(spark, str(tmp_path / "src"), dim=32, buckets=4,
                         retain_versions=3)
    src.add_documents([1, 2, 3], ["one", "two", "three"])   # v1
    src.add_documents([2, 9], ["TWO", "nine"])              # v2

    src.export_snapshot(str(tmp_path / "clone"))
    # the clone is in the layout this engine writes, so it opens
    with open(os.path.join(str(tmp_path / "clone"), "_meta.json")) as f:
        clone_meta = json.load(f)
    with open(os.path.join(src.folder, "_meta.json")) as f:
        assert clone_meta == json.load(f)
    clone = BinaryVectorDB(spark, str(tmp_path / "clone"))
    assert len(clone) == 4
    assert clone.get_doc(2) == "TWO" and clone.get_doc(9) == "nine"
    assert [h["version"] for h in clone.history()] == [1]
    assert all(v == 0 for v in clone.verify_integrity().values())

    clone.remove_docs([1, 2, 3, 9][:2])
    assert len(clone) == 2 and len(src) == 4  # isolation
    assert src.get_doc(1) == "one"

    src.export_snapshot(str(tmp_path / "clone_v1"), version=1)
    old = BinaryVectorDB(spark, str(tmp_path / "clone_v1"), dim=32,
                         buckets=4)
    assert {r.doc_id: r.doc for r in old.docs_df().collect()} == {
        1: "one", 2: "two", 3: "three"}

    with pytest.raises(ValueError, match="exists"):
        src.export_snapshot(str(tmp_path / "clone"))
