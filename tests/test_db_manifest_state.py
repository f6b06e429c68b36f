"""The manifest holds the whole DB version: the documents schema, the
table stats and the IVF partitioner (model dir, build version, churn
counter) ride each `_log/v*.json` beside the tables and side indexes.
So restore(v) brings back the partitioner v's index was assigned with, a
handle follows another handle's rebuild, a failed build leaves the old
centroids serving, and `_meta.json` is write-once config."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from binaryvectordb_spark import db as db_mod
from binaryvectordb_spark.db import BinaryVectorDB

DIM = 16
ARGS = {"n_clusters": 8, "nprobe": 1}


def _vecs(seed, n, shift=0.0):
    rng = np.random.RandomState(seed)
    return np.clip(rng.uniform(-1, 1, (n, DIM)) + shift, -1, 1
                   ).astype("float32")


def _add(db, ids, seed, shift=0.0):
    ids = list(ids)
    db.add_batch(ids, [f"d{i}" for i in ids], _vecs(seed, len(ids), shift))


def _ivf_db(spark, folder, n=300, **kw):
    """An ivf DB: ingest (v1) and the automatic first build (v2)."""
    db = BinaryVectorDB(spark, folder, dim=DIM, buckets=4, index_type="ivf",
                        index_args=ARGS, **kw)
    _add(db, range(n), seed=0)
    return db


QUERIES = _vecs(7, 12)


def _answers(db):
    """Single-query top-5 at nprobe 1: each query scans only the cluster
    its nearest served centroid names."""
    return [[h["doc_id"] for h in db.search(q.tolist(), k=5, nprobe=1)]
            for q in QUERIES]


def _misassigned(db):
    """doc_ids whose stored cluster is not their nearest served centroid
    (the centroid the DB probes with for the row's own int8 vector)."""
    emb = {r["doc_id"]: np.asarray(r["emb_int8"], dtype=np.float64) / 127
           for r in db.docs_df().select("doc_id", "emb_int8").collect()}
    return sorted(r["doc_id"] for r in
                  db.index_df().select("doc_id", "cluster").collect()
                  if db._probe_clusters(emb[r["doc_id"]], 1)[0]
                  != r["cluster"])


def _model_dirs(folder):
    return {e for e in os.listdir(folder) if e.startswith("ivf_model")}


def _named_models(db, last):
    vs = [h["version"] for h in db.history()][-last:]
    return {m["ivf"]["model"] for m in map(db._manifest_of, vs) if m["ivf"]}


def test_restore_past_build_ivf_serves_the_versions_partitioner(spark,
                                                                tmp_path):
    db = _ivf_db(spark, str(tmp_path / "db"), retain_versions=8)
    _add(db, range(40), seed=1, shift=0.6)          # v3: 40 rows of churn
    v = db._manifest_version()
    want, drift = _answers(db), db.ivf_drift()
    assert drift["mutated_rows"] == 40 and _misassigned(db) == []
    _add(db, range(300, 360), seed=2, shift=0.6)
    db.build_ivf()                                  # new centroids
    db.restore(v)
    for h in (db, BinaryVectorDB(spark, db.folder)):
        assert _misassigned(h) == []
        assert _answers(h) == want
        assert h.ivf_drift() == drift


def test_handle_follows_another_handles_rebuild(spark, tmp_path):
    folder = str(tmp_path / "db")
    a = _ivf_db(spark, folder)
    _answers(a)                                     # memoizes the model
    b = BinaryVectorDB(spark, folder)
    _add(b, range(300, 360), seed=2, shift=0.6)
    b.build_ivf()
    assert _misassigned(a) == []
    assert _answers(a) == _answers(BinaryVectorDB(spark, folder))


def test_failed_ivf_build_keeps_old_centroids(spark, tmp_path, monkeypatch):
    folder = str(tmp_path / "db")
    db = _ivf_db(spark, folder)
    _add(db, range(300, 360), seed=2, shift=0.6)    # a rebuild would move
    want = _answers(db)

    def boom(*a, **kw):
        raise RuntimeError("injected crash at the commit")

    monkeypatch.setattr(db_mod, "commit_version", boom)
    with pytest.raises(RuntimeError, match="injected"):
        db.build_ivf()
    monkeypatch.undo()
    for h in (db, BinaryVectorDB(spark, folder)):
        assert _misassigned(h) == []
        assert _answers(h) == want
    # the failed build's model dir is a stray the next commit deletes
    db.remove_docs([0])
    assert _model_dirs(folder) == _named_models(db, 1)


def test_meta_json_is_write_once_config(spark, tmp_path):
    folder = str(tmp_path / "db")
    db = BinaryVectorDB(spark, folder, dim=DIM, buckets=4, index_type="ivf",
                        index_args=ARGS, retain_versions=2)
    with open(os.path.join(folder, "_meta.json"), "rb") as f:
        meta = f.read()
    rows = [(i, f"d{i}", [float(x) for x in e], ("en", "de")[i % 2])
            for i, e in enumerate(_vecs(0, 120))]
    db.add_batch_df(spark.createDataFrame(
        rows, "doc_id long, doc string, embedding array<float>, "
              "lang string"), meta_cols=["lang"])
    _add(db, range(200, 220), seed=1, shift=0.6)
    db.remove_docs([3, 4])
    v = db._manifest_version()
    db.build_ivf()
    db.build_text_index()
    db.restore(v)
    with open(os.path.join(folder, "_meta.json"), "rb") as f:
        assert f.read() == meta
    assert not os.path.exists(os.path.join(folder, "_stats"))
    head = db._manifest_of(db._manifest_version())
    assert head["stats"]["n_rows"] == 138
    assert "lang" in [f["name"] for f in
                      json.loads(head["docs_schema"])["fields"]]
    assert _model_dirs(folder) == _named_models(db, 3)


def test_upsert_into_empty_buckets_keeps_metadata_columns(spark, tmp_path):
    """A batch whose touched buckets are all empty commits the union of
    the base docs_schema and its own: the metadata column the other
    buckets hold stays readable and filterable."""
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=DIM, buckets=4)
    rows = [(i, f"d{i}", [float(x) for x in e], lang)
            for i, e, lang in zip((0, 4, 8), _vecs(0, 3), ("en", "de", "en"))]
    db.add_batch_df(spark.createDataFrame(
        rows, "doc_id long, doc string, embedding array<float>, "
              "lang string"), meta_cols=["lang"])      # bucket 0 only
    _add(db, [1, 5], seed=1)                           # empty bucket 1
    assert db.docs_df().columns == ["doc_id", "doc", "doc_kind", "emb_int8",
                                    "lang"]
    langs = {r["doc_id"]: r["lang"] for r in db.docs_df().collect()}
    assert langs == {0: "en", 4: "de", 8: "en", 1: None, 5: None}
    hits = db.search(_vecs(0, 1)[0].tolist(), k=5, filter={"lang": "en"})
    assert sorted(h["doc_id"] for h in hits) == [0, 8]
