"""Golden CRUD lifecycle ported from the reference's de-facto behavioral spec
(/root/reference/examples/add_update_delete.py, SURVEY §5): add -> search ->
add more -> upsert -> search reflects update -> delete -> gone.  Plus the
error-semantics inventory (SURVEY §2.13)."""

from __future__ import annotations

import json

import numpy as np
import pytest

from binaryvectordb_spark.db import BinaryVectorDB, local_embedder


@pytest.fixture()
def db(spark, tmp_path):
    return BinaryVectorDB(spark, str(tmp_path / "db"), dim=32)


D2T = lambda x: x["title"] + " " + x["text"]  # noqa: E731  (README.md:109 shape)


def test_crud_lifecycle(spark, db):
    # add 2 docs (example :23-32)
    db.add_documents([1, 2],
                     [{"title": "Paris", "text": "capital of France"},
                      {"title": "Berlin", "text": "capital of Germany"}],
                     docs2text=D2T)
    assert len(db) == 2
    hits = db.search("Paris capital France", k=2)
    assert hits[0]["doc_id"] == 1

    # add 1 more (:45-53)
    db.add_documents([3], [{"title": "Rome", "text": "capital of Italy"}],
                     docs2text=D2T)
    assert len(db) == 3

    # upsert doc 2 (:68-76) — delete-then-insert, not append
    db.add_documents([2], [{"title": "Madrid", "text": "capital of Spain"}],
                     docs2text=D2T)
    assert len(db) == 3
    hits = db.search("Madrid capital Spain", k=1)
    assert hits[0]["doc_id"] == 2
    # typed payloads: the ORIGINAL dict comes back (reference stores/returns
    # arbitrary objects, :73,:153), not its JSON serialization
    assert hits[0]["doc"] == {"title": "Madrid", "text": "capital of Spain"}

    # delete doc 2 (:92-100)
    db.remove_doc(2)
    assert len(db) == 2
    hits = db.search("Madrid capital Spain", k=3)
    assert all(h["doc_id"] != 2 for h in hits)


def test_search_result_shape(db):
    db.add_documents([1], ["hello world"])
    h = db.search("hello world", k=1)[0]
    # hit dict shape mirrors the reference output (:247-252)
    assert set(h) == {"doc_id", "score_hamming", "score_binary",
                      "score_cossim", "doc"}
    assert h["score_hamming"] == 0  # identical text -> identical bits


def test_pre_embedded_add_batch(db):
    emb = local_embedder(["x", "y", "z"], 32)
    db.add_batch(np.array([10, 11, 12]), ["x", "y", "z"], emb)
    assert len(db) == 3
    assert db.search(emb[1], k=1)[0]["doc_id"] == 11


def test_error_semantics(spark, db, tmp_path):
    with pytest.raises(Exception, match="empty"):
        db.search("anything")                              # :190-191
    with pytest.raises(ValueError):
        db.add_documents([1], ["a", "b"])                  # :78-79
    with pytest.raises(ValueError):
        db.add_documents(["x"], ["a"])                     # :95-96
    with pytest.raises(ValueError):
        db.add_documents([1], [{"t": 1}], docs2text=lambda x: 1)   # :88-89
    with pytest.raises(ValueError):
        db.add_batch(np.array([1.5]), ["a"], local_embedder(["a"], 32))  # :131-132
    db.add_documents([1], ["a"])
    with pytest.raises(ValueError):
        db.remove_doc(99)                                  # :159-160
    bad = tmp_path / "not_a_db"
    bad.mkdir()
    (bad / "junk.txt").write_text("x")
    with pytest.raises(Exception, match="_meta.json"):
        BinaryVectorDB(spark, str(bad))                    # :43-45


def test_persistence_roundtrip(spark, tmp_path):
    p = str(tmp_path / "db")
    db = BinaryVectorDB(spark, p, dim=16)
    db.add_documents([7], ["persist me"])
    db2 = BinaryVectorDB(spark, p)
    assert db2.dim == 16
    assert len(db2) == 1
    assert db2.search("persist me", k=1)[0]["doc_id"] == 7


def test_two_instances_same_folder_stay_consistent(spark, tmp_path):
    """Mutations through one instance are visible to another on the same
    folder in the same session — refreshByPath drops every cache entry
    touching the path (the reference has no multi-process story at all,
    README.md:174)."""
    p = str(tmp_path / "shared")
    a = BinaryVectorDB(spark, p, dim=16)
    a.add_documents([1, 2], ["paris france", "berlin germany"])
    a.search("paris", k=1)                     # warm a's cache
    b = BinaryVectorDB(spark, p)
    b.search("berlin", k=1)                    # warm b's cache
    b.add_documents([9], ["madrid spain"])
    assert len(a) == 3                         # a sees b's write
    assert a.search("madrid spain", k=1)[0]["doc_id"] == 9
    a.remove_doc(9)
    assert len(b) == 2                         # b sees a's delete
    assert all(h["doc_id"] != 9 for h in b.search("madrid", k=3))


def test_distributed_ingest_matches_driver_side(spark, tmp_path):
    """add_documents_df (mapInPandas executor-side embedding) produces the
    same store as the driver-side add_documents for the same texts — the
    local embedder is process-independent by construction."""
    texts = [f"doc number {i} about topic {i % 5}" for i in range(40)]
    a = BinaryVectorDB(spark, str(tmp_path / "driver_side"), dim=24)
    a.add_documents(list(range(40)), texts)

    b = BinaryVectorDB(spark, str(tmp_path / "distributed"), dim=24)
    df = spark.createDataFrame(list(zip(range(40), texts)),
                               "doc_id: long, text: string")
    b.add_documents_df(df)

    assert len(b) == 40
    ia = {r.doc_id: r.vec for r in a.index_df().collect()}
    ib = {r.doc_id: r.vec for r in b.index_df().collect()}
    assert ia == ib                                   # identical packed bits
    # same search results through both stores
    ha = [h["doc_id"] for h in a.search("topic 3 doc", k=5)]
    hb = [h["doc_id"] for h in b.search("topic 3 doc", k=5)]
    assert ha == hb

    # distributed upsert: overwrite half the docs through the df path
    df2 = spark.createDataFrame([(i, "replaced text") for i in range(20)],
                                "doc_id: long, text: string")
    b.add_documents_df(df2)
    assert len(b) == 40                               # upsert, not append
    assert "replaced" in b.search("replaced text", k=1)[0]["doc"]


def test_search_batch_matches_single(db):
    docs = {i: f"doc number {i} about topic {i % 3}" for i in range(20)}
    db.add_documents(list(docs), list(docs.values()))
    queries = ["doc number 3 topic", "topic 2 doc", [0.5] * 32]
    batched = db.search_batch(queries, k=5)
    assert len(batched) == 3
    for q, hits in zip(queries, batched):
        single = db.search(q, k=5)
        assert [h["doc_id"] for h in hits] == [h["doc_id"] for h in single]
        assert [h["score_cossim"] for h in hits] == \
            [h["score_cossim"] for h in single]


def test_compact_preserves_content(db):
    db.add_documents(list(range(10)), [f"text {i}" for i in range(10)])
    for i in range(10, 14):  # several tiny upsert batches -> file sprawl
        db.add_documents([i], [f"text {i}"])
    before = sorted((r.doc_id, r.doc) for r in db.docs_df().collect())
    db.compact(target_partitions=2)
    after = sorted((r.doc_id, r.doc) for r in db.docs_df().collect())
    assert before == after
    assert len(db) == 14
    import glob
    import os
    # bucketed layout: compaction pins file count to one per bucket dir
    files = glob.glob(
        os.path.join(db.folder, "documents", "bucket=*", "*.parquet"))
    buckets = glob.glob(os.path.join(db.folder, "documents", "bucket=*"))
    assert len(files) == len(buckets)
    assert db.search("text 3", k=1)[0]["doc_id"] in range(14)


def _bucket_snapshot(folder: str, name: str) -> dict[str, bytes]:
    """bucket=K -> concatenated bytes of its parquet files; on the IVF
    two-level layout (cluster=C/bucket=K) files are aggregated per doc_id
    bucket K across clusters — the bucket stays the mutation unit."""
    import glob
    import os
    out: dict[str, bytes] = {}
    files = (glob.glob(os.path.join(folder, name, "bucket=*", "*.parquet"))
             + glob.glob(os.path.join(folder, name, "cluster=*", "bucket=*",
                                      "*.parquet")))
    for f in sorted(files):
        b = os.path.basename(os.path.dirname(f))
        with open(f, "rb") as fh:
            out[b] = out.get(b, b"") + fh.read()
    return out


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB mutation contract: an upsert of one doc_id leaves every
    bucket file it does not own byte-identical on disk (no read, no
    rewrite) — the partial-rewrite fix for the reference's full index.bin
    rewrite per save (BinaryVectorDB/BinaryVectorDB.py:165-172)."""
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=32, buckets=8)
    db.add_documents(list(range(16)), [f"text {i}" for i in range(16)])
    before_idx = _bucket_snapshot(db.folder, "index")
    before_docs = _bucket_snapshot(db.folder, "documents")
    assert len(before_idx) == 8  # ids 0..15 cover all 8 buckets
    db.add_documents([3], ["updated text three"])  # touches bucket=3 only
    after_idx = _bucket_snapshot(db.folder, "index")
    after_docs = _bucket_snapshot(db.folder, "documents")
    for b in before_idx:
        if b == "bucket=3":
            assert after_docs[b] != before_docs[b]
        else:
            assert after_idx[b] == before_idx[b], f"{b} was rewritten"
            assert after_docs[b] == before_docs[b], f"{b} was rewritten"
    # content is the merged corpus, not just the touched bucket
    rows = {r.doc_id: r.doc for r in db.docs_df().collect()}
    assert len(rows) == 16 and rows[3] == "updated text three"
    # delete also touches only its bucket
    db.remove_docs([5, 13])  # both in bucket=5
    final_idx = _bucket_snapshot(db.folder, "index")
    for b in after_idx:
        if b != "bucket=5":
            assert final_idx[b] == after_idx[b], f"{b} was rewritten by delete"
    assert len(db) == 14


def test_delete_everything_empties_db(spark, tmp_path):
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=32, buckets=4)
    db.add_documents([1, 2, 3], ["a", "b", "c"])
    db.remove_docs([1, 2, 3])
    assert len(db) == 0
    with pytest.raises(Exception, match="[Ee]mpty"):
        db.search("anything", k=1)
    # and the DB is usable again after re-adding
    db.add_documents([7], ["seven"])
    assert len(db) == 1


@pytest.mark.slow
def test_ivf_full_probe_matches_flat_exactly(spark, tmp_path):
    """index_type='ivf' with nprobe = n_clusters probes every partition, so
    results must be IDENTICAL to the flat brute-force cascade — the pruning
    is the only approximation in the IVF path."""
    docs = {i: f"document {i} topic {i % 5} words {i * 7 % 11}"
            for i in range(40)}
    flat = BinaryVectorDB(spark, str(tmp_path / "flat"), dim=32)
    flat.add_documents(list(docs), list(docs.values()))
    ivf = BinaryVectorDB(spark, str(tmp_path / "ivf"), dim=32,
                         index_type="ivf",
                         index_args={"n_clusters": 4, "nprobe": 4})
    ivf.add_documents(list(docs), list(docs.values()))
    for q in ["document 3 topic", "words 9", [0.25] * 32]:
        assert ivf.search(q, k=5) == flat.search(q, k=5)
    assert ivf.search_batch(["document 3 topic", "words 9"], k=5) == \
        flat.search_batch(["document 3 topic", "words 9"], k=5)


def test_ivf_prunes_and_keeps_recall(spark, tmp_path):
    """nprobe=1 scans a strict subset of the index; the top hit for a query
    that IS a stored document must still be that document (its own cluster
    is always the nearest probe)."""
    docs = {i: f"document {i} topic {i % 5}" for i in range(40)}
    ivf = BinaryVectorDB(spark, str(tmp_path / "ivf"), dim=32,
                         index_type="ivf",
                         index_args={"n_clusters": 4, "nprobe": 1})
    ivf.add_documents(list(docs), list(docs.values()))
    idx = ivf.index_df()
    assert "cluster" in idx.columns
    assert idx.select("cluster").distinct().count() > 1
    hits = ivf.search("document 7 topic 2", k=3)
    assert hits[0]["doc_id"] == 7
    # pruned scan really is smaller than the corpus
    pruned = ivf._maybe_prune_index(
        idx, [ivf.embed_fn(["document 7 topic 2"])[0]], 1)
    assert 0 < pruned.count() < 40


def test_ivf_upsert_assigns_cluster_incrementally(spark, tmp_path):
    """After the initial build, new docs get cluster ids from the trained
    model (no retrain, partial bucket rewrite preserved) and are findable."""
    ivf = BinaryVectorDB(spark, str(tmp_path / "ivf"), dim=32, buckets=8,
                         index_type="ivf",
                         index_args={"n_clusters": 3, "nprobe": 3})
    ivf.add_documents(list(range(20)), [f"text {i}" for i in range(20)])
    before = _bucket_snapshot(ivf.folder, "index")
    ivf.add_documents([100], ["a brand new document"])   # bucket 100%8=4
    after = _bucket_snapshot(ivf.folder, "index")
    untouched = [b for b in before if b != "bucket=4"]
    assert untouched and all(after[b] == before[b] for b in untouched)
    row = ivf.index_df().where("doc_id = 100").collect()[0]
    assert row["cluster"] is not None
    assert ivf.search("a brand new document", k=1)[0]["doc_id"] == 100
    # delete keeps working on the cluster-bearing schema
    ivf.remove_docs([100])
    assert len(ivf) == 20


def test_typed_payload_roundtrip(spark, tmp_path):
    """Non-string payloads (reference stores any pickleable object, :73)
    round-trip: search returns the ORIGINAL Python object, not its
    serialization; str payloads are untouched."""
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=32)
    payloads = {1: {"title": "alpha report", "pages": 3, "tags": ["x", "y"]},
                2: "plain string doc about beta",
                3: [1, 2.5, "gamma"],
                4: 42}
    db.add_documents(
        list(payloads), list(payloads.values()),
        docs2text=lambda d: (d["title"] if isinstance(d, dict)
                             else d if isinstance(d, str) else json.dumps(d)))
    hits = db.search("alpha report", k=1)
    assert hits[0]["doc_id"] == 1
    assert hits[0]["doc"] == payloads[1]          # dict, not a JSON string
    assert isinstance(db.search("plain string doc beta", k=1)[0]["doc"], str)
    got = {h["doc_id"]: h["doc"]
           for hs in db.search_batch(["gamma", "alpha report"], k=4)
           for h in hs}
    assert got[3] == payloads[3] and got[4] == payloads[4]
    with pytest.raises(ValueError, match="JSON-serializable"):
        db.add_documents([9], [object()], docs2text=lambda d: "x")


def test_deferred_save_batches_merge_once(spark, tmp_path):
    """save=False buffers; save() folds every buffered batch into ONE
    merge; reads/serves flush implicitly so no add is ever invisible."""
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=32, buckets=4)
    db.add_documents([1, 2], ["one", "two"], save=False)
    db.add_documents([3], ["three"], save=False)
    db.add_documents([1], ["one updated"], save=False)   # later batch wins
    assert not db._exists("documents")                   # nothing on disk yet
    db.save()
    assert not db._pending
    rows = {r.doc_id: r.doc for r in db.docs_df().collect()}
    assert rows == {1: "one updated", 2: "two", 3: "three"}
    # implicit flush on read/serve
    db.add_documents([4], ["four"], save=False)
    assert len(db) == 4                                   # __len__ flushed
    db.add_batch([5], ["five"], db.embed_fn(["five"]), save=False)
    assert db.search("five", k=1)[0]["doc_id"] == 5       # search flushed


def test_review_regressions(spark, tmp_path):
    """Pinned fixes from the round-2 review: empty batches are no-ops,
    deferred buffers copy their embeddings, add_documents_df flushes the
    save=False buffer first, in-batch duplicate ids collapse, and single
    search rejects NaN like the batch paths."""
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=32, buckets=4)
    db.add_documents([], [])                              # no-op, no crash
    db.add_documents([1, 2], ["one", "two"])
    db.remove_docs([])                                    # no-op, no crash
    assert len(db) == 2

    # deferred buffer must not alias the caller's array
    emb = local_embedder(["three"], 32)
    db.add_batch([3], ["three"], emb, save=False)
    emb[:] = 0.0
    db.save()
    assert db.search("three", k=1)[0]["doc_id"] == 3      # original vector

    # df-ingest flushes pending first => buffered older write cannot win
    db.add_documents([4], ["stale four"], save=False)
    df = spark.createDataFrame([(4, "fresh four")], "doc_id: long, text: string")
    db.add_documents_df(df)
    assert db.get_doc(4) == "fresh four"

    # duplicate ids within one df batch collapse to one row
    dup = spark.createDataFrame([(7, "a"), (7, "b"), (8, "c")],
                                "doc_id: long, text: string")
    db.add_documents_df(dup)
    assert db.docs_df().where("doc_id = 7").count() == 1

    with pytest.raises(ValueError, match="finite"):
        bad = np.zeros(32, dtype=np.float32)
        bad[1] = np.inf
        db.search(bad, k=1)


def test_get_docs_point_read(spark, tmp_path):
    """KV point read returns original payloads, skips missing ids, and
    reads ONLY the bucket dirs owning the requested ids."""
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=32, buckets=8)
    db.add_documents([1, 2, 9], ["one", {"k": "two"}, "nine"])
    got = db.get_docs([1, 2, 777])
    assert got == {1: "one", 2: {"k": "two"}}
    assert db.get_doc(9) == "nine"
    assert db.get_doc(777) is None
    # pruned read: only buckets 1 (ids 1, 9) and 2 (id 2) are opened
    pruned = db._read_buckets("documents", db._touched_buckets([1, 2, 777]))
    assert {r.doc_id for r in pruned.select("doc_id").collect()} == {1, 2, 9}
    # unsaved adds are visible (implicit flush)
    db.add_documents([3], ["three"], save=False)
    assert db.get_doc(3) == "three"


def test_short_embed_fn_result_rejected(spark, tmp_path):
    """A custom embed_fn returning fewer vectors than texts must raise the
    same ValueError as the other ingest length checks — not an opaque
    StopIteration out of the zip."""
    def bad_embed(texts):
        from binaryvectordb_spark.db import local_embedder
        return local_embedder(texts, 32)[:-1]   # one short

    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=32)
    db.add_documents([1, 2], ["a", "b"])
    db.embed_fn = bad_embed
    with pytest.raises(ValueError, match="embed_fn returned"):
        db.search_batch(["x", "y"], k=1)


def test_frame_sample_emits_every_sampled_window(spark):
    """sample_every is honored: sample_every=1 emits EVERY stride window,
    the default (2) emits half — the sampling step is a parameter, not a
    hardcoded constant."""
    from binaryvectordb_spark.operators.multimodal import frame_sample

    payload = spark.createDataFrame(
        [(1, bytes(range(12)))], "doc_id: long, image_bytes: binary")
    all_frames = frame_sample(payload, frame_size=4, stride=2,
                              sample_every=1).collect()
    half_frames = frame_sample(payload, frame_size=4, stride=2).collect()
    # 12 bytes, window 4, stride 2 -> 5 windows; every-2nd -> idx 0,2,4
    assert [r.frame_idx for r in sorted(all_frames, key=lambda r: r.frame_idx)] \
        == [0, 1, 2, 3, 4]
    assert [r.frame_idx for r in sorted(half_frames, key=lambda r: r.frame_idx)] \
        == [0, 2, 4]
    first = next(r for r in all_frames if r.frame_idx == 1)
    assert first.frame_bytes == bytes([2, 3, 4, 5])


def test_wrong_dim_embeddings_rejected(db):
    with pytest.raises(ValueError, match="dim"):
        db.add_batch([1], ["x"], np.ones((1, 7), dtype=np.float32))


def test_search_batch_edge_cases(db):
    db.add_documents([1, 2], ["alpha text", "beta text"])
    assert db.search_batch([]) == []
    with pytest.raises(ValueError, match="dim"):
        db.search_batch([[0.5] * 7])


@pytest.mark.parametrize("n", [15, 17, 20])
def test_search_rejects_wrong_query_length(spark, tmp_path, n):
    """A query of the wrong length raises search_batch's ValueError from
    db.search too, instead of reading past a short vector's end or
    returning hits with a None cosine for a long one."""
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=16)
    db.add_documents([1, 2], ["alpha text", "beta text"])
    bad = [0.5] * n
    want = rf"query vector shape \({n},\) does not match dim=16"
    with pytest.raises(ValueError, match=want):
        db.search(bad)
    with pytest.raises(ValueError, match=want):
        db.search_batch([bad])


def test_empty_query_batch_returns_empty_frames(spark):
    import numpy as np
    from binaryvectordb_spark.operators.cascade import (
        build_doc_store,
        build_index,
        cascade_search_batch,
    )

    rng = np.random.RandomState(5)
    rows = [(i, rng.uniform(-1, 1, 16).astype(float).tolist())
            for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    index, store = build_index(emb, 16), build_doc_store(emb)
    empty = spark.createDataFrame([], "qid: long, qvec: array<float>")
    assert cascade_search_batch(index, store, 16, empty).count() == 0


def test_add_batch_df_distributed_pre_embedded(spark, tmp_path):
    """add_batch_df is the distributed twin of add_batch: same delete-then-
    insert upsert semantics, embeddings taken from a column instead of the
    driver."""
    from pyspark.sql import functions as F

    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=16)
    rng = np.random.RandomState(7)
    rows = [(i, f"doc {i}", rng.uniform(-1, 1, 16).astype(float).tolist())
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, doc string, embedding array<float>")
    db.add_batch_df(df)
    assert len(db) == 50
    # upsert: overlapping ids replace, new ids append
    db.add_batch_df(df.where("doc_id < 10")
                    .withColumn("doc", F.concat(F.lit("new "), "doc"))
                    .unionByName(df.where("doc_id = 0")
                                 .withColumn("doc_id", F.lit(100).cast("long"))))
    assert len(db) == 51
    assert db.get_doc(3) == "new doc 3"
    assert db.get_doc(100) is not None
    # search agrees with add_batch on the same data (same quantize+pack path)
    other = BinaryVectorDB(spark, str(tmp_path / "db2"), dim=16)
    other.add_batch([r[0] for r in rows], [r[1] for r in rows],
                    np.array([r[2] for r in rows], dtype=np.float32))
    q = rows[5][2]
    got = [h["doc_id"] for h in db.search(q, k=5)]
    want = [h["doc_id"] for h in other.search(q, k=5)]
    assert got == want

    with pytest.raises(ValueError, match="dim"):
        db.add_batch_df(df.withColumn("embedding", F.expr("slice(embedding, 1, 7)")))


def test_add_batch_df_null_embedding_raises(spark, tmp_path):
    """A null embedding (null input or failed cast) must be REJECTED with
    the dim-mismatch contract, not silently ingested: under ANSI
    size(NULL) is NULL, so the size predicate alone would pass null rows
    through to the index, where their NULL hamming score sorts first and
    poisons every top-k."""
    import pytest
    from pyspark.sql import functions as F

    from binaryvectordb_spark.db import BinaryVectorDB

    db = BinaryVectorDB(spark, str(tmp_path / "nulldb"), dim=4)
    rows = spark.createDataFrame(
        [(1, "ok", [0.1, 0.2, 0.3, 0.4]), (2, "bad", None)],
        "doc_id long, doc string, embedding array<float>")
    with pytest.raises(ValueError, match="null"):
        db.add_batch_df(rows)
