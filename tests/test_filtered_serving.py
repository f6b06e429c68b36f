"""Filtered serving: metadata columns (add_batch_df meta_cols), commit-time
table stats (the "stats" entry of each manifest _log/v<N>.json), and the
stats-fed adaptive filtered search — the serving path must run ZERO count
jobs for dict filters because selectivity comes from the persisted
frequency maps.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from binaryvectordb_spark.db import BinaryVectorDB

LANGS = ("en", "de", "fr")


def _mk_db(spark, path, n=120, dim=16):
    db = BinaryVectorDB(spark, str(path), dim=dim, buckets=4)
    rng = np.random.RandomState(3)
    emb = rng.uniform(-1, 1, (n, dim)).astype("float32")
    rows = [(i, f"doc {i}", [float(x) for x in emb[i]], LANGS[i % len(LANGS)])
            for i in range(n)]
    df = spark.createDataFrame(
        rows, "doc_id: long, doc: string, embedding: array<float>, lang: string")
    db.add_batch_df(df, meta_cols=["lang"])
    return db, emb


def test_stats_ride_the_commit_manifest(spark, tmp_path):
    db, _ = _mk_db(spark, tmp_path / "db")
    st = db._manifest_of(db._manifest_version())["stats"]
    assert st is not None, "commit did not write the stats entry"
    assert st["n_rows"] == 120
    assert st["columns"]["lang"]["ndv"] == 3
    assert st["columns"]["lang"]["freq"] == {"en": 40, "de": 40, "fr": 40}
    assert st["columns"]["doc_kind"]["freq"] == {"str": 120}
    # doc_id is tracked for NDV but never gets a freq map (NDV over cap)
    assert st["columns"]["doc_id"]["ndv"] == 120
    assert "freq" not in st["columns"]["doc_id"]
    # estimation reads the manifest, no jobs
    assert db._estimate_selectivity({"lang": "en"}) == pytest.approx(1 / 3)
    assert db._estimate_selectivity({"lang": ["en", "de"]}) == pytest.approx(2 / 3)
    assert db._estimate_selectivity({"lang": "xx"}) == 0.0
    # SQL-string predicates are not estimable from stats
    assert db._estimate_selectivity("lang = 'en'") is None


def test_filtered_search_zero_count_jobs_and_exact(spark, tmp_path, monkeypatch):
    db, emb = _mk_db(spark, tmp_path / "db")
    q = [float(x) for x in emb[0]]
    # ground truth BEFORE patching: the operator with its own measured
    # selectivity (two count jobs) must agree with the stats-fed serving path
    from binaryvectordb_spark.operators.cascade import (
        cascade_search_filtered_adaptive,
    )
    idx, docs, _ = db._serving_handles()
    eligible = docs.where(F.col("lang") == "en").select("doc_id")
    expected = [r["doc_id"] for r in cascade_search_filtered_adaptive(
        idx, docs, db.dim, eligible, query_vec=q, k=5).collect()]

    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("count job on the filtered serving path")

    monkeypatch.setattr(DataFrame, "count", boom)
    hits = db.search(q, k=5, filter={"lang": "en"})
    assert [h["doc_id"] for h in hits] == expected
    assert all(h["doc_id"] % 3 == 0 for h in hits)  # lang 'en' == id%3==0
    assert hits[0]["strategy"] == "prefilter"       # sel 1/3 <= 0.5
    # broad predicate -> postfilter branch, still zero count jobs
    hits2 = db.search(q, k=5, filter={"lang": ["en", "de", "fr"]})
    assert hits2 and hits2[0]["strategy"] == "postfilter"
    # a broad filter that keeps everything must reproduce the unfiltered
    # top-k (overfetch >> k at this corpus size)
    monkeypatch.undo()
    plain = db.search(q, k=5)
    assert [h["doc_id"] for h in hits2] == [h["doc_id"] for h in plain]


def test_search_batch_filter_prefilters_exactly(spark, tmp_path):
    db, emb = _mk_db(spark, tmp_path / "db")
    qs = [[float(x) for x in emb[i]] for i in range(3)]
    res = db.search_batch(qs, k=5, filter={"lang": "de"})
    assert len(res) == 3
    for i, hits in enumerate(res):
        assert len(hits) == 5
        assert all(h["doc_id"] % 3 == 1 for h in hits)  # lang 'de' rows
        # batch-filtered must equal single-query filtered (prefilter branch
        # is the exact one; sel 1/3 routes the single path there too)
        single = db.search(qs[i], k=5, filter={"lang": "de"})
        assert [h["doc_id"] for h in hits] == [h["doc_id"] for h in single]


def test_sql_string_filter_falls_back_to_measured(spark, tmp_path):
    db, emb = _mk_db(spark, tmp_path / "db")
    q = [float(x) for x in emb[0]]
    got = db.search(q, k=5, filter="lang = 'en'")
    want = db.search(q, k=5, filter={"lang": "en"})
    assert [h["doc_id"] for h in got] == [h["doc_id"] for h in want]
    # unknown dict-filter columns raise a clean error, not a plan failure
    import pytest as _pytest
    with _pytest.raises(ValueError, match="filter columns"):
        db.search(q, k=5, filter={"nope": 1})
    with _pytest.raises(ValueError, match="filter columns"):
        db.search_batch([q], k=5, filter={"nope": 1})


def test_meta_col_schema_evolution(spark, tmp_path):
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=8, buckets=8)
    rng = np.random.RandomState(0)
    e1 = rng.uniform(-1, 1, (10, 8)).astype("float32")
    df1 = spark.createDataFrame(
        [(i, f"a{i}", [float(x) for x in e1[i]]) for i in range(10)],
        "doc_id: long, doc: string, embedding: array<float>")
    db.add_batch_df(df1)  # no metadata yet
    e2 = rng.uniform(-1, 1, (2, 8)).astype("float32")
    df2 = spark.createDataFrame(
        [(100 + i, f"b{i}", [float(x) for x in e2[i]], "en")
         for i in range(2)],  # buckets 4 and 5 only: others keep old schema
        "doc_id: long, doc: string, embedding: array<float>, lang: string")
    db.add_batch_df(df2, meta_cols=["lang"])
    docs = db.docs_df()
    assert "lang" in docs.columns
    got = {r["doc_id"]: r["lang"]
           for r in docs.select("doc_id", "lang").collect()}
    assert len(got) == 12
    assert all(got[i] is None for i in range(10))      # pre-column rows
    assert got[100] == "en" and got[101] == "en"
    # stats see the evolved column, nulls tracked apart from values
    st = db.table_stats()
    assert st["columns"]["lang"]["freq"] == {"en": 2}
    assert st["columns"]["lang"]["null_count"] == 10
    # the filter never matches null-lang rows
    hits = db.search([float(x) for x in e2[0]], k=3, filter={"lang": "en"})
    assert sorted(h["doc_id"] for h in hits) == [100, 101]


@pytest.mark.slow
def test_filter_composes_with_ivf_probe(spark, tmp_path):
    """filter= and nprobe compose: the index is first cluster-pruned, then
    the adaptive filtered cascade runs on the pruned scan.  Probing ALL
    clusters must equal the flat filtered answer exactly (the IVF
    recall/latency-knob contract extended to the filtered path)."""
    n, dim = 120, 16
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=dim, buckets=4,
                        index_type="ivf",
                        index_args={"n_clusters": 4, "nprobe": 4})
    rng = np.random.RandomState(9)
    emb = rng.uniform(-1, 1, (n, dim)).astype("float32")
    rows = [(i, f"doc {i}", [float(x) for x in emb[i]], LANGS[i % 3])
            for i in range(n)]
    db.add_batch_df(spark.createDataFrame(
        rows, "doc_id: long, doc: string, embedding: array<float>, "
              "lang: string"), meta_cols=["lang"])
    q = [float(x) for x in emb[7]]
    full = db.search(q, k=5, filter={"lang": "de"}, nprobe=4)  # all clusters
    assert all(h["doc_id"] % 3 == 1 for h in full)
    # flat reference: the same filtered cascade over the unpruned index
    from binaryvectordb_spark.operators.cascade import (
        cascade_search_filtered_adaptive,
    )
    idx, docs, _ = db._serving_handles()
    eligible = docs.where(F.col("lang") == "de").select("doc_id")
    want = [r["doc_id"] for r in cascade_search_filtered_adaptive(
        idx, docs, dim, eligible, query_vec=q, k=5).collect()]
    assert [h["doc_id"] for h in full] == want
    # pruned probe returns k hits from the probed clusters only
    part = db.search(q, k=5, filter={"lang": "de"}, nprobe=1)
    assert len(part) <= 5 and all(h["doc_id"] % 3 == 1 for h in part)
    # batch filter composes with the probe too
    bres = db.search_batch([q], k=5, filter={"lang": "de"}, nprobe=4)
    assert [h["doc_id"] for h in bres[0]] == [h["doc_id"] for h in full]


def test_index_only_commit_carries_stats_forward(spark, tmp_path):
    db, _ = _mk_db(spark, tmp_path / "db", n=40)
    v0 = db._manifest_version()
    st0 = db._manifest_of(v0)["stats"]
    assert st0 is not None
    db.build_ivf(n_clusters=2)  # index-only commit
    v1 = db._manifest_version()
    assert v1 == v0 + 1
    assert db._manifest_of(v1)["stats"] == st0
    st = db.table_stats()
    assert st["version"] == v1 and st["n_rows"] == 40
