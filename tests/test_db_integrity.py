"""db.verify_integrity(): the pre-publish structural audit — zero
violations on a healthy DB through upserts/deletes/typed payloads, and a
real detection when a bucket file is physically misplaced."""

from __future__ import annotations

import pytest
import glob
import os
import shutil

import numpy as np

from binaryvectordb_spark.db import BinaryVectorDB


def test_integrity_clean_through_mutations(spark, tmp_path):
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=16, buckets=4)
    db.add_documents([1, 2, 3], ["a b c", "d e f", "g h i"])
    db.add_documents([2, 40], ["d e f updated", {"k": 1}])  # upsert + json
    db.remove_doc(3)
    rep = db.verify_integrity()
    assert rep and all(v == 0 for v in rep.values()), rep
    # both tiers audited, incl. placement + parity
    assert "index.unique(doc_id)" in rep
    assert "docs.docs_bucket_placement" in rep
    assert "index.foreign_key(doc_id->doc_id)" in rep
    # a search caches both tiers and the cache manager then serves the
    # audit's reads from memory; the placement check must still read
    # the real file paths (it raised CAST_INVALID_INPUT on the empty
    # file name of the cached relation)
    db.search("d e f", k=2)
    assert db.verify_integrity() == rep


def test_integrity_empty_db(spark, tmp_path):
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=16)
    assert db.verify_integrity() == {}


def test_integrity_detects_misplaced_bucket_file(spark, tmp_path):
    """Reads are manifest-pinned, so a stray file on disk is invisible (a
    good property on its own).  The corruption that CAN happen is a buggy
    writer REGISTERING a file under the wrong bucket key — simulate by
    committing a manifest version that lists a copy of bucket 1's docs
    file under bucket 2.  Point reads pruned to bucket 2 would now serve
    bucket-1 rows; the placement, unique, and tier-parity checks must all
    surface it."""
    import json

    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=16, buckets=4)
    db.add_documents(list(range(8)), [f"doc {i} text" for i in range(8)])
    assert all(v == 0 for v in db.verify_integrity().values())

    root = str(tmp_path / "db")
    src = sorted(glob.glob(os.path.join(root, "documents", "bucket=1",
                                        "*.parquet")))[0]
    dst = os.path.join(root, "documents", "bucket=2", "smuggled.parquet")
    shutil.copy(src, dst)
    log_dir = db._log_dir()
    latest = sorted(glob.glob(os.path.join(log_dir, "v*.json")))[-1]
    with open(latest) as f:
        m = json.load(f)
    m["tables"]["documents"]["2"].append("smuggled.parquet")
    v = int(os.path.basename(latest)[1:-5]) + 1
    with open(os.path.join(log_dir, f"v{v:010d}.json"), "w") as f:
        json.dump(m, f)

    db2 = BinaryVectorDB(spark, root, dim=16, buckets=4)
    rep = db2.verify_integrity()
    assert rep["docs.docs_bucket_placement"] > 0, rep
    assert rep["docs.unique(doc_id)"] > 0, rep    # duplicated keys
    assert rep["index.foreign_key(doc_id->doc_id)"] == 0, rep
    # a search caches the tiers; the audit must still read the physical
    # file paths and find the misplaced file
    db2.search("doc 1 text", k=3)
    rep2 = db2.verify_integrity()
    assert rep2["docs.docs_bucket_placement"] == \
        rep["docs.docs_bucket_placement"], rep2


@pytest.mark.slow
def test_textindex_integrity_through_mutations(spark, tmp_path):
    """TextIndex.verify_integrity(): zero violations through build ->
    upsert -> remove -> tiered merge -> full compact, and corpus parity
    against the doc frame; a smuggled duplicate postings file (segment
    reads ARE directory-based, unlike the manifest-pinned doc store) is
    detected by uniqueness + dl-consistency + doclen parity."""
    import glob
    import shutil as sh

    from pyspark.sql import functions as F
    from binaryvectordb_spark.operators.textindex import TextIndex

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} common text row {i}") for i in range(20)],
        "doc_id long, text string")
    ti = TextIndex(spark, str(tmp_path / "ti")).build(docs, text_col="text")
    assert all(v == 0 for v in ti.verify_integrity(docs).values())

    up = spark.createDataFrame([(3, "replaced text three"),
                                (40, "brand new forty")],
                               "doc_id long, text string")
    ti.add_documents(up, text_col="text")
    ti.remove([7])
    live = (docs.filter(~F.col("doc_id").isin(3, 7))
            .unionByName(up.filter(F.col("doc_id") != 3))
            .unionByName(up.filter(F.col("doc_id") == 3)))
    rep = ti.verify_integrity(live)
    assert all(v == 0 for v in rep.values()), rep
    ti.compact()
    rep2 = ti.verify_integrity(live)
    assert all(v == 0 for v in rep2.values()), rep2

    # corrupt: duplicate one postings file inside a segment dir
    seg = ti.meta["segments"][0]
    f = sorted(glob.glob(str(tmp_path / "ti" / seg / "postings"
                             / "*.parquet")))[0]
    sh.copy(f, f.replace(".parquet", "_dup.parquet"))
    bad = ti.verify_integrity()
    assert bad["postings.unique(token,doc_id)"] > 0, bad
    assert bad["doclen.parity"] > 0 or bad["postings.dl_consistent"] > 0, bad


def test_db_expect_records_versioned_audit(spark, tmp_path):
    """db.expect(): user data-rules over the docs payload with a
    version-keyed persisted audit — failing checks report real counts,
    each snapshot's audit lands under its manifest version, and
    audit_history() returns the trail in version order."""
    from binaryvectordb_spark.operators.expectations import (
        accepted_values,
        expr_check,
        not_null,
    )
    from pyspark.sql import functions as F

    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=16)
    db.add_documents([1, 2, 3], ["short", "a much longer document text",
                                 "mid size"])
    checks = [
        not_null("doc"),
        accepted_values("doc_kind", ["str", "json"]),
        expr_check("min_len(6)", F.length("doc") < 6),
    ]
    rep1 = db.expect(checks)
    assert rep1["not_null(doc)"] == 0
    assert rep1["min_len(6)"] == 1  # "short"
    hist = db.audit_history()
    assert len(hist) == 1 and hist[0]["checks"] == rep1
    v1 = hist[0]["version"]

    db.add_documents([4], ["tiny"])  # new version, one more violation
    rep2 = db.expect(checks)
    assert rep2["min_len(6)"] == 2
    hist = db.audit_history()
    assert [h["version"] for h in hist] == sorted(h["version"] for h in hist)
    assert len(hist) == 2 and hist[-1]["version"] > v1
    assert hist[-1]["checks"] == rep2


def test_audit_history_numeric_order_past_v10(spark, tmp_path):
    """ADVICE r9: audit filenames are unpadded (v2.json, v10.json) — the
    history must sort numerically, not lexicographically (which would
    put v10 before v2)."""
    import json
    import os

    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=16)
    db.add_documents([1], ["one seed document"])
    d = os.path.join(db.folder, "_audit")
    os.makedirs(d, exist_ok=True)
    for v in (1, 2, 3, 9, 10, 11, 12, 100):
        with open(os.path.join(d, f"v{v}.json"), "w") as f:
            json.dump({"version": v, "checks": {}}, f)
    assert [h["version"] for h in db.audit_history()] == \
        [1, 2, 3, 9, 10, 11, 12, 100]
