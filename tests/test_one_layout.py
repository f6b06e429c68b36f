"""One on-disk layout: a DB folder, a standalone segment store and a
streaming store open only in the layout this engine writes (`_meta.json`'s
"version", the log state's "fmt", a streaming store's `_log`).  A folder
written in an earlier layout is refused before anything is written: the
error names the folder, and the tree is byte-identical afterwards.  Each
case builds its folder the way the earlier revision left it, a DB folder
including the "version": "1.0" every earlier revision wrote into
`_meta.json`."""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import numpy as np
import pytest

from binaryvectordb_spark.db import BinaryVectorDB
from binaryvectordb_spark.operators.ingest_gate import GateIndex
from binaryvectordb_spark.operators.textindex import TextIndex
from tests.conftest import SF_SMOKE

DIM = 8
N = 8


def _db(spark, folder, **kw):
    db = BinaryVectorDB(spark, folder, dim=DIM, buckets=2, **kw)
    rng = np.random.RandomState(0)
    db.add_batch(list(range(N)), [f"fast merge scan doc{i}" for i in range(N)],
                 rng.uniform(-1, 1, (N, DIM)).astype(np.float32))
    return db


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"fast merge scan doc{i}") for i in range(N)],
        "doc_id long, text string")


def _json(path, body=None):
    if body is None:
        with open(path) as f:
            return json.load(f)
    with open(path, "w") as f:
        json.dump(body, f)


def _head_path(folder):
    log = os.path.join(folder, "_log")
    return os.path.join(log, sorted(os.listdir(log))[-1])


def _as_version_1_0(folder):
    """_meta.json as every earlier revision wrote it."""
    p = os.path.join(folder, "_meta.json")
    _json(p, dict(_json(p), version="1.0"))


# -- the earlier layouts -----------------------------------------------------

def _pre_log_db(spark, folder):
    """Bucketed tables and no transaction log: the directory listing was
    the state."""
    _db(spark, folder)
    shutil.rmtree(os.path.join(folder, "_log"))
    _as_version_1_0(folder)
    return BinaryVectorDB


def _flat_table(spark, folder):
    """An unbucketed table recorded under the "_flat" manifest key, its
    files at the table root."""
    _db(spark, folder)
    head = _head_path(folder)
    m = _json(head)
    root = os.path.join(folder, "index")
    files = []
    for key, fl in m["tables"]["index"].items():
        for fn in fl:
            os.rename(os.path.join(root, f"bucket={key}", fn),
                      os.path.join(root, fn))
            files.append(fn)
        os.rmdir(os.path.join(root, f"bucket={key}"))
    m["tables"]["index"] = {"_flat": sorted(files)}
    _json(head, m)
    _as_version_1_0(folder)
    return BinaryVectorDB


def _side_meta_json(spark, folder):
    """Side-index state in each side dir's own meta.json, no "side" entry
    in the manifest."""
    db = _db(spark, folder)
    db.build_text_index()
    db.build_gate_index()
    head = _head_path(folder)
    m = _json(head)
    for name, st in m.pop("side").items():
        _json(os.path.join(folder, name, "meta.json"), dict(st, v=7))
    _json(head, m)
    _as_version_1_0(folder)
    return BinaryVectorDB


def _meta_json_fields(spark, folder):
    """docs_schema and the IVF drift counter in _meta.json, one ivf_model/
    dir, a _stats/ sidecar, and manifests without those entries."""
    _db(spark, folder, index_type="ivf",
        index_args={"n_clusters": 2, "nprobe": 1})
    log = os.path.join(folder, "_log")
    for fn in sorted(os.listdir(log)):
        m = _json(os.path.join(log, fn))
        ent = {k: m.pop(k) for k in ("docs_schema", "stats", "ivf")}
        _json(os.path.join(log, fn), m)
    os.rename(os.path.join(folder, ent["ivf"]["model"]),
              os.path.join(folder, "ivf_model"))
    p = os.path.join(folder, "_meta.json")
    _json(p, dict(_json(p), docs_schema=ent["docs_schema"],
                  ivf_mutated_rows=ent["ivf"]["mutated_rows"],
                  ivf_built_version=ent["ivf"]["built_version"]))
    os.makedirs(os.path.join(folder, "_stats"))
    _json(os.path.join(folder, "_stats", f"v{m['version']:010d}.json"),
          dict(ent["stats"], version=m["version"]))
    _as_version_1_0(folder)
    return BinaryVectorDB


def _meta_version_1_0(spark, folder):
    """Today's tables, manifests and side state under a _meta.json that
    names the earlier layout."""
    _db(spark, folder).build_text_index()
    _as_version_1_0(folder)
    return BinaryVectorDB


def _standalone_meta_json(spark, folder):
    """A standalone TextIndex whose state is meta.json, with no log."""
    ti = TextIndex(spark, folder).build(_docs(spark))
    ti.remove([0, 1])
    _json(os.path.join(folder, "meta.json"), dict(ti.meta, v=3))
    shutil.rmtree(os.path.join(folder, "_log"))
    return TextIndex


def _textindex_pre_stats(spark, folder):
    """A standalone TextIndex logged in fmt 3 whose segments have no
    write-time stats."""
    ti = TextIndex(spark, folder).build(_docs(spark))
    ti.add_documents(spark.createDataFrame(
        [(100, "fast window"), (1, "merge footer")],
        "doc_id long, text string"))
    ti.meta["seg_stats"] = {}
    ti.meta["fmt"] = 3
    ti._commit()
    return TextIndex


def _gate_index_without_fmt(spark, folder):
    """A standalone GateIndex whose log state records no layout."""
    GateIndex(spark, folder).build(_docs(spark))
    head = _head_path(folder)
    m = _json(head)
    m["state"].pop("fmt", None)
    _json(head, m)
    return GateIndex


def _streaming_meta_json(spark, folder):
    """An exactly-once streaming store whose head a meta.json pointer
    named, with no log.  Every writer refuses it before start(), every
    reader refuses it too; the last reader's error reaches the test."""
    import binaryvectordb_spark.streaming.events as EV

    spark.range(3).write.parquet(os.path.join(folder, "data_v0"))
    _json(os.path.join(folder, "meta.json"),
          {"data": "data_v0", "last_batch": 0})
    events = os.path.join(os.path.dirname(folder), "events_in")
    os.makedirs(events)
    shutil.copy(f"{SF_SMOKE}/events.parquet", events)
    ckpt = os.path.join(os.path.dirname(folder), "ckpt")
    writers = [EV.foreach_batch_rollup, EV.foreach_batch_transition_matrix,
               EV.foreach_batch_cohort_retention,
               EV.foreach_batch_value_histogram, EV.foreach_batch_kmv_sketch,
               EV.foreach_batch_bottomk_sample]
    readers = [EV.read_transition_matrix, EV.read_cohort_retention,
               EV.read_value_outliers, EV.read_kmv_ndv,
               EV.read_bottomk_sample, EV.read_bottomk_quantiles,
               EV.read_rollup]

    def open_every_store(spark, folder):
        stream = EV.read_events_stream(spark, events)
        for write in writers:
            with pytest.raises(ValueError, match=re.escape(folder)):
                write(stream, folder, ckpt)
        assert not os.path.exists(ckpt)
        for read in readers[:-1]:
            with pytest.raises(ValueError, match=re.escape(folder)):
                read(spark, folder)
        readers[-1](spark, folder)

    return open_every_store


def _tree(folder):
    """(relative path, sha256) of every file and dir under ``folder``."""
    out = []
    for root, dirs, files in os.walk(folder):
        dirs.sort()
        out.append((os.path.relpath(root, folder), None))
        for fn in sorted(files):
            with open(os.path.join(root, fn), "rb") as f:
                out.append((os.path.relpath(os.path.join(root, fn), folder),
                            hashlib.sha256(f.read()).hexdigest()))
    return out


@pytest.mark.parametrize("build", [
    _pre_log_db, _flat_table, _side_meta_json, _meta_json_fields,
    _meta_version_1_0, _standalone_meta_json, _textindex_pre_stats,
    _gate_index_without_fmt, _streaming_meta_json,
], ids=lambda f: f.__name__.lstrip("_"))
def test_earlier_layout_is_refused_before_any_write(spark, tmp_path, build):
    folder = str(tmp_path / "folder")
    opener = build(spark, folder)
    before = _tree(folder)
    with pytest.raises(ValueError, match=re.escape(folder)) as err:
        opener(spark, folder)
    assert "re-ingest" in str(err.value)
    assert _tree(folder) == before
