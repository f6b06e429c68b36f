"""Toy-size smoke runs of every workload through the real runner, traced
and untraced, on one local Spark session (about two minutes)."""

from __future__ import annotations

import pytest

from perfbench.run import (
    END_TO_END,
    deterministic_counters,
    end_to_end,
    per_layer,
    per_layer_units,
    run,
    start_spark,
    stop_spark,
)

TOY = {"serve": {"n_docs": 400, "n_search": 1, "n_local": 5,
                 "n_qvec": 32, "n_text": 8, "n_recall": 10, "n_batch": 2,
                 "n_write": 16},
       "curation_batch": {"n_docs": 200, "n_emb": 100}}
# per workload, per-layer metrics a traced run must reach
REACHED = {"serve": ("db.search.jobs", "db.search_batch.jobs",
                     "db.search_hybrid.jobs", "db.add_batch.jobs",
                     "db.remove_docs.jobs", "db.get_docs.jobs",
                     "cascade.cascade_search_batch.ms",
                     "textindex.upsert_batch.ms", "textindex.remove.ms",
                     "textindex.compact.calls",
                     "storage.add_batch.bytes_written",
                     "storage.remove_docs.bytes_written"),
           "curation_batch": ("queries.curation_funnel.jobs",
                              "ingest_gate.near_dup_gate.ms",
                              "ingest_gate.GateIndex.gate.ms")}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pathlib import Path
    root = str(Path(__file__).resolve().parents[2])
    s = start_spark(root, str(tmp_path_factory.mktemp("spark")))
    yield s
    stop_spark(s)


@pytest.mark.parametrize("workload", sorted(TOY))
def test_workload_smoke(spark, tmp_path, workload):
    plain = run(spark, workload, 1, 0, False, str(tmp_path / "plain"),
                TOY[workload])
    assert plain["failed"] == 0 and plain["attempted"] > 0
    m = end_to_end(plain)
    assert set(m) == set(END_TO_END) and all(v > 0 for v in m.values())

    traced = run(spark, workload, 1, 0, True, str(tmp_path / "traced"),
                 TOY[workload])
    assert traced["failed"] == 0
    layer = per_layer(traced, 1.0, None)
    assert set(layer) == set(per_layer_units())
    assert [m for m in REACHED[workload] if not layer[m] > 0] == []
    counters = deterministic_counters(traced)
    assert counters and all(isinstance(v, int) for v in counters.values())
