"""Unit self-tests of the benchmark harness (no Spark).

    python3 -m pytest perfbench/selftest -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import gen
from perfbench.counter_diff import diff_counters
from perfbench.run import END_TO_END, per_layer_units, quantile
from perfbench.tracing import Tracer, self_times, union_length
from perfbench.workloads import frame_digest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bytes(d):
    return {n: open(os.path.join(d, n), "rb").read()
            for n in sorted(os.listdir(d))}


def test_generator_is_byte_deterministic(tmp_path):
    for run in ("a", "b"):
        gen.write_serve_corpus(str(tmp_path / run / "serve"), 7, 300)
        gen.write_curation_tables(str(tmp_path / run / "cur"), 7, 200, 100)
    for sub in ("serve", "cur"):
        assert _bytes(tmp_path / "a" / sub) == _bytes(tmp_path / "b" / sub)
    gen.write_curation_tables(str(tmp_path / "c"), 8, 200, 100)
    assert _bytes(tmp_path / "c") != _bytes(tmp_path / "a" / "cur")
    assert gen.text_queries(7, 20) == gen.text_queries(7, 20)


def test_generator_plants_duplicates():
    texts = gen.zipf_texts(gen.rng_for(1, 0), 1000)
    planted = gen.plant_duplicates(gen.rng_for(1, 1), texts)
    changed = [i for i in range(1000) if planted[i] != texts[i]]
    assert len(changed) == 120   # 10% one-token edits + 2% exact copies
    exact = [i for i in changed if planted[i] in planted[:i]]
    assert len(exact) >= 20
    vocab = gen.vocabulary()
    assert len(vocab) == len(set(vocab)) == gen.VOCAB_SIZE
    heads = [q for q in gen.text_queries(3, 50)
             if q[0] in gen.HEAD_TERMS]
    assert len(heads) == 10


def test_quantile_sample_rule():
    assert quantile([3.0], 0.5) == 3.0
    with pytest.raises(ValueError, match="100 samples"):
        quantile(range(99), 0.9)
    assert quantile(range(100), 0.9) == pytest.approx(89.1)
    with pytest.raises(ValueError, match="1000 samples"):
        quantile(range(999), 0.99)


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert union_length([], 0, 1) == 0.0
    spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"name": "b", "start": 3.0, "end": 6.0, "parent": 0},
        {"name": "a.child", "start": 2.0, "end": 3.0, "parent": 1},
    ]
    assert self_times(spans) == [5.0, 2.0, 3.0, 1.0]


def test_tracer_records_nested_spans_and_self_time():
    tr = Tracer()
    tr.enabled = True              # spans without Spark counters
    tr.phase = ("measure", 1)

    def inner():
        with tr.span("layer"):
            return 42

    out, dt = tr.call("op", inner, spark=False)
    assert out == 42 and dt > 0
    assert [s["name"] for s in tr.spans] == ["op", "layer"]
    assert tr.spans[1]["parent"] == 0 and tr.spans[1]["op"] == 0
    rec = tr.calls[0]
    assert rec["phase"] == ("measure", 1)
    assert 0 <= rec["self_ms"] <= rec["wall_ms"]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == END_TO_END
    assert layer == per_layer_units()
    names = list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert all(UNIT.fullmatch(u) for u in list(e2e.values())
               + list(layer.values()))
    assert e2e["setup_s"] == "s"
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


def test_frame_digest_is_order_insensitive_and_type_strict():
    rows = [(1, 2.5, [1, 2]), (0, None, [])]
    a = frame_digest(["x", "y", "z"], rows)
    b = frame_digest(["z", "x", "y"], [(r[2], r[0], r[1]) for r in rows[::-1]])
    assert a == b
    assert frame_digest(["x"], [(1,)]) != frame_digest(["x"], [(1.0,)])


def test_counter_diff_reports_exact_differences():
    a = {"setup.0.db.x.jobs": 3, "storage.versions": 1}
    assert diff_counters(a, dict(a)) == []
    b = {"setup.0.db.x.jobs": 4, "storage.files_live": 9}
    assert diff_counters(a, b) == [
        ("setup.0.db.x.jobs", 3, 4),
        ("storage.files_live", None, 9),
        ("storage.versions", 1, None)]
