"""LocalCascadeSearcher must be BIT-IDENTICAL to the distributed cascade —
same doc ids, same order, same float64 scores — across random corpora,
tie-heavy corpora, and typed payloads.  It is a serving tier, not a second
implementation of the semantics: any drift here is a bug."""

from __future__ import annotations

import numpy as np
import pytest

from binaryvectordb_spark.db import BinaryVectorDB, local_embedder

DIM = 32


@pytest.fixture()
def db(spark, tmp_path):
    return BinaryVectorDB(spark, str(tmp_path / "db"), dim=DIM)


def test_local_matches_distributed_exactly(db):
    rng = np.random.RandomState(7)
    n = 300
    emb = rng.uniform(-1, 1, (n, DIM)).astype(np.float32)
    db.add_batch(list(range(n)), [f"doc {i}" for i in range(n)], emb)
    local = db.to_local_searcher()
    queries = [emb[3], emb[150], rng.uniform(-1, 1, DIM).astype(np.float32),
               "doc 42"]
    for q in queries:
        assert local.search(q, k=10) == db.search(q, k=10)
    # non-default oversamples change every truncation point — still identical
    assert (local.search(emb[9], k=5, binary_oversample=3, int8_oversample=2)
            == db.search(emb[9], k=5, binary_oversample=3, int8_oversample=2))


def test_local_matches_on_ties(db):
    """Duplicate vectors force ties at every phase; tie-breaks (doc_id asc)
    must agree with the distributed plan."""
    base = local_embedder([f"t {i % 4}" for i in range(40)], DIM)
    db.add_batch(list(range(40)), [f"t {i % 4}" for i in range(40)], base)
    local = db.to_local_searcher()
    for qi in (0, 1, 2):
        assert local.search(base[qi], k=12) == db.search(base[qi], k=12)


def test_local_typed_payloads_and_errors(db):
    db.add_documents([1, 2], [{"k": 1}, "plain"],
                     docs2text=lambda d: "a" if isinstance(d, dict) else d)
    local = db.to_local_searcher()
    hits = {h["doc_id"]: h["doc"] for h in local.search("a", k=2)}
    assert hits[1] == {"k": 1} and hits[2] == "plain"
    with pytest.raises(ValueError, match="finite"):
        bad = np.zeros(DIM, dtype=np.float32)
        bad[0] = np.nan
        local.search(bad)
    with pytest.raises(ValueError, match="shape"):
        local.search(np.zeros(DIM + 1, dtype=np.float32))


def test_local_batch_matches(db):
    rng = np.random.RandomState(3)
    emb = rng.uniform(-1, 1, (60, DIM)).astype(np.float32)
    db.add_batch(list(range(60)), [f"d{i}" for i in range(60)], emb)
    local = db.to_local_searcher()
    qs = [emb[0], emb[5], "d7"]
    assert local.search_batch(qs, k=4) == db.search_batch(qs, k=4)


def test_sharded_router_exact(db):
    """N-shard router == single shard == distributed cascade, bit-identical,
    for every shard count — including shard counts that leave shards empty
    or wildly uneven."""
    rng = np.random.RandomState(11)
    n = 400
    emb = rng.uniform(-1, 1, (n, DIM)).astype(np.float32)
    # non-contiguous, gappy ids: shard assignment (id % n_shards) is uneven
    ids = [i * 7 + (i % 3) for i in range(n)]
    db.add_batch(ids, [f"doc {i}" for i in ids], emb)
    single = db.to_local_searcher()
    queries = [emb[3], emb[250], rng.uniform(-1, 1, DIM).astype(np.float32)]
    for n_shards in (1, 2, 3, 8):
        router = db.to_local_searcher(n_shards=n_shards)
        for q in queries:
            got = router.search(q, k=10)
            assert got == single.search(q, k=10)
            assert got == db.search(q, k=10)
        # non-default oversamples move every truncation point
        assert (router.search(emb[9], k=5, binary_oversample=3,
                              int8_oversample=2)
                == single.search(emb[9], k=5, binary_oversample=3,
                                 int8_oversample=2))


def test_sharded_router_ties_and_text(db):
    """Tie-heavy corpus (duplicate vectors): global (score, doc_id) tie-break
    must survive the shard merge; text queries embed once at the router."""
    base = local_embedder([f"t {i % 4}" for i in range(60)], DIM)
    db.add_batch(list(range(60)), [f"t {i % 4}" for i in range(60)], base)
    single = db.to_local_searcher()
    router = db.to_local_searcher(n_shards=4)
    for qi in (0, 1, 2):
        assert router.search(base[qi], k=15) == single.search(base[qi], k=15)
    assert router.search("t 2", k=8) == single.search("t 2", k=8)
    assert router.search_batch(["t 0", "t 1"], k=5) == \
        single.search_batch(["t 0", "t 1"], k=5)


def test_sharded_router_phase_boundary_adversarial(db):
    """The case that breaks merge-after-full-cascade: rows whose hamming is
    bad but whose float score is high.  In a shard-local cascade they enter
    Phase I (fewer competitors per shard) and can evict a global survivor in
    that shard's Phase II; phase-wise routing must not let that happen.
    Constructed with tiny oversamples so the truncation points bite."""
    rng = np.random.RandomState(23)
    n = 120
    emb = rng.uniform(-1, 1, (n, DIM)).astype(np.float32)
    # a cluster of near-identical vectors (hamming ties at 0) plus noise
    emb[:30] = emb[0] + rng.uniform(-0.01, 0.01, (30, DIM)).astype(np.float32)
    db.add_batch(list(range(n)), [f"d{i}" for i in range(n)], emb)
    single = db.to_local_searcher()
    for n_shards in (2, 5):
        router = db.to_local_searcher(n_shards=n_shards)
        for qi in (0, 40):
            assert (router.search(emb[qi], k=4, binary_oversample=2,
                                  int8_oversample=1)
                    == single.search(emb[qi], k=4, binary_oversample=2,
                                     int8_oversample=1))


def test_sharded_router_property():
    """Property-based: router == single shard on arbitrary corpora, dims,
    duplicate-heavy id spaces, oversamples, and shard counts.  Pure numpy
    (no Spark) — the searcher is constructed from packed arrays directly,
    so hypothesis can afford many examples.  Dims 70 and 130 cover
    multi-lane rows and zero padding bits in the last lane."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from binaryvectordb_spark.functions.vector import pack_bits_np
    from binaryvectordb_spark.operators.local_serve import (
        LocalCascadeSearcher,
        ShardedLocalCascadeSearcher,
    )

    @st.composite
    def params(draw):
        return (draw(st.integers(5, 120)),            # n
                draw(st.sampled_from([8, 16, 32, 70, 130])),  # dim
                draw(st.integers(0, 2**31 - 1)),      # seed
                draw(st.integers(1, 8)),              # k
                draw(st.integers(1, 5)),              # binary oversample
                draw(st.integers(1, 4)),              # int8 oversample
                draw(st.integers(1, 9)))              # n_shards

    @given(params())
    @settings(max_examples=60, deadline=None)
    def run(p):
        n, dim, seed, k, bo, io, n_shards = p
        rng = np.random.RandomState(seed)
        V = rng.uniform(-1, 1, (n, dim)).astype(np.float32)
        if n >= 10:  # duplicated rows force ties at every phase
            V[: n // 5] = V[n // 5: 2 * (n // 5)]
        ids = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64)
        scaled = np.clip(V.astype(np.float64), -1, 1) * 127
        i8 = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int8)
        base = LocalCascadeSearcher(ids, pack_bits_np(V), i8,
                                    [f"d{i}" for i in ids], dim)
        router = ShardedLocalCascadeSearcher.from_searcher(base, n_shards)
        q = rng.uniform(-1, 1, dim).astype(np.float32)
        got = router.search(q, k=k, binary_oversample=bo, int8_oversample=io)
        want = base.search(q, k=k, binary_oversample=bo, int8_oversample=io)
        assert got == want

    run()


def _random_searcher(n, dim, seed):
    from binaryvectordb_spark.functions.vector import pack_bits_np
    from binaryvectordb_spark.operators.local_serve import (
        LocalCascadeSearcher,
    )
    rng = np.random.RandomState(seed)
    V = rng.uniform(-1, 1, (n, dim)).astype(np.float32)
    i8 = rng.randint(-127, 128, (n, dim)).astype(np.int8)
    ids = np.arange(n, dtype=np.int64)
    return V, LocalCascadeSearcher(ids, pack_bits_np(V), i8,
                                   [f"d{i}" for i in ids], dim)


def test_searcher_rejects_unpacked_bits():
    """The doc bits must be 64-bit lanes of width NUM_LANES(dim): a ±1
    float matrix, a byte-packed matrix or a wrong lane count is refused
    instead of being read as lanes."""
    from binaryvectordb_spark.operators.local_serve import (
        LocalCascadeSearcher,
    )
    V, s = _random_searcher(20, 70, 4)
    for bad in (np.where(V >= 0, 1, -1).astype(np.float32),
                np.where(V >= 0, 1.0, -1.0)[:, :2],
                np.packbits(V >= 0, axis=1, bitorder="little"),
                s.lanes[:, :1],
                s.lanes.view(np.float64)):
        with pytest.raises(ValueError, match="64-bit lanes"):
            LocalCascadeSearcher(s.doc_ids, bad, s.emb_int8, s.payloads, 70)


@pytest.mark.parametrize("dim", [64, 70])
def test_save_pins_packed_bits_format(tmp_path, dim):
    """The shard format: ``packed_bits`` is exactly np.packbits(V >= 0,
    axis=1, bitorder="little"), and a reload answers bit-identically."""
    from binaryvectordb_spark.operators.local_serve import (
        LocalCascadeSearcher,
    )
    V, s = _random_searcher(50, dim, 9)
    s.save(str(tmp_path / "shard"))
    bits = np.load(tmp_path / "shard" / "arrays.npz")["packed_bits"]
    want = np.packbits(V >= 0, axis=1, bitorder="little")
    assert bits.dtype == want.dtype and (bits == want).all()
    back = LocalCascadeSearcher.load(str(tmp_path / "shard"))
    assert (back.lanes == s.lanes).all()
    q = np.random.RandomState(1).uniform(-1, 1, dim).astype(np.float32)
    assert back.search(q, k=7) == s.search(q, k=7)


def test_shard_persistence_cross_process(db, tmp_path):
    """export_serving_shards -> fresh-PROCESS load (no Spark, numpy+json
    only) -> results bit-identical to the in-process router AND the
    distributed cascade.  This is the multi-host serving story: each
    shard_<i>/ dir is independently loadable on a different node."""
    import json as _json
    import subprocess
    import sys

    rng = np.random.RandomState(21)
    n = 250
    emb = rng.uniform(-1, 1, (n, DIM)).astype(np.float32)
    db.add_batch(list(range(n)), [f"doc {i}" for i in range(n)], emb)
    out = db.export_serving_shards(n_shards=4)
    qs = [emb[5].tolist(), emb[123].tolist(),
          rng.uniform(-1, 1, DIM).astype(np.float32).tolist()]
    expected = [db.search(np.asarray(q, np.float32), k=7) for q in qs]
    # same-process load must round-trip exactly
    router = db.load_serving_router()
    assert [router.search(np.asarray(q, np.float32), k=7) for q in qs] \
        == expected
    # fresh process: no SparkSession, no BinaryVectorDB — just the shards
    script = (
        "import sys, json, numpy as np\n"
        "from binaryvectordb_spark.operators.local_serve import "
        "ShardedLocalCascadeSearcher\n"
        "path, qs = sys.argv[1], json.loads(sys.argv[2])\n"
        "r = ShardedLocalCascadeSearcher.load(path)\n"
        "print(json.dumps([r.search(np.asarray(q, np.float32), k=7) "
        "for q in qs]))\n")
    proc = subprocess.run(
        [sys.executable, "-c", script, out, _json.dumps(qs)],
        capture_output=True, text=True, timeout=120, cwd="/root/repo")
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == _json.loads(_json.dumps(expected))  # same JSON values
    # version guard: a new commit invalidates the export by default
    db.add_batch([999], ["late doc"],
                 rng.uniform(-1, 1, (1, DIM)).astype(np.float32))
    with pytest.raises(ValueError, match="re-export"):
        db.load_serving_router(out)
    assert db.load_serving_router(out, allow_stale=True).n == n
