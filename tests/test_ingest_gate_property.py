"""Property test: the distributed near-dup gate vs a bit-exact pure-python
reimplementation of the whole MinHash/LSH/Jaccard stack (md5-prefix base
hash, the affine min family, 4x3 banding, exact shingle Jaccard) — over
random corpora with injected near-dups.  Same strategy as the TextIndex
BM25 property test: if any stage of the distributed pipeline (explode,
hash-agg mins, band join, verify) disagreed with the definition, the
per-doc (n_candidates, n_dups, best_jaccard, admit) records would differ.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from binaryvectordb_spark.functions.text import (
    MINHASH_P,
    minhash_a,
    minhash_b,
)
from binaryvectordb_spark.operators.ingest_gate import (
    N_BANDS,
    N_HASHES,
    ROWS_PER_BAND,
    SHINGLE_K,
    intra_batch_dups,
    near_dup_gate,
)

VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
         "theta", "iota", "kappa"]


def _py_shingles(text: str) -> set:
    toks = text.split(" ")
    if len(toks) < SHINGLE_K:
        return set()
    return {" ".join(toks[i:i + SHINGLE_K])
            for i in range(len(toks) - SHINGLE_K + 1)}


def _py_base_hash(s: str) -> int:
    # token_hash31: 60-bit md5 hex prefix mod 2^31-1
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P


def _py_bands(text: str):
    shs = _py_shingles(text)
    if not shs:
        return []
    hs = [_py_base_hash(s) for s in shs]
    sigs = [min((minhash_a(j) * h + minhash_b(j)) % MINHASH_P for h in hs)
            for j in range(N_HASHES)]
    return [(b, "|".join(str(sigs[b * ROWS_PER_BAND + r])
                         for r in range(ROWS_PER_BAND)))
            for b in range(N_BANDS)]


def _py_gate(batch: dict, corpus: dict, j_threshold: float = 0.5) -> dict:
    c_bands = {}
    for cid, text in corpus.items():
        for key in _py_bands(text):
            c_bands.setdefault(key, set()).add(cid)
    out = {}
    for bid, text in batch.items():
        cands = set()
        for key in _py_bands(text):
            cands |= c_bands.get(key, set())
        cands.discard(bid)  # self-pair exclusion, mirrors near_dup_gate
        sa = _py_shingles(text)
        dups, best = 0, None
        for cid in cands:
            sb = _py_shingles(corpus[cid])
            common = len(sa & sb)
            j = common / (len(sa) + len(sb) - common)
            if j >= j_threshold:
                dups += 1
                best = j if best is None else max(best, j)
        out[bid] = (len(cands), dups, best, dups == 0)
    return out


def _rand_text(rng, n_lo=1, n_hi=30) -> str:
    return " ".join(rng.choice(VOCAB, size=rng.randint(n_lo, n_hi)))


@pytest.mark.parametrize("seed", [3, 19, 55])
def test_gate_matches_pure_python_oracle(spark, seed):
    rng = np.random.RandomState(seed)
    corpus = {i: _rand_text(rng) for i in range(40)}
    batch = {}
    for i in range(100, 112):
        r = rng.rand()
        if r < 0.3 and corpus:
            # near-dup injection: perturb one corpus doc by a token
            src = corpus[int(rng.randint(0, 40))].split(" ")
            pos = int(rng.randint(0, len(src)))
            src[pos] = str(rng.choice(VOCAB))
            batch[i] = " ".join(src)
        elif r < 0.4 and corpus:
            batch[i] = corpus[int(rng.randint(0, 40))]  # exact dup
        else:
            batch[i] = _rand_text(rng)
    want = _py_gate(batch, corpus)
    got = {r["doc_id"]: (r["n_candidates"], r["n_dups"], r["best_jaccard"],
                         r["admit"])
           for r in near_dup_gate(
               spark.createDataFrame(list(batch.items()),
                                     "doc_id long, text string"),
               spark.createDataFrame(list(corpus.items()),
                                     "doc_id long, text string")).collect()}
    assert set(got) == set(want)
    for k in want:
        wn, wd, wb, wa = want[k]
        gn, gd, gb, ga = got[k]
        assert (gn, gd, ga) == (wn, wd, wa), (k, got[k], want[k])
        if wb is None:
            assert gb is None, (k, gb)
        else:
            assert gb == pytest.approx(wb, abs=0.0), (k, gb, wb)


@pytest.mark.parametrize("seed", [7, 23])
def test_gate_oracle_with_overlapping_doc_ids(spark, seed):
    """Batch doc_ids that ALSO exist in the corpus (the update/replay
    shape): the self-pair is excluded on both sides, everything else
    matches the python oracle bit-exactly."""
    rng = np.random.RandomState(seed)
    corpus = {i: _rand_text(rng) for i in range(30)}
    batch = {}
    for i in range(12):
        bid = int(rng.randint(0, 30))  # overlaps the corpus id space
        r = rng.rand()
        if r < 0.4:
            batch[bid] = corpus[bid]  # exact replay of its own version
        elif r < 0.7:
            src = corpus[bid].split(" ")
            src[int(rng.randint(0, len(src)))] = str(rng.choice(VOCAB))
            batch[bid] = " ".join(src)  # revision of itself
        else:
            batch[bid] = _rand_text(rng)
    want = _py_gate(batch, corpus)
    got = {r["doc_id"]: (r["n_candidates"], r["n_dups"], r["admit"])
           for r in near_dup_gate(
               spark.createDataFrame(list(batch.items()),
                                     "doc_id long, text string"),
               spark.createDataFrame(list(corpus.items()),
                                     "doc_id long, text string")).collect()}
    assert got == {k: (v[0], v[1], v[3]) for k, v in want.items()}


def _py_intra_batch(batch: dict, j_threshold: float = 0.5) -> set:
    """Pairwise, lowest-id-wins: every doc that is an LSH candidate of a
    LOWER doc_id in the batch with shingle Jaccard >= j_threshold."""
    keys = {i: set(_py_bands(t)) for i, t in batch.items()}
    rejected = set()
    for a in batch:
        for b in batch:
            if a < b and keys[a] & keys[b]:
                sa, sb = _py_shingles(batch[a]), _py_shingles(batch[b])
                common = len(sa & sb)
                if common / (len(sa) + len(sb) - common) >= j_threshold:
                    rejected.add(b)
    return rejected


@pytest.mark.parametrize("seed", [2, 17, 60])
def test_intra_batch_dups_match_pure_python_oracle(spark, seed):
    """intra_batch_dups over one batch with planted near-dup pairs and
    chains (a doc perturbed from an EARLIER batch doc, so both the
    lowest-id-wins direction and the non-transitive chains occur) equals
    the pairwise oracle over the same shingle/band definition."""
    rng = np.random.RandomState(seed)
    batch = {}
    for i in range(40):
        if batch and rng.rand() < 0.4:
            src = batch[sorted(batch)[int(rng.randint(0, len(batch)))]]
            toks = src.split(" ")
            toks[int(rng.randint(0, len(toks)))] = str(rng.choice(VOCAB))
            batch[i] = " ".join(toks)
        else:
            batch[i] = _rand_text(rng, 3, 30)
    want = _py_intra_batch(batch)
    assert want, "no planted near-dup survived the LSH banding"
    got = {r["doc_id"] for r in intra_batch_dups(
        spark.createDataFrame(list(batch.items()),
                              "doc_id long, text string")).collect()}
    assert got == want


@pytest.mark.parametrize("seed", [5, 41])
@pytest.mark.slow
def test_gate_index_mutation_stream_matches_oracle(spark, seed):
    """GateIndex under a random mutation stream (adds, updates of
    existing ids, removes) with TIERED MERGES interleaved at random
    points must keep gate() bit-identical to the pure-python oracle on
    the final logical corpus — the compact_tail twin of the recompute
    parity tests above (VERDICT r11 item 3's property-test condition).
    """
    import tempfile

    from binaryvectordb_spark.operators.ingest_gate import GateIndex

    rng = np.random.RandomState(seed)
    corpus = {i: _rand_text(rng) for i in range(30)}

    def df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    with tempfile.TemporaryDirectory() as d:
        gi = GateIndex(spark, d).build(df(list(corpus.items())))
        next_id = 500
        for _ in range(10):
            r = rng.rand()
            if r < 0.5 or not corpus:
                n = int(rng.randint(1, 4))
                rows = [(next_id + j, _rand_text(rng)) for j in range(n)]
                next_id += n
                corpus.update(rows)
                gi.upsert_batch(df(rows))
            elif r < 0.8:
                i = sorted(corpus)[int(rng.randint(0, len(corpus)))]
                corpus[i] = _rand_text(rng)
                gi.upsert_batch(df([(i, corpus[i])]))
            else:
                doomed = [sorted(corpus)[int(rng.randint(0, len(corpus)))]]
                for i in doomed:
                    del corpus[i]
                gi.remove(doomed)
            if rng.rand() < 0.4:
                gi.compact_tail()

        batch = {900 + i: _rand_text(rng) for i in range(6)}
        # plant one near-dup of a surviving corpus doc so the dup path
        # is exercised, not just the admit path
        src = corpus[sorted(corpus)[0]].split(" ")
        if len(src) > 1:
            src[0] = str(rng.choice(VOCAB))
        batch[990] = " ".join(src)

        want = _py_gate(batch, corpus)
        got = {r["doc_id"]: (r["n_candidates"], r["n_dups"],
                             r["best_jaccard"], r["admit"])
               for r in gi.gate(df(list(batch.items()))).collect()}
        assert set(got) == set(want)
        for k in want:
            wn, wd, wb, wa = want[k]
            gn, gd, gb, ga = got[k]
            assert (gn, gd, ga) == (wn, wd, wa), (k, got[k], want[k])
            if wb is None:
                assert gb is None, (k, gb)
            else:
                assert gb == pytest.approx(wb, abs=0.0), (k, gb, wb)
