"""Seeded input generator shared by every workload.

Everything the engine sees is produced here from the workload seed and
written as parquet; the same seed gives byte-identical files.  Each purpose
draws from its own stream (``np.random.default_rng([seed, stream])``), so
changing one input's size never shifts another's values.
"""

from __future__ import annotations

import os
from itertools import product

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
VOCAB_SIZE = 20_000
ZIPF_S = 1.07
TOKENS_PER_DOC = 24
# the Zipf head: the most frequent terms, stopwords first (curation_funnel's
# quality rule needs a stopword in every kept document)
HEAD_TERMS = ("the", "a", "of", "and", "in", "to", "is",
              "data", "vector", "search")

SERVE_CLUSTERS, CURATION_CLUSTERS, SIGMA = 256, 16, 0.6
QUERY_NOISE = 0.05
QUERY_TERMS, HEAD_EVERY = 3, 5
NEAR_DUP_FRAC, EXACT_DUP_FRAC = 0.10, 0.02
# a token no generated text holds (no syllable starts with "zq")
MARKER = "zqmark"

# seed streams
S_CORPUS_VEC, S_CORPUS_TEXT, S_QUERIES, S_CUR_DOCS, S_CUR_EMB, S_WRITES = \
    range(6)
S_TEXT_QUERIES = S_QUERIES + 100

_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "du",
              "fe", "go", "hi", "ja", "ku", "la", "mo", "no", "pe", "qi",
              "re", "so", "tu", "va", "we", "xo", "yu", "ze", "ba", "co")


def rng_for(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


def vocabulary() -> list[str]:
    """HEAD_TERMS then pseudo-words of 2-3 syllables; fixed, not seeded."""
    words = list(HEAD_TERMS)
    for n in (2, 3):
        for parts in product(_SYLLABLES, repeat=n):
            if len(words) == VOCAB_SIZE:
                return words
            words.append("".join(parts))
    raise AssertionError("syllable table too small for VOCAB_SIZE")


def zipf_probs() -> np.ndarray:
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
    return p / p.sum()


def clustered_vectors(rng: np.random.Generator, n: int, n_clusters: int
                      ) -> tuple[np.ndarray, np.ndarray]:
    """(n, DIM) float32 vectors around unit-Gaussian centres, and labels."""
    centres = rng.standard_normal((n_clusters, DIM))
    labels = rng.integers(0, n_clusters, n)
    vecs = centres[labels] + SIGMA * rng.standard_normal((n, DIM))
    return vecs.astype(np.float32), labels.astype(np.int32)


def zipf_texts(rng: np.random.Generator, n: int) -> list[str]:
    vocab = np.array(vocabulary())
    toks = rng.choice(len(vocab), size=(n, TOKENS_PER_DOC), p=zipf_probs())
    return [" ".join(row) for row in vocab[toks]]


def plant_duplicates(rng: np.random.Generator, texts: list[str]
                     ) -> list[str]:
    """Return a copy of ``texts`` where NEAR_DUP_FRAC of the documents are
    one-token edits of an earlier document and EXACT_DUP_FRAC are verbatim
    copies of one.  Targets and sources are disjoint."""
    out = list(texts)
    n = len(out)
    n_near, n_exact = int(n * NEAR_DUP_FRAC), int(n * EXACT_DUP_FRAC)
    targets = rng.choice(np.arange(1, n), size=n_near + n_exact, replace=False)
    vocab = vocabulary()
    tset = {int(t) for t in targets}
    for j, t in enumerate(int(x) for x in targets):
        src = int(rng.integers(0, t))
        while src in tset:
            src = int(rng.integers(0, t))
        toks = out[src].split(" ")
        if j < n_near:
            toks[int(rng.integers(0, len(toks)))] = vocab[
                int(rng.integers(len(HEAD_TERMS), len(vocab)))]
        out[t] = " ".join(toks)
    return out


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_serve_corpus(out_dir: str, seed: int, n_docs: int
                       ) -> tuple[str, np.ndarray, list[str]]:
    """docs.parquet (doc_id, doc, embedding) for ``add_batch_df``.
    Returns (path, embeddings, texts), the answers the checks compare to."""
    emb, _ = clustered_vectors(rng_for(seed, S_CORPUS_VEC), n_docs,
                               SERVE_CLUSTERS)
    texts = zipf_texts(rng_for(seed, S_CORPUS_TEXT), n_docs)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "docs.parquet")
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "doc": pa.array(texts, type=pa.string()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1)), DIM).cast(pa.list_(pa.float32())),
    }), path)
    return path, emb, texts


def query_vectors(seed: int, emb: np.ndarray, n: int) -> np.ndarray:
    """Corpus vectors plus N(0, QUERY_NOISE): each query has a true
    neighbour."""
    rng = rng_for(seed, S_QUERIES)
    src = rng.integers(0, len(emb), n)
    q = emb[src] + QUERY_NOISE * rng.standard_normal((n, emb.shape[1]))
    return q.astype(np.float32)


def text_queries(seed: int, n: int) -> list[list[str]]:
    """QUERY_TERMS-term queries of non-head terms drawn by Zipf rank; every
    HEAD_EVERY-th query swaps one term for a head term."""
    rng = rng_for(seed, S_TEXT_QUERIES)
    vocab = vocabulary()
    tail = zipf_probs()[len(HEAD_TERMS):]
    tail = tail / tail.sum()
    out = []
    for i in range(n):
        idx = rng.choice(len(tail), size=QUERY_TERMS, replace=False, p=tail)
        terms = [vocab[len(HEAD_TERMS) + int(j)] for j in idx]
        if i % HEAD_EVERY == 0:
            terms[0] = HEAD_TERMS[int(rng.integers(0, len(HEAD_TERMS)))]
        out.append(terms)
    return out


def write_curation_tables(out_dir: str, seed: int, n_docs: int,
                          n_emb: int) -> str:
    """Fixture-schema ``documents`` and ``embeddings`` parquet tables (the
    layout every registry query reads) in ``out_dir``."""
    rng = rng_for(seed, S_CUR_DOCS)
    texts = plant_duplicates(rng, zipf_texts(rng, n_docs))
    langs = np.array(["de", "en", "es", "fr", "zh"])
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)]),
        "source": pa.array([f"src{int(i)}"
                            for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    }), os.path.join(out_dir, "documents.parquet"))
    emb, labels = clustered_vectors(rng_for(seed, S_CUR_EMB), n_emb,
                                    CURATION_CLUSTERS)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1)), DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(labels),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return out_dir


def write_batch(seed: int, n_docs: int, n: int, n_remove: int
                ) -> tuple[list[int], list[str], np.ndarray, list[int]]:
    """A write cycle against a corpus of ``n_docs`` ids: an upsert of ``n``
    docs (half overwrite live ids, half are new ids), each text carrying
    MARKER, and ``n_remove`` live ids to delete afterwards, disjoint from
    the upsert.  Returns (ids, texts, embeddings, removed ids)."""
    rng = rng_for(seed, S_WRITES)
    perm = rng.permutation(n_docs)
    over, removed = perm[:n // 2], perm[n // 2:n // 2 + n_remove]
    ids = [int(i) for i in over] + list(range(n_docs, n_docs + n - n // 2))
    texts = [f"{MARKER} {t}" for t in zipf_texts(rng, n)]
    emb, _ = clustered_vectors(rng, n, SERVE_CLUSTERS)
    return ids, texts, emb, sorted(int(i) for i in removed)
