"""The benchmark's workloads.

A workload has ``setup(rep)`` (timed as set-up, repeated into a fresh
directory each time), ``round(i)``, the calls of one closed-loop round,
``run_checks()`` (once per run after the measured rounds, untimed) and
``write_phase()``, calls made once per traced run after the checks.  A step
of a round or of the write phase is ``(name, fn, args, check, spark)``: the
runner times ``fn(*args)`` and then, untimed, requires ``check(result)`` to
be true; code between two steps runs untimed.  Workloads reach the engine
only through its public API.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np

from perfbench import gen

K = 10


class Serve:
    """Serving over a clustered corpus with a text index and a RAM tier.
    The rounds never commit; a traced run's write phase commits after
    them."""

    name = "serve"
    SETUP_REPS = 2
    # a server is measured warm: the CPU of a round falls from about 17 s in
    # the first round to about 7 s from the sixth on, as the JVM's JIT
    # compiles db.search's planning path
    WARMUP_ROUNDS = 5
    # 5k docs in the default 32 buckets make files of about 150 docs; 4
    # buckets, one per core, halve the set-up and cut db.search by a fifth
    BUCKETS = 4
    sizes = {"n_docs": 5_000, "n_search": 6, "n_local": 100,
             "n_qvec": 512, "n_text": 64, "n_recall": 50, "n_batch": 8,
             "n_write": 256}
    RECALL_MIN = 0.6

    def __init__(self, spark, work: str, seed: int, tracer, **sizes):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.sz = {**self.sizes, **sizes}
        self.db = self.local = self.emb = None
        self.recall = None
        self._prev: str | None = None
        self.written: dict[str, dict] = {}   # storage deltas of the writes

    # -- set-up ---------------------------------------------------------------
    def setup(self, rep: int) -> None:
        from binaryvectordb_spark import BinaryVectorDB

        base = os.path.join(self.work, f"serve-{rep}")
        path, self.emb, texts = gen.write_serve_corpus(
            os.path.join(base, "input"), self.seed, self.sz["n_docs"])
        self.doc_terms = [set(t.split(" ")) for t in texts]
        self.live = dict(enumerate(texts))
        db = BinaryVectorDB(self.spark, os.path.join(base, "db"),
                            dim=gen.DIM, buckets=self.BUCKETS)
        self.tr.call("db.add_batch_df", db.add_batch_df,
                     self.spark.read.parquet(path))
        self.tr.call("db.build_text_index", db.build_text_index)
        self.local, _ = self.tr.call("db.to_local_searcher",
                                     db.to_local_searcher)
        self.db, self.db_dir = db, os.path.join(base, "db")
        if self._prev is not None:
            shutil.rmtree(self._prev, ignore_errors=True)
        self._prev = base
        self.qvecs = gen.query_vectors(self.seed, self.emb, self.sz["n_qvec"])
        self.tq = gen.text_queries(self.seed, self.sz["n_text"])

    # -- checks ---------------------------------------------------------------
    def run_checks(self) -> list[tuple[str, bool]]:
        """recall@10 of the RAM tier (bit-identical to ``db.search``, which
        every round checks) against exact float cosine."""
        n = self.sz["n_recall"]
        q = self.qvecs[:n]
        e = self.emb / np.linalg.norm(self.emb, axis=1, keepdims=True)
        qn = q / np.linalg.norm(q, axis=1, keepdims=True)
        truth = np.argsort(-(qn @ e.T), axis=1, kind="stable")[:, :K]
        got = [[h["doc_id"] for h in self.local.search(v, k=K)] for v in q]
        self.recall = float(np.mean([len(set(t.tolist()) & set(g)) / K
                                     for t, g in zip(truth, got)]))
        return [("recall_at_10", self.recall >= self.RECALL_MIN)]

    def _same_as_local(self, hits, q) -> bool:
        return hits == self.local.search(q, k=K)

    def _text_ok(self, hits, terms) -> bool:
        """As many hits as documents holding a term (at most K), ranked
        1..n, each holding a term."""
        ts = set(terms)
        n_match = sum(1 for d in self.doc_terms if d & ts)
        return (len(hits) == min(K, n_match)
                and [h["kw_rank"] for h in hits] == list(range(1, len(hits) + 1))
                and all(ts & set(h["doc"].split(" ")) for h in hits))

    # -- one round --------------------------------------------------------------
    def round(self, i: int):
        sz, db, loc = self.sz, self.db, self.local
        nq = len(self.qvecs)
        base = i * (sz["n_search"] + sz["n_local"])
        for j in range(sz["n_search"]):
            q = self.qvecs[(base + j) % nq]
            yield ("db.search", db.search, (q,),
                   lambda r, q=q: self._same_as_local(r, q), True)
        terms = self.tq[i % len(self.tq)]
        yield ("db.search_text", db.search_text, (terms,),
               lambda r: self._text_ok(r, terms), True)
        off = base + sz["n_search"]
        for j in range(sz["n_local"]):
            yield ("local.search", loc.search, (self.qvecs[(off + j) % nq],),
                   lambda r: len(r) == K, False)

    # -- writes, once per traced run ---------------------------------------
    def write_phase(self):
        """The batch and hybrid reads, then one commit cycle on the served
        DB with read-your-writes checks: an upsert (half overwrites, half
        new ids, every text carrying a marker token), fresh reads, a delete
        of half the corpus (enough dead text-index rows to trigger its
        compaction) and a point read of written and deleted ids."""
        db, sz = self.db, self.sz
        qs = list(self.qvecs[:sz["n_batch"]])
        yield ("db.search_batch", db.search_batch, (qs,),
               lambda r: [[h["doc_id"] for h in hs] for hs in r]
               == [[h["doc_id"] for h in self.local.search(q, k=K)]
                   for q in qs], True)
        terms = self.tq[0]
        yield ("db.search_hybrid", db.search_hybrid, (terms, qs[0]),
               lambda r: len(r) == K == len({h["doc_id"] for h in r}), True)

        ids, texts, emb, removed = gen.write_batch(
            self.seed, sz["n_docs"], sz["n_write"], sz["n_docs"] // 2)
        want = dict(zip(ids, texts))
        before = file_sizes(self.db_dir)
        yield ("db.add_batch", db.add_batch, (ids, texts, emb), _is_none, True)
        self.written["add_batch"] = written_since(before, self.db_dir)
        self.written["add_batch"]["user_bytes"] = user_bytes(texts)
        self.live.update(want)
        # fresh reads: the first written vector is found, the marker
        # matches only written docs, point reads return the written payloads
        yield ("db.search", db.search, (emb[0],),
               lambda r: ids[0] in [h["doc_id"] for h in r], True)
        yield ("db.search_text", db.search_text, ([gen.MARKER],),
               lambda r: len(r) == K and all(h["doc_id"] in want
                                             for h in r), True)
        got = {i: want[i] for i in ids[:16]}
        yield ("db.get_docs", db.get_docs, (ids[:16],),
               lambda r: r == got, True)

        before = file_sizes(self.db_dir)
        yield ("db.remove_docs", db.remove_docs, (removed,), _is_none, True)
        self.written["remove_docs"] = written_since(before, self.db_dir)
        for i in removed:
            del self.live[i]
        yield ("db.get_docs", db.get_docs, (ids[:16] + removed[:16],),
               lambda r: r == got, True)

    def storage(self) -> dict:
        files, size = dir_stats(self.db_dir)
        log = os.path.join(self.db_dir, "_log")
        versions = sum(1 for f in os.listdir(log)
                       if f.startswith("v") and f.endswith(".json"))
        out = {"files_live": files, "db_bytes": size, "versions": versions,
               "space_amp": size / user_bytes(self.live.values())}
        if self.written:
            add = self.written["add_batch"]
            out.update({
                "add_batch.bytes_written": add["bytes"],
                "add_batch.files_written": add["files"],
                "add_batch.write_amp": add["bytes"] / add["user_bytes"],
                "remove_docs.bytes_written":
                    self.written["remove_docs"]["bytes"]})
        return out


def _is_none(r) -> bool:
    return r is None


def user_bytes(texts) -> int:
    """Bytes a user submits: text plus 4 bytes per embedding value."""
    return sum(len(t.encode()) + 4 * gen.DIM for t in texts)


def file_sizes(path: str) -> dict[str, tuple[int, int]]:
    """{file: (size, mtime_ns)} under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            out[os.path.join(root, n)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, path: str) -> dict[str, int]:
    """Files (and their bytes) under ``path`` created or rewritten since
    the ``before`` listing."""
    new = [size for f, (size, mt) in file_sizes(path).items()
           if before.get(f, (None, None))[1] != mt]
    return {"files": len(new), "bytes": sum(new)}


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    sizes = file_sizes(path)
    return len(sizes), sum(s for s, _mt in sizes.values())


class CurationBatch:
    """One pass of the batch curation queries over generated fixture-schema
    tables.  Touches no BinaryVectorDB storage or serving code."""

    name = "curation_batch"
    QUERIES = ("dedup_minhash_pairs", "dedup_simhash_pairs",
               "dedup_lsh_jaccard", "dedup_semantic_clusters",
               "dedup_incremental_batch", "dedup_incremental_persisted",
               "curation_funnel")
    # after the first, a set-up is under a second of table writes and Spark
    # scans, whose wall is noisy: the median of five steadies setup_s
    SETUP_REPS = 5
    # a batch job runs in a fresh session, so the pass is measured cold, as
    # its user pays for it.  A warm pass costs half the CPU, but warming up
    # would add a whole cold pass to every run
    WARMUP_ROUNDS = 0
    # the cold pass is mostly JIT and code generation: 2,500 docs and 1,000
    # embeddings cost about 1.2 times the CPU
    sizes = {"n_docs": 1_000, "n_emb": 400}

    def __init__(self, spark, work: str, seed: int, tracer, **sizes):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.sz = {**self.sizes, **sizes}
        self.dir: str | None = None
        self.results: dict[str, tuple] = {}

    def setup(self, rep: int) -> None:
        """Write the tables and scan them once with Spark."""
        d = os.path.join(self.work, f"curation-{rep}")
        gen.write_curation_tables(d, self.seed, self.sz["n_docs"],
                                  self.sz["n_emb"])
        for t, n in (("documents", "n_docs"), ("embeddings", "n_emb")):
            got = self.spark.read.parquet(
                os.path.join(d, f"{t}.parquet")).count()
            if got != self.sz[n]:
                raise RuntimeError(f"{t}: {got} rows, wrote {self.sz[n]}")
        if self.dir is not None:
            shutil.rmtree(self.dir, ignore_errors=True)
        self.dir = d

    def _collect(self, q: str):
        from binaryvectordb_spark.queries import QUERIES
        df = QUERIES[q](self.spark, self.dir)
        return df.columns, df.collect()

    def run_checks(self) -> list[tuple[str, bool]]:
        """The last pass's rows of every query hash-match its DuckDB
        oracle on the same files."""
        import duckdb

        from binaryvectordb_spark.queries import ORACLES
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                p = os.path.join(self.dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            out = []
            for q in self.QUERIES:
                o = con.sql(ORACLES[q])
                ok = q in self.results and (
                    frame_digest(*self.results[q])
                    == frame_digest(o.columns, o.fetchall()))
                out.append((f"oracle.{q}", ok))
            return out
        finally:
            con.close()

    def _keep(self, q: str, result) -> bool:
        cols, rows = result
        self.results[q] = (cols, [tuple(r) for r in rows])
        return True

    def round(self, i: int):
        for q in self.QUERIES:
            yield (f"queries.{q}", self._collect, (q,),
                   lambda r, q=q: self._keep(q, r), True)

    def write_phase(self):
        return iter(())

    def storage(self) -> dict:
        return {}


def _canon(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and v != v:
        return None
    return v


def frame_digest(columns, rows) -> tuple[int, str]:
    """(row count, order-insensitive value hash) with columns sorted by
    name; ints and floats hash differently and floats compare exactly."""
    order = sorted(range(len(columns)), key=lambda j: columns[j])
    canon = sorted(repr(tuple(_canon(r[j]) for j in order)) for r in rows)
    h = hashlib.sha256(repr([columns[j] for j in order]).encode())
    for line in canon:
        h.update(line.encode())
    return len(canon), h.hexdigest()


WORKLOADS = {w.name: w for w in (Serve, CurationBatch)}
