"""Parquet-backed BinaryVectorDB with the reference's API and error semantics.

Maps the reference's stores (BinaryVectorDB/BinaryVectorDB.py):
  faiss index.bin (:58-62)   -> <folder>/index/    parquet (doc_id, vec ARRAY<BIGINT>)
  RocksDB docs dir (:64)     -> <folder>/documents parquet (doc_id, doc, emb_int8)
  config.json (:42-53)       -> <folder>/_meta.json {version, model, dim}
                                (version: the on-disk layout, _LAYOUT)

Mutation is delete-then-insert upsert exactly as :93-101, implemented as an
anti-join + union over hash-bucketed storage: both tiers are laid out as
``bucket=K/`` partition dirs with K = pmod(doc_id, buckets), and an
upsert/delete rewrites ONLY the buckets containing touched keys (the
reference full-rewrites index.bin per save, :165-172 — at 100 TB a 1-row
upsert must not rewrite the corpus; this is the Delta-MERGE-shaped fix
promised in SURVEY §1.3/§2.10).  Untouched bucket files are not opened, not
read, not rewritten.  Visibility is governed by a transaction log
(<folder>/_log/ versioned JSON manifests; see the storage section): every
mutation commits by one atomic manifest rename covering both tiers, so
readers see either all of an upsert or none of it.  No external embedding
API: a deterministic local embedder stands in for the Cohere call (:109), and
pre-embedded input takes the `_add_batch` path (:117-143).

Error semantics mirrored (SURVEY §2.13): non-empty folder without config
(:43-45) — and, beyond the reference, a config naming another layout
version — len mismatch (:78-79), non-int ids (:95-96), docs2text non-str
(:88-89), delete of missing id (:159-160), search on empty index (:190-191).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binaryvectordb_spark.functions.vector import int8_quantize, pack_bits
from binaryvectordb_spark.operators.cascade import (
    DEFAULT_BINARY_OVERSAMPLE,
    DEFAULT_INT8_OVERSAMPLE,
    DEFAULT_K,
    cascade_search,
)
from binaryvectordb_spark.operators.local_serve import (
    LocalCascadeSearcher,
    LocalHybridServer,
    ShardedLocalCascadeSearcher,
    rerank_maxsim,
    rrf_fuse,
)
from binaryvectordb_spark.operators.segments import (
    commit_version,
    log_versions,
    read_version,
    sweep,
    write_json,
)

_META = "_meta.json"
# _meta.json "version": the on-disk layout this code writes, and the only
# one it opens (every earlier revision wrote "1.0")
_LAYOUT = 2
_UNSET = object()


class ConcurrentWriteError(Exception):
    """Another writer committed between this mutation's snapshot and its
    commit attempt.  The mutation's staged output was computed against the
    old snapshot (its anti-join merge would silently drop the other
    writer's rows — a lost update), so it is aborted; its staged files are
    unreferenced strays, garbage-collected at the next successful commit.
    Re-run the mutation to retry against the new state."""


# token -> seeded vector memo for local_embedder, keyed by dim (r16,
# guide §4.5): the per-token work — md5 + RandomState CONSTRUCTION +
# uniform draw — is ~20 µs and was paid once per token OCCURRENCE
# (~500k times for a 5k-doc corpus with a 31-word vocabulary), which made
# the embed pipeline construction-bound, not math-bound.  The memo holds
# each DISTINCT token's vector; values are bit-identical to a fresh
# construction (same seed, same draw), so every determinism pin holds.
# Worker processes are reused across tasks (spark.python.worker.reuse),
# so the module-level dict amortizes across batches AND tasks; the size
# cap bounds worker memory on open-vocabulary corpora.
_TOKEN_VEC_CACHE: dict[int, dict[str, np.ndarray]] = {}
_TOKEN_VEC_CACHE_MAX = 262_144


def _token_vec(tok: str, dim: int) -> np.ndarray:
    per_dim = _TOKEN_VEC_CACHE.setdefault(dim, {})
    v = per_dim.get(tok)
    if v is None:
        seed = int.from_bytes(hashlib.md5(tok.encode()).digest()[:4], "big")
        v = np.random.RandomState(seed).uniform(-1.0, 1.0, dim)
        if len(per_dim) >= _TOKEN_VEC_CACHE_MAX:
            per_dim.clear()
        per_dim[tok] = v
    return v


def local_embedder(texts: Sequence[str], dim: int) -> np.ndarray:
    """Deterministic stand-in for the external embedding API
    (BinaryVectorDB/BinaryVectorDB.py:109).  Bag-of-words of seeded token
    vectors, L2-normalized — stable across processes, no network."""
    out = np.zeros((len(texts), dim), dtype=np.float32)
    for r, t in enumerate(texts):
        acc = np.zeros(dim, dtype=np.float64)
        for tok in str(t).lower().split():
            acc += _token_vec(tok, dim)
        n = np.linalg.norm(acc)
        out[r] = (acc / n if n > 0 else acc).astype(np.float32)
    return out


class BinaryVectorDB:
    def __init__(self, spark: SparkSession, folder: str,
                 model: str = "local-bow-v1", dim: int = 64,
                 embed_fn: Callable[[Sequence[str]], np.ndarray] | None = None,
                 buckets: int = 32,
                 index_type: str = "flat", index_args: dict | None = None,
                 retain_versions: int | None = None):
        if index_type not in ("flat", "ivf"):
            raise ValueError(
                f"index_type must be 'flat' or 'ivf', got {index_type!r}")
        self.spark = spark
        self.folder = folder
        self.dim = dim
        # bucket count is a layout constant fixed at DB creation (like the
        # reference's dim); pmod(doc_id, buckets) must be computable both
        # driver-side (to pick touched buckets without a Spark job) and
        # plan-side, hence identity-mod rather than murmur3.  At 100 TB
        # create the DB with buckets sized so one bucket ~ a few GB.
        self.buckets = buckets
        # pluggable index structure (reference index_type/index_args,
        # BinaryVectorDB/BinaryVectorDB.py:17,:60): "flat" = brute-force
        # Phase I over the whole binary index; "ivf" = KMeans-partitioned,
        # Phase I scans only the nprobe nearest partitions
        self.index_type = index_type
        self.index_args = dict(index_args or {})
        # how many SUPERSEDED versions keep their data files (0 = eager GC,
        # the reference-faithful default: latest state only).  With N > 0,
        # index_df/docs_df(version=...) time-travel to any of the last N+1
        # versions and restore() rolls the DB back.  PERSISTED in _meta.json:
        # retention is a property of the DB, not of one handle — otherwise
        # any writer opened with the default would GC the window another
        # handle relies on.  Constructor arg None = adopt the stored value;
        # an explicit int updates the stored value for every future handle.
        self.retain_versions = 0 if retain_versions is None else int(retain_versions)
        # versions whose files a read in THIS session depends on: _gc/vacuum
        # will not delete them mid-session (time-travel DataFrames are lazy;
        # see index_df/docs_df)
        self._read_pinned: set[int] = set()
        # (model dir, KMeansModel, centers): see _ivf
        self._ivf_cache: tuple | None = None
        # serving-handle memo: (manifest_version, index_df, docs_df,
        # index_nonempty) — see _serving_handles
        self._serve_cache: tuple | None = None
        # (manifest_version, {name: side-index handle}): see _side_index
        self._side_cache: tuple | None = None
        # RAM-tier serving memo (attach_local_serving): requested shard
        # count (None = not attached) and (manifest_version, vec_searcher,
        # bm25_searcher, payload_map) — see _local_searchers
        self._local_serve_shards: int | None = None
        self._local_serve: tuple | None = None
        # (version, stats) computed for a manifest without stats
        self._stats_mem: tuple[int, dict] | None = None
        # _custom_embed_fn must be picklable for the distributed ingest path;
        # the default (None) is rebuilt executor-side from local_embedder+dim
        self._custom_embed_fn = embed_fn
        self.embed_fn = embed_fn or (lambda texts: local_embedder(texts, self.dim))
        # save=False buffer: list of (doc_ids, payloads, kinds, emb) batches
        self._pending: list[tuple[list[int], list[str], list[str], np.ndarray]] = []
        meta_path = os.path.join(folder, _META)
        os.makedirs(folder, exist_ok=True)
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta.get("version") != _LAYOUT:
                raise ValueError(
                    f"Folder {folder} holds a BinaryVectorDB in layout "
                    f"version {meta.get('version')!r}; this engine opens "
                    f"only layout {_LAYOUT}: re-ingest its documents into "
                    "a new folder")
            self.dim = int(meta["dim"])
            self.model = meta["model"]
            self.buckets = int(meta["buckets"])
            self.index_type = meta["index_type"]
            self.index_args = dict(meta["index_args"])
            if retain_versions is None:
                self.retain_versions = int(meta["retain_versions"])
            elif int(retain_versions) != int(meta["retain_versions"]):
                meta["retain_versions"] = int(retain_versions)
                write_json(meta_path, meta)
        elif os.listdir(folder):
            # mirrors :43-45 — refuse a non-empty folder without config
            raise Exception(
                f"Folder {folder} has files but no {_META}; not a BinaryVectorDB")
        else:
            self.model = model
            write_json(meta_path, {
                "version": _LAYOUT, "model": model, "dim": dim,
                "buckets": buckets, "index_type": index_type,
                "index_args": self.index_args,
                "retain_versions": self.retain_versions})

    # -- storage ------------------------------------------------------------
    # Layout: <folder>/<name>/bucket=K/part-*.parquet with
    # K = pmod(doc_id, buckets), plus a transaction log <folder>/_log/
    # holding one JSON manifest per committed version:
    #   v0000000042.json = {"version": 42,
    #                       "tables": {"index":     {"<bucket>": [files...]},
    #                                  "documents": {"<bucket>": [files...]}},
    #                       "side": {"text_index": {segments, ...}, ...},
    #                       "docs_schema": "<StructType json>" | null,
    #                       "stats": {"n_rows", "columns"} | null,
    #                       "ivf": {"model", "built_version",
    #                               "mutated_rows"} | null}
    # The manifest holds the whole versioned state (_meta.json is
    # write-once config), and it — not the directory listing — defines
    # what a reader sees (the Delta/Iceberg idea, SURVEY §1.3).  A mutation
    # stages new parquet files into the live bucket dirs under unique names
    # (invisible: not in any manifest), then COMMITS by atomically renaming
    # one new manifest covering BOTH tiers — so an upsert is all-or-nothing
    # across every touched bucket of `index` AND `documents`, the
    # cross-tier atomicity the reference lacks entirely (full rewrite + no
    # rollback story, README.md:174).  A crash before the rename leaves the previous
    # version fully intact; stray staged files are garbage-collected by the
    # next successful commit.  The derived indexes' state rides the same
    # manifest ("side", see the derived side indexes section), as do the
    # documents schema, the table stats and the IVF partitioner.  At 100 TB
    # the manifest also replaces object-store LIST calls with one small
    # JSON read per query.
    # One layout: _meta.json's "version" (_LAYOUT) names it, and __init__
    # refuses a folder that names another one before writing anything —
    # a DB written by an earlier revision is re-ingested, not migrated.
    # Before the first commit there is no manifest and the DB is empty.
    # Single-writer by design (as is the reference); manifests are tiny and
    # kept forever as an audit trail (`history()`), data files of superseded
    # versions are deleted at commit time.

    _LOG = "_log"
    _DATA_TABLES = ("index", "documents")

    def _path(self, name: str) -> str:
        return os.path.join(self.folder, name)

    def _log_dir(self) -> str:
        return os.path.join(self.folder, self._LOG)

    def _manifest_version(self) -> int | None:
        """Latest committed version, or None before the first commit."""
        vs = log_versions(self._log_dir())
        return vs[-1] if vs else None

    def _head(self) -> dict:
        return self._manifest_of(self._manifest_version())

    def _manifest_tables(self) -> dict:
        return self._head()["tables"]

    def _manifest_of(self, version: int | None) -> dict:
        """One committed manifest (for version None, the empty state
        before the first commit) — no data-file existence check; reads
        use _manifest_at."""
        if version is None:
            return {"version": 0, "tables": {}, "side": {},
                    **dict.fromkeys(self._ENTRIES)}
        path = os.path.join(self._log_dir(), f"v{int(version):010d}.json")
        if not os.path.isfile(path):
            raise ValueError(f"no committed version {version} "
                             f"(latest is {self._manifest_version()})")
        return read_version(self._log_dir(), version)

    def _commit(self, updates: dict[str, dict], expect=_UNSET) -> None:
        """THE atomic commit point: one manifest link makes every entry of
        `updates` visible simultaneously — a table's full new
        bucket->files map, a side index's new state (None drops it), or
        a new docs_schema / stats / ivf entry.  Entries not mentioned are
        kept; an update with no files drops the table (full-delete edge).
        A commit that changes the documents table (and names no stats)
        computes the table stats of the staged documents first; they are
        advisory, so a failure leaves the entry null (table_stats then
        computes on demand).  After the commit, no-longer-retained
        files are deleted and Spark caches on the updated tables
        invalidated (cache manager matches by plan, and a plan built from
        the old manifest's file list must not serve stale blocks).

        Optimistic concurrency: `expect` is the manifest version the
        mutation read its snapshot from (None before the first commit).  If
        another writer committed since, the merge was computed from stale
        data; abort with ConcurrentWriteError rather than lose its update.
        Both the base tables AND the target version number are pinned to the
        snapshot — re-reading the live manifest here would let a racer that
        lands after the version check slip underneath (we would merge our
        stale tables over its commit and link a FRESH filename, silently
        dropping its rows).  Pinned, any intervening commit owns v+1 already
        and the link(2) create — which fails on an existing target, unlike
        rename(2) — aborts us at the commit instant."""
        if expect is not _UNSET:
            live = self._manifest_version()
            if live != expect:
                raise ConcurrentWriteError(
                    f"snapshot was v{expect}, but v{live} has since been "
                    "committed; mutation aborted (staged files will be "
                    "garbage-collected)")
        else:
            expect = self._manifest_version()
        base = self._manifest_of(expect)
        v = (expect or 0) + 1
        body = {"version": v, "tables": dict(base["tables"]),
                "side": dict(base["side"]),
                **{k: base[k] for k in self._ENTRIES}}
        for name, entry in updates.items():
            if name in self._ENTRIES:
                body[name] = entry
                continue
            into = body["side"] if name in self._SIDE_DIRS else body["tables"]
            if into is body["tables"]:
                entry = {b: fl for b, fl in entry.items() if fl}
            if entry:
                into[name] = entry
            else:
                into.pop(name, None)
        if "documents" in updates and "stats" not in updates:
            try:
                body["stats"] = self._compute_stats(self._files_df(
                    "documents", body["tables"].get("documents") or {},
                    body))
            except Exception:
                body["stats"] = None
        try:
            commit_version(self._log_dir(), v, body)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {v} was committed by another writer at the commit "
                "instant; mutation aborted (staged files will be "
                "garbage-collected)") from None
        self._gc(self.retain_versions + 1)
        for name in updates.keys() & set(self._DATA_TABLES):
            self.spark.catalog.refreshByPath(self._path(name))

    # manifest entries beside tables and side (see the storage layout)
    _ENTRIES = ("docs_schema", "stats", "ivf")
    # IVF model dirs are ivf_model_<uuid>
    _IVF_DIR = "ivf_model"

    def _gc(self, keep_last: int, respect_pins: bool = True) -> None:
        """Delete every data file, side-index seg_*/tomb_* dir and IVF
        model dir none of the latest `keep_last` manifests references:
        those of versions that aged out of retention, and strays from
        crashed or aborted commit attempts.  Safe under the single-writer assumption —
        nothing unreferenced can be mid-read by a committed reader.
        Versions this handle time-traveled to are pinned for the session:
        commit-time GC keeps their files even past the retention window
        (versioned DataFrames are lazy and may execute after a later
        commit); an explicit vacuum() overrides the pins."""
        log = self._log_dir()
        retained = [read_version(log, v)
                    for v in log_versions(log)[-max(1, keep_last):]]
        if respect_pins:
            for pv in sorted(self._read_pinned):
                try:
                    retained.append(self._manifest_of(pv))
                except ValueError:
                    self._read_pinned.discard(pv)
        keep: dict[str, set[str]] = {}  # table -> kept relpaths
        for m in retained:
            for name, bmap in m["tables"].items():
                s = keep.setdefault(name, set())
                for b, fl in bmap.items():
                    rd = self._key_reldir(b)
                    for f in fl:
                        s.add(os.path.join(rd, f) if rd else f)
        for name in self._DATA_TABLES:
            p = self._path(name)
            if not os.path.isdir(p):
                continue
            kset = keep.get(name) or set()
            # bottom-up walk: remove unreferenced files (aged-out versions,
            # crashed-commit strays), then now-empty partition dirs
            for root, dirs, files in os.walk(p, topdown=False):
                for f in files:
                    if os.path.relpath(os.path.join(root, f), p) not in kset:
                        os.remove(os.path.join(root, f))
                for d in dirs:
                    full = os.path.join(root, d)
                    if os.path.isdir(full) and not os.listdir(full):
                        os.rmdir(full)
            if not os.listdir(p):
                os.rmdir(p)
        for name in self._SIDE_DIRS:
            p = self._path(name)
            if not os.path.isdir(p):
                continue
            kset = set()
            for m in retained:
                st = m["side"].get(name)
                if st is not None:
                    kset.update(st["segments"] + st["tombstones"])
            sweep(p, kset)
            if not os.listdir(p):
                os.rmdir(p)
        models = {m["ivf"]["model"] for m in retained if m["ivf"] is not None}
        for d in os.listdir(self.folder):
            if d.startswith(self._IVF_DIR) and d not in models:
                shutil.rmtree(self._path(d), ignore_errors=True)

    def vacuum(self, keep_last: int = 1) -> None:
        """One-shot GC to the latest `keep_last` versions' files (Delta
        VACUUM): reclaims space held by `retain_versions` immediately, at
        the cost of time-travel reach.  Manifests themselves are never
        deleted — history() stays complete; a read of a vacuumed version
        fails with an explicit error.  Unlike commit-time GC, an explicit
        vacuum also reclaims versions this session has time-traveled to
        (the Delta VACUUM contract) — collect those DataFrames first."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the live version)")
        self._gc(keep_last, respect_pins=False)
        # the override just reclaimed pinned versions' files: drop the pins
        # that are now unreadable so later commit-time GCs stop carrying
        # dead entries (and their manifests' file lists) forever
        for pv in list(self._read_pinned):
            try:
                self._manifest_at(pv)
            except ValueError:
                self._read_pinned.discard(pv)

    def history(self) -> list[dict]:
        """The committed version trail, oldest first:
        [{'version': N, 'tables': {name: total file count}}].  Manifests are
        retained forever (bytes); DATA files of superseded versions survive
        only within `retain_versions` (see index_df/docs_df(version=...) and
        restore()) — beyond that, history is an audit trail."""
        d = self._log_dir()
        return [{"version": m["version"],
                 "tables": {n: sum(len(fl) for fl in b.values())
                            for n, b in m["tables"].items()}}
                for m in (read_version(d, v) for v in log_versions(d))]

    def _exists(self, name: str) -> bool:
        return bool(self._manifest_tables().get(name))

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.col("doc_id"), F.lit(self.buckets)).cast("int"))

    # -- manifest keys --------------------------------------------------------
    # A manifest bucket key is either "K" (layout bucket=K/, every table) or
    # "C/K" (layout cluster=C/bucket=K/ — the IVF index after build_ivf:
    # the OUTER partition level is the IVF cluster, so a probe's
    # `cluster IN (...)` predicate is a PARTITION filter and Spark never
    # opens the unprobed clusters' files; the INNER level keeps doc_id
    # bucketing so mutations still rewrite only touched buckets).

    @staticmethod
    def _key_reldir(key: str) -> str:
        """Manifest bucket key -> directory path relative to the table
        root."""
        if "/" in key:
            c, b = key.split("/", 1)
            return os.path.join(f"cluster={c}", f"bucket={b}")
        return f"bucket={key}"

    @staticmethod
    def _key_sort(key: str) -> tuple:
        return tuple(int(x) for x in key.split("/"))

    @staticmethod
    def _key_bucket(key: str) -> str:
        """The doc_id-bucket component of a manifest key (last segment)."""
        return key.rsplit("/", 1)[-1]

    def _files_df(self, name: str, bmap: dict,
                  manifest: dict) -> DataFrame | None:
        """Build the reader for a table entry ``bmap`` of ``manifest``:
        explicit file list, with basePath so the partition columns
        (bucket; cluster+bucket for an IVF-partitioned index) still prune.
        The documents table applies the manifest's docs_schema (when
        present): metadata columns evolve the schema, buckets rewritten
        before the column existed lack it physically, and ONE explicit
        schema makes parquet fill the gaps with nulls — the Delta-style
        alternative to a mergeSchema footer scan over every file."""
        p = self._path(name)
        reader = self.spark.read
        if name == "documents" and manifest["docs_schema"]:
            from pyspark.sql.types import StructType
            reader = reader.schema(StructType.fromJson(
                json.loads(manifest["docs_schema"])))
        files = [os.path.join(p, self._key_reldir(b), f)
                 for b in sorted(bmap, key=self._key_sort)
                 for f in bmap[b]]
        if not files:
            return None
        df = reader.option("basePath", p).parquet(*files)
        return df.drop("bucket") if "bucket" in df.columns else df

    def _read_df(self, name: str) -> DataFrame | None:
        m = self._head()
        bmap = m["tables"].get(name)
        return self._files_df(name, bmap, m) if bmap else None

    def _manifest_at(self, version: int) -> dict:
        """The manifest of a specific committed version, with an existence
        check on every referenced data file (a version older than the
        retention window has been vacuumed: its manifest survives, its
        data does not)."""
        m = self._manifest_of(version)
        for name, bmap in m["tables"].items():
            p = self._path(name)
            for b, fl in bmap.items():
                d = os.path.join(p, self._key_reldir(b))
                for fn in fl:
                    if not os.path.isfile(os.path.join(d, fn)):
                        raise ValueError(
                            f"version {version} has been vacuumed (data file "
                            f"{name}/{self._key_reldir(b)}/{fn} is gone); "
                            "only versions inside the retention window are "
                            "readable")
        return m

    def _read_version_df(self, name: str, version: int) -> DataFrame | None:
        m = self._manifest_at(version)
        bmap = m["tables"].get(name)
        # Time-travel DataFrames are lazy: pin the version so this handle's
        # own commit-time GC cannot delete its files before the plan
        # executes.  SCOPE: pins live in THIS handle's memory only — they do
        # not persist, and another handle on the same folder (or this one
        # after an explicit vacuum(), which overrides pins by contract) can
        # still reclaim the files; a versioned read that must survive other
        # writers should collect() promptly or raise retain_versions so the
        # retention window itself (which every writer honors, no pin needed)
        # covers the read.
        self._read_pinned.add(int(version))
        return self._files_df(name, bmap, m) if bmap else None

    def index_df(self, version: int | None = None) -> DataFrame | None:
        """The binary index tier; `version` time-travels to an earlier
        committed snapshot (requires retain_versions > 0 to still have the
        files — the manifest pins exactly which)."""
        if version is not None:
            return self._read_version_df("index", version)
        return self._read_df("index")

    def docs_df(self, version: int | None = None) -> DataFrame | None:
        if version is not None:
            return self._read_version_df("documents", version)
        return self._read_df("documents")

    # -- table statistics -----------------------------------------------------
    # Per-snapshot stats over the docs table's filterable metadata columns
    # (everything except the payload/embedding columns): row count, per-column
    # NDV, and a value->count frequency map for low-NDV columns.  They are
    # the manifest's "stats" entry, computed by the commit that changes the
    # documents (carried forward by the others) — stats describe a
    # SNAPSHOT, so riding its manifest gives exact invalidation, and a
    # manifest without them (failed computation, pre-stats DB) just
    # recomputes on demand.  The serving win: a filtered search estimates
    # predicate selectivity from the frequency map instead of paying two
    # count jobs per query (operators/cascade.py
    # cascade_search_filtered_adaptive's `selectivity` input).

    _STATS_NDV_CAP = 64  # freq maps only for columns at or under this NDV
    _STATS_SKIP_COLS = ("doc", "emb_int8")  # payload/embedding: not filterable

    def _compute_stats(self, docs: DataFrame | None) -> dict:
        if docs is None:
            return {"n_rows": 0, "columns": {}}
        tracked = [c for c, t in docs.dtypes
                   if c not in self._STATS_SKIP_COLS
                   and t in ("string", "boolean", "tinyint", "smallint",
                             "int", "bigint", "date")]
        aggs = [F.count("*").alias("__n_rows")]
        aggs += [F.count_distinct(F.col(c)).alias(c) for c in tracked]
        row = docs.agg(*aggs).first()
        n_rows = int(row["__n_rows"])
        cols: dict = {c: {"ndv": int(row[c])} for c in tracked}
        small = [c for c in tracked
                 if c != "doc_id" and int(row[c]) <= self._STATS_NDV_CAP]
        if small and n_rows:
            # ONE grouped pass for every low-NDV column's frequency map:
            # unpivot (col, value) pairs, hash-agg — rows out = sum of NDVs
            ent = F.explode(F.array(*[
                F.struct(F.lit(c).alias("c"),
                         F.col(c).cast("string").alias("v"))
                for c in small])).alias("e")
            for r in docs.select(ent).groupBy("e.c", "e.v").count().collect():
                info = cols[r["c"]]
                if r["v"] is None:
                    info["null_count"] = int(r["count"])
                else:
                    info.setdefault("freq", {})[r["v"]] = int(r["count"])
        return {"n_rows": n_rows, "columns": cols}

    def table_stats(self, refresh: bool = False) -> dict | None:
        """Stats of the docs table at the current committed version:
        ``{"version", "n_rows", "columns": {col: {"ndv", "freq"?,
        "null_count"?}}}``.  Reads the manifest's stats entry (no Spark
        job); computes them, memoized in this handle, when the manifest
        has none or ``refresh=True``."""
        v = self._manifest_version()
        if v is None:
            return None
        st = self._manifest_of(v)["stats"]
        if st is not None and not refresh:
            return {"version": v, **st}
        if refresh or self._stats_mem is None or self._stats_mem[0] != v:
            self._stats_mem = (v, {"version": v,
                                   **self._compute_stats(self.docs_df())})
        return self._stats_mem[1]

    @staticmethod
    def _stats_key(value) -> str:
        # frequency-map keys are the Spark string cast of the value;
        # booleans cast to 'true'/'false', not Python's 'True'/'False'
        if isinstance(value, bool):
            return "true" if value else "false"
        return str(value)

    def _estimate_selectivity(self, filter) -> float | None:
        """Estimated fraction of docs a dict-filter keeps, from the
        commit-time frequency maps (independence across conjuncts — the
        textbook estimator).  None when the filter shape or stats cannot
        answer (SQL-string predicates, untracked or high-NDV columns) —
        the caller then falls back to measuring."""
        if not isinstance(filter, dict) or not filter:
            return None
        st = self.table_stats()
        if not st or not st.get("n_rows"):
            return None
        frac = 1.0
        for c, vals in filter.items():
            info = (st.get("columns") or {}).get(c)
            if info is None or "freq" not in info:
                return None
            vs = (list(vals) if isinstance(vals, (list, tuple, set, frozenset))
                  else [vals])
            matched = sum(info["freq"].get(self._stats_key(x), 0) for x in vs)
            frac *= matched / st["n_rows"]
        return frac

    def restore(self, version: int) -> None:
        """Roll the DB back to an earlier committed snapshot (Delta
        RESTORE): commits a NEW version whose manifest references version
        `version`'s files — history moves forward, data moves back.  Needs
        the target inside the retention window (files still on disk); the
        restored files are referenced by the new head, so they survive
        subsequent GC regardless of age.  The side indexes, the docs
        schema and the IVF partitioner (its model dir and drift counter)
        come back as they were at `version`; the dirs they name must
        still be on disk too."""
        self._flush_pending()
        expect = self._manifest_version()
        m = self._manifest_at(version)  # validates existence + files
        side = m["side"]
        # a side-index or IVF commit leaves the data files alone, so v's
        # data can outlive the dirs its side and ivf entries name
        gone = [f"{n}/{d}" for n, st in side.items()
                for d in st["segments"] + st["tombstones"]
                if not os.path.isdir(os.path.join(self._path(n), d))]
        if m["ivf"] and not os.path.isdir(self._path(m["ivf"]["model"])):
            gone.append(m["ivf"]["model"])
        if gone:
            raise ValueError(f"version {version} has been vacuumed (dir "
                             f"{gone[0]} is gone); only versions "
                             "inside the retention window are readable")
        self._commit({**{name: dict(m["tables"].get(name) or {})
                         for name in self._DATA_TABLES},
                      **{name: side.get(name) for name in self._SIDE_DIRS},
                      "docs_schema": m["docs_schema"], "ivf": m["ivf"]},
                     expect=expect)

    def _read_buckets(self, name: str, touched: list[int]) -> DataFrame | None:
        """Scan ONLY the touched buckets — the partial-rewrite read path.
        Returns None when none of them hold data yet."""
        m = self._head()
        tset = {str(b) for b in touched}
        sel = {k: fl for k, fl in (m["tables"].get(name) or {}).items()
               if self._key_bucket(k) in tset and fl}
        return self._files_df(name, sel, m) if sel else None

    def _stage(self, df: DataFrame, name: str, nparts: int,
               sort_cols: Sequence[str] = (),
               writer_opts: dict | None = None) -> dict[str, list[str]]:
        """Write `df` in bucketed layout and move the part files into the
        live bucket dirs under their (globally unique) names.  Returns
        {bucket_key: [filenames]} for the manifest.  A df carrying a
        `cluster` column (IVF index after build_ivf) is written
        partitionBy(cluster, bucket) — two directory levels, keys "C/K" —
        so serving probes prune FILES, not rows.  Staged files are INVISIBLE
        until a manifest referencing them is committed — a crash here
        leaves only strays for the next commit's GC.

        ``sort_cols`` (optimize_layout's z-value) sorts rows WITHIN each
        bucket task before the write — the sort columns are dropped from
        the written file, the row order survives the projection, and the
        resulting parquet row-group stats are tight on whatever the sort
        clustered.  When no explicit sort is given, rows sort by doc_id
        (kept, it's a data column): a bucket file's row groups then carry
        disjoint doc_id ranges, so the point-read path's pushed-down
        In(doc_id, ...) prunes ROW GROUPS inside the bucket file — at
        100 TB a get touches a few MB of one multi-GB bucket, not the
        bucket (pinned by tests/test_db_layout.py).  ``writer_opts``
        passes parquet writer options through (optimize_layout uses
        parquet.block.size to control row-group granularity)."""
        tmp = self._path(name + "__stage")
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        part_cols = (["cluster", "bucket"] if "cluster" in df.columns
                     else ["bucket"])
        # repartition by ALL partition columns: each (cluster, bucket) pair
        # then lands in exactly one task, so partitionBy emits exactly one
        # file per leaf dir instead of nparts files per dir
        staged = self._with_bucket(df).repartition(max(1, nparts), *part_cols)
        if sort_cols:
            staged = (staged.sortWithinPartitions(*part_cols, *sort_cols)
                      .drop(*sort_cols))
        elif "doc_id" in df.columns:
            staged = staged.sortWithinPartitions(*part_cols, "doc_id")
        w = staged.write.mode("overwrite")
        for k, v in (writer_opts or {}).items():
            w = w.option(k, v)
        w.partitionBy(*part_cols).parquet(tmp)
        out: dict[str, list[str]] = {}
        p = self._path(name)
        for root, _dirs, names in os.walk(tmp):
            pq = [f for f in names if f.endswith(".parquet")]
            if not pq:
                continue
            rel = os.path.relpath(root, tmp)
            segs = rel.split(os.sep)
            if not all("=" in s for s in segs):
                continue  # not a partition leaf (defensive)
            key = "/".join(s.split("=", 1)[1] for s in segs)
            dest = os.path.join(p, rel)
            os.makedirs(dest, exist_ok=True)
            for f in pq:
                os.rename(os.path.join(root, f), os.path.join(dest, f))
            out[key] = sorted(pq)
        shutil.rmtree(tmp)
        return out

    def _full_update(self, df: DataFrame, name: str) -> dict[str, list[str]]:
        """Stage a full-table rewrite (build_ivf, compact); the caller
        commits."""
        return self._stage(df, name, self.buckets)

    def _bucket_update(self, df: DataFrame, name: str,
                       touched: list[int]) -> dict[str, list[str]]:
        """Stage `df` as the new contents of the touched buckets; every
        other bucket keeps its current (untouched, byte-identical) files —
        an upsert of B buckets costs O(size of B), not O(corpus).  A touched
        bucket `df` has no rows for maps to [] (deleted at commit).  On a
        cluster-partitioned index the replace unit is still the doc_id
        bucket: every "C/K" entry with K touched is dropped and the staged
        "C'/K" entries (the bucket's rows, wherever they now cluster) take
        their place."""
        staged = self._stage(df, name, len(touched))
        out = dict(self._manifest_tables().get(name) or {})
        tset = {str(b) for b in touched}
        for k in list(out):
            if self._key_bucket(k) in tset:
                del out[k]
        for k, fl in staged.items():
            if self._key_bucket(k) in tset:
                out[k] = fl
            else:  # staged rows outside the touched set would be orphaned
                raise AssertionError(
                    f"staged key {k} outside touched buckets {sorted(tset)}")
        return out

    def _touched_buckets(self, doc_ids: Sequence[int]) -> list[int]:
        return sorted({int(i) % self.buckets for i in doc_ids})

    # -- pluggable IVF index (reference index_type/index_args,
    #    BinaryVectorDB/BinaryVectorDB.py:17,:60) ----------------------------
    # The partitioner is a seeded MLlib KMeans over the stored int8
    # embeddings.  build_ivf rewrites the index partitionBy(cluster, bucket):
    # the cluster is the OUTER directory level, so the serving probe's
    # `cluster IN (...)` predicate plans as a PartitionFilter — Spark skips
    # the unprobed clusters' FILES at planning time (the Spark realization
    # of faiss scanning only probed lists: at 100 TB a probe touches
    # nprobe/k of the index bytes, not all of them).  The inner bucket level
    # keeps mutations rewriting only touched doc_id buckets.  On the cached
    # RAM tier the same predicate prunes via in-memory batch stats.
    # Each build saves its model into a fresh ivf_model_<uuid> dir that the
    # manifest's "ivf" entry names, so the model a version was assigned
    # with stays on disk while that version is retained (restore) and a
    # handle memoizing one model sees the next by its new name.

    def _ivf_args(self) -> dict:
        args = {"n_clusters": 16, "nprobe": 4}
        args.update(self.index_args)
        return args

    def _ivf(self) -> tuple | None:
        """(KMeansModel, centers matrix) of the partitioner the head
        version names, or None before the first build_ivf.  Memoized on
        the model dir, which no build reuses."""
        ivf = self._head()["ivf"]
        if ivf is None:
            return None
        if self._ivf_cache is None or self._ivf_cache[0] != ivf["model"]:
            from pyspark.ml.clustering import KMeansModel
            model = KMeansModel.load(self._path(ivf["model"]))
            # memoize the centers matrix: clusterCenters() round-trips every
            # centroid through py4j (~40 ms/query at k=32 — measurable
            # against a ~0.5 s serving latency); the matrix is immutable for
            # a given trained model
            self._ivf_cache = (ivf["model"], model,
                               np.vstack(model.clusterCenters()))
        return self._ivf_cache[1:]

    @staticmethod
    def _with_cluster(df: DataFrame, int8_col: str, model) -> DataFrame:
        """Attach the IVF partition id by nearest trained centroid — a
        map-side model.transform over the int8 feature space (the space the
        model was trained in), no shuffle, no join."""
        from pyspark.ml.functions import array_to_vector
        feats = df.withColumn(
            "features", array_to_vector(F.col(int8_col).cast("array<double>")))
        return model.transform(feats).drop("features")

    def build_ivf(self, n_clusters: int | None = None) -> None:
        """Train (or retrain) the IVF partitioner on the current corpus and
        rewrite the index with per-row cluster ids.  Called automatically on
        the first ingest of an index_type='ivf' DB; call explicitly to
        re-center after heavy churn (the reference retrains by rebuilding
        the faiss index the same way).  One full-index join+rewrite — a
        build-time cost, never paid per search or per mutation."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        self._flush_pending()
        expect = self._manifest_version()  # OCC snapshot
        docs = self.docs_df()
        if docs is None or not docs.take(1):
            raise Exception("Index is empty; add documents first")
        k = int(n_clusters or self._ivf_args()["n_clusters"])
        k = max(1, min(k, docs.count()))
        feats = docs.select(
            "doc_id",
            array_to_vector(F.col("emb_int8").cast("array<double>"))
            .alias("features"))
        km = KMeans(k=k, seed=42,
                    maxIter=int(self._ivf_args().get("maxIter", 20)),
                    featuresCol="features", predictionCol="cluster")
        # train on a sample when asked (index_args train_fraction): the
        # standard IVF practice (faiss trains coarse quantizers on a
        # subsample) — centroid quality converges long before the full
        # corpus is seen, and assignment below is always over ALL rows
        frac = float(self._ivf_args().get("train_fraction", 1.0))
        if frac >= 1.0:
            train = feats
        else:
            # deterministic, ORDER-INSENSITIVE sample: .sample(seed=...) is
            # seeded per partition, so membership depends on the upstream
            # shuffle's nondeterministic row placement — the same corpus
            # trained different centroids per session (observed as the
            # unexplained cascade_1m_ivf_scan_fraction moves, r5-r7
            # benches).  Hash-THRESHOLD on doc_id instead: membership is a
            # pure function of the data, and the achieved fraction tracks
            # the requested one for ANY frac (the r8 denom=round(1/frac)
            # form collapsed to 1/round(1/frac): 0.7 trained on 100%, 0.4
            # on 50% — ADVICE r8).
            train = feats.where(
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(1_000_000))
                < int(frac * 1_000_000))
        # pin the train set's partitioning AND intra-partition order so the
        # seeded k-means|| init sees an identical sequence every run —
        # without this, identical data can still yield different centroids
        # (init sampling is positional)
        train = train.repartition(32, "doc_id").sortWithinPartitions("doc_id")
        model = km.fit(train)
        # a failed commit leaves this dir unnamed: the next commit's _gc
        # deletes it, and the old model keeps serving
        model_dir = f"{self._IVF_DIR}_{uuid.uuid4().hex}"
        model.save(self._path(model_dir))
        assign = self._with_cluster(
            docs.select("doc_id", "emb_int8"), "emb_int8", model
        ).select("doc_id", "cluster")
        idx = self.index_df()
        if "cluster" in idx.columns:
            idx = idx.drop("cluster")
        # shuffle_hash hint: both sides are corpus-sized, but Catalyst's
        # column-pruned size estimate of the 2-column assignment can dip
        # under the broadcast threshold and BROADCAST a corpus-sized side —
        # flaky driver OOM at 1M rows, certain death at 100 TB
        # fresh centroids reset the drift counter: every row is now
        # assigned by the model that was trained on it
        self._commit(
            {"index": self._full_update(
                idx.join(assign.hint("shuffle_hash"), "doc_id"), "index"),
             "ivf": {"model": model_dir, "built_version": (expect or 0) + 1,
                     "mutated_rows": 0}},
            expect=expect)

    # -- IVF drift ----------------------------------------------------------
    # Upserts assign clusters with the FROZEN centroids (_with_cluster), so
    # a heavily mutated DB slowly degrades probe recall: rows drawn from a
    # distribution the partitioner never saw land in whichever old centroid
    # is nearest, and clusters bloat/starve.  faiss has no counterpart (the
    # reference rebuilds the flat index wholesale); here the churn since the
    # last build_ivf is counted in the manifest's "ivf" entry by the
    # mutation's own commit and surfaced as a metric with a rebuild
    # recommendation — or an automatic rebuild under
    # index_args={"auto_rebuild": True}.

    def _ivf_churn(self, expect: int | None, n_rows: int) -> dict:
        """The ``ivf`` update of a mutation of ``n_rows`` rows planned
        against version ``expect`` ({} unless it is a built IVF DB)."""
        ivf = (self._manifest_of(expect)["ivf"]
               if self.index_type == "ivf" else None)
        if ivf is None:
            return {}
        return {"ivf": dict(ivf, mutated_rows=ivf["mutated_rows"] + n_rows)}

    def _maybe_rebuild_ivf(self, mutated: int) -> None:
        """Rebuild under the auto_rebuild flag once ``mutated`` rows reach
        drift_threshold of the corpus.  The fraction uses the commit-time
        stats row count — no Spark job on the mutation path."""
        if not self._ivf_args().get("auto_rebuild"):
            return
        st = self.table_stats()
        n = int(st["n_rows"]) if st else 0
        thr = float(self._ivf_args().get("drift_threshold", 0.3))
        if n and mutated / n >= thr:
            self.build_ivf()

    def ivf_drift(self) -> dict:
        """Drift diagnostics for an index_type='ivf' DB:

        - ``mutated_rows`` / ``mutated_fraction``: rows upserted or deleted
          since the last build_ivf, relative to the current corpus — the
          rows whose cluster assignment the trained partitioner never saw.
        - ``cluster_skew``: max/mean cluster size (one grouped count job) —
          bloated clusters mean the probe scans more than nprobe/k of the
          corpus even at zero churn.
        - ``rebuild_recommended``: mutated_fraction >= index_args
          drift_threshold (default 0.3).  build_ivf() resets the counter.
        """
        self._flush_pending()
        ivf = self._head()["ivf"]
        if self.index_type != "ivf" or ivf is None:
            raise ValueError("ivf_drift() requires a built index_type='ivf' DB")
        mutated = int(ivf["mutated_rows"])
        sizes = [int(r["count"]) for r in
                 self.index_df().groupBy("cluster").count().collect()]
        n = sum(sizes)
        frac = (mutated / n) if n else 0.0
        thr = float(self._ivf_args().get("drift_threshold", 0.3))
        return {
            "mutated_rows": mutated,
            "n_rows": n,
            "mutated_fraction": round(frac, 6),
            "n_clusters": len(sizes),
            "cluster_skew": round(max(sizes) / (n / len(sizes)), 4)
                            if sizes and n else 0.0,
            "drift_threshold": thr,
            "built_at_version": ivf["built_version"],
            "rebuild_recommended": frac >= thr,
        }

    def _probe_clusters(self, qvec: np.ndarray, nprobe: int,
                        centers: np.ndarray | None = None) -> list[int]:
        """nprobe nearest centroids to the query (L2 in the trained int8
        space; ties by cluster id) — a k-row numpy argsort on the driver.
        ``centers`` defaults to the head version's."""
        if centers is None:
            centers = self._ivf()[1]
        scaled = np.clip(np.asarray(qvec, dtype=np.float64), -1, 1) * 127
        # HALF_UP (away from zero), matching int8_quantize — np.round is
        # half-to-even and would land .5 cases in a different int8 space
        # than the one the centroids were trained in
        qi = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)
        d2 = ((centers - qi) ** 2).sum(axis=1)
        order = np.lexsort((np.arange(len(d2)), d2))
        return [int(i) for i in order[:max(1, nprobe)]]

    def _maybe_prune_index(self, idx: DataFrame, qvecs, nprobe: int | None
                           ) -> DataFrame:
        """IVF probe filter for serving: restrict the index to the union of
        the queries' nprobe nearest clusters.  No-op on flat DBs or before
        the first build.  On the cluster-partitioned layout this predicate
        is a PARTITION filter (asserted in tests/test_plans.py): a cold scan
        opens only the probed clusters' files."""
        ivf = (self._ivf() if self.index_type == "ivf"
               and "cluster" in idx.columns else None)
        if ivf is None:
            return idx
        np_ = int(nprobe or self._ivf_args()["nprobe"])
        probe = sorted({c for q in qvecs
                        for c in self._probe_clusters(q, np_, ivf[1])})
        return idx.where(F.col("cluster").isin(probe))

    # -- mutation (reference "DML", §2.10) ----------------------------------
    @staticmethod
    def _encode_payload(d) -> tuple[str, str]:
        """Typed payloads (reference stores any pickleable object, :73,:153):
        strings pass through; anything else round-trips via JSON with a
        `doc_kind` tag so reads return the ORIGINAL Python object, not its
        serialization.  (A production system on Spark 4 could store VARIANT;
        tagged JSON keeps the table portable to any parquet reader.)"""
        if isinstance(d, str):
            return d, "str"
        try:
            return json.dumps(d), "json"
        except TypeError as e:
            raise ValueError(
                f"payload {type(d).__name__} is not str or JSON-serializable"
            ) from e

    @staticmethod
    def decode_payload(doc: str, kind: str):
        return json.loads(doc) if kind == "json" else doc

    def add_documents(self, doc_ids: Sequence[int], docs: Sequence,
                      docs2text: Callable | None = None,
                      save: bool = True) -> None:
        """Bulk upsert = delete-then-insert (:93-101) via anti-join + union.
        ``save=False`` (reference :67,:114,:155) defers persistence: batches
        buffer on the driver and the next ``save()`` — or any read/serve/
        delete call, which flushes implicitly so results always reflect
        every add — merges them in ONE bucket-rewrite round instead of N."""
        if len(doc_ids) != len(docs):
            raise ValueError("doc_ids and docs must have the same length")  # :78-79
        if len(doc_ids) == 0:
            return  # empty batches are legitimate no-ops (as in add_batch)
        for i in doc_ids:
            if not isinstance(i, (int, np.integer)) or isinstance(i, bool):
                raise ValueError(f"doc_id {i!r} is not an int")  # :95-96
        docs2text = docs2text or (lambda d: d if isinstance(d, str) else json.dumps(d))
        texts = []
        for d in docs:
            t = docs2text(d)
            if not isinstance(t, str):
                raise ValueError("docs2text must return str")  # :88-89
            texts.append(t)
        payloads, kinds = zip(*[self._encode_payload(d) for d in docs])
        emb = self.embed_fn(texts)
        self._enqueue(list(doc_ids), list(payloads), list(kinds), emb, save)

    def add_batch(self, doc_ids: Sequence[int], docs: Sequence[str],
                  embeddings: np.ndarray, save: bool = True) -> None:
        """Pre-embedded bulk upsert — the `_add_batch` path (:117-143)."""
        if not (len(doc_ids) == len(docs) == len(embeddings)):
            raise ValueError("length mismatch")  # :134-136
        if len(doc_ids) == 0:
            return  # empty micro-batches are legitimate no-ops
        ids = np.asarray(doc_ids)
        if not np.issubdtype(ids.dtype, np.integer):
            raise ValueError("doc_ids dtype must be integer")  # :131-132
        payloads, kinds = zip(*[self._encode_payload(d) for d in docs])
        self._enqueue([int(i) for i in doc_ids], list(payloads), list(kinds),
                      np.asarray(embeddings, dtype=np.float32), save)

    # above this many incoming keys, the anti-join's delete-filter side is
    # no longer broadcast (1M longs ≈ tens of MB in JVM form — a flaky
    # driver OOM locally, fatal at 100 TB); shuffle_hash keeps the join
    # driver-free and still avoids a sort
    _BROADCAST_KEYS_MAX = 500_000

    def _keys_side(self, keys: DataFrame, n_keys: int | None):
        """The delete-filter side of the upsert anti-join: broadcast when
        the batch is known-small, shuffle_hash when corpus-sized or unknown
        at corpus scale (n_keys=None means a driver-side batch — always
        small by construction)."""
        if n_keys is not None and n_keys > self._BROADCAST_KEYS_MAX:
            return keys.hint("shuffle_hash")
        return F.broadcast(keys)

    def _merge_and_swap(self, new_index: DataFrame, new_docs: DataFrame,
                        keys: DataFrame, touched: list[int],
                        n_keys: int | None = None) -> None:
        """Delete-then-insert merge (:93-101) — the single upsert
        implementation shared by every ingest path.  Only the `touched`
        buckets are read, anti-joined, and swapped (a first load reads
        nothing and stages the batch).

        User metadata columns (add_batch_df meta_cols) evolve the docs
        schema — those union with allowMissingColumns (nulls for rows
        ingested before the column existed), and the union of the base
        version's docs_schema and the merged batch's schema rides the
        commit, so readers apply ONE explicit schema across mixed-schema
        buckets (no mergeSchema footer storm at scale; parquet fills
        absent columns with null)."""
        # OCC snapshot: the version every read below is planned against;
        # _commit aborts if another writer lands in between (lost update)
        expect = self._manifest_version()
        # the batch alone, pre-merge, for the side-index staging —
        # MATERIALIZED once: the side indexes read it several times
        # (segment, tombstone, maintenance), and re-evaluating a
        # non-deterministic source could stage rows the doc store never
        # holds.  localCheckpoint pins the rows in block storage
        # (batch-sized), and the observed metrics fold the str/non-str
        # counts into the SAME job — the staging then needs zero take(1)
        # probes.  Only paid when a side index exists.
        incoming = incoming_counts = None
        sides = self._side_writers(expect)
        if sides:
            from pyspark.sql import Observation
            obs = Observation()
            incoming = (new_docs
                        .select("doc_id", "doc", "doc_kind")
                        .observe(obs,
                                 F.count(F.when(F.col("doc_kind") == "str",
                                                1)).alias("n_str"),
                                 F.count(F.when(F.col("doc_kind") != "str",
                                                1)).alias("n_other"))
                        .localCheckpoint(eager=True))
            incoming_counts = obs.get
        surv_index = self._read_buckets("index", touched)
        surv_docs = self._read_buckets("documents", touched)
        kside = self._keys_side(keys, n_keys)
        if surv_index is not None:
            new_index = (surv_index
                         .join(kside, "doc_id", "left_anti")
                         .unionByName(new_index))
        if surv_docs is not None:
            new_docs = (surv_docs
                        .join(kside, "doc_id", "left_anti")
                        .unionByName(new_docs, allowMissingColumns=True))
        # both tiers and the side indexes staged first, then ONE manifest
        # commit: the upsert is atomic across index, documents (and all
        # their buckets), their schema and stats, and every derived index
        updates = {
            "index": self._bucket_update(new_index, "index", touched),
            "documents": self._bucket_update(new_docs, "documents", touched),
            "docs_schema": self._docs_schema(
                self._manifest_of(expect)["docs_schema"], new_docs.schema)}
        updates.update(self._after_upsert(sides, incoming, incoming_counts))
        updates.update(self._ivf_churn(expect, int(n_keys or 0)))
        self._commit(updates, expect=expect)
        # first ingest of an ivf DB: train the partitioner now; later
        # ingests attach clusters incrementally via the trained model —
        # and accumulate drift against it (ivf_drift)
        if "ivf" in updates:
            self._maybe_rebuild_ivf(updates["ivf"]["mutated_rows"])
        elif self.index_type == "ivf":
            self.build_ivf()

    @staticmethod
    def _docs_schema(base: str | None, merged) -> str:
        """The docs_schema to commit: the base version's columns first (a
        batch that touches only empty buckets must not drop a metadata
        column the other buckets hold), then the columns the merge adds.
        A column of both takes the merged frame's field."""
        if not base:
            return merged.json()
        from pyspark.sql.types import StructType
        old = StructType.fromJson(json.loads(base))
        have = {f.name: f for f in merged.fields}
        return StructType(
            [have.get(f.name, f) for f in old.fields]
            + [f for f in merged.fields if f.name not in old.fieldNames()]
        ).json()

    def _enqueue(self, doc_ids: list[int], docs: list[str], kinds: list[str],
                 emb: np.ndarray, save: bool) -> None:
        """Validate eagerly (errors surface at the add call even when
        deferred), buffer, and flush unless ``save=False``."""
        emb = np.asarray(emb)
        if emb.ndim != 2 or emb.shape[1] != self.dim:
            raise ValueError(
                f"embeddings shape {emb.shape} does not match dim={self.dim}")
        # always COPY: a save=False batch outlives the call, and a no-copy
        # view would silently absorb caller mutations made before save()
        self._pending.append((doc_ids, docs, kinds,
                              np.array(emb, dtype=np.float32)))
        if save:
            self._flush_pending()

    def _flush_pending(self) -> None:
        """Fold every buffered batch into ONE delete-then-insert merge.
        Later batches win for a repeated doc_id (same as N sequential
        upserts), but the storage pays a single bucket-rewrite round —
        the batching knob the reference's per-save full rewrite lacks."""
        if not self._pending:
            return
        merged: dict[int, tuple[str, str, np.ndarray]] = {}
        for ids, docs, kinds, emb in self._pending:
            for i, d, kd, e in zip(ids, docs, kinds, emb):
                merged[int(i)] = (d, kd, e)
        self._pending.clear()
        rows = [(i, d, kd, [float(x) for x in e])
                for i, (d, kd, e) in merged.items()]
        new = self.spark.createDataFrame(
            rows,
            "doc_id: long, doc: string, doc_kind: string, embedding: array<float>")
        base = new.withColumn("emb_int8", int8_quantize("embedding"))
        new_docs = base.select("doc_id", "doc", "doc_kind", "emb_int8")
        self._merge_and_swap(self._new_index_from(base), new_docs,
                             new.select("doc_id"),
                             touched=self._touched_buckets(list(merged)),
                             n_keys=len(merged))

    def _new_index_from(self, base: DataFrame) -> DataFrame:
        """(doc_id, embedding, emb_int8, ...) -> new index rows; the ONE
        place that decides whether rows carry an IVF cluster id."""
        new_index = base.select(
            "doc_id", pack_bits("embedding", self.dim).alias("vec"))
        ivf = self._ivf()
        if ivf is not None:
            new_index = self._with_cluster(
                base.select("doc_id",
                            pack_bits("embedding", self.dim).alias("vec"),
                            "emb_int8"), "emb_int8", ivf[0]).drop("emb_int8")
        return new_index

    def add_documents_df(self, docs_df, id_col: str = "doc_id",
                         text_col: str = "text") -> None:
        """Distributed bulk upsert: embedding runs executor-side via
        mapInPandas (operators/embed.py) — the ingest path for corpora that
        don't fit through the driver (the list-based add_documents embeds
        driver-side, faithful to the reference's single-process loop).
        Duplicate ids WITHIN the batch collapse to one arbitrary-but-
        deterministic-per-run row (a DataFrame has no row order for 'later
        wins' to mean anything); across batches, delete-then-insert applies."""
        from binaryvectordb_spark.operators.embed import embed_texts
        # deferred save=False batches must merge BEFORE this df does, or a
        # later implicit flush would replay older buffered rows on top
        self._flush_pending()
        embedded = embed_texts(
            docs_df.select(F.col(id_col).alias("doc_id"),
                           F.col(text_col).alias("text"))
            .dropDuplicates(["doc_id"]),
            self.dim, embed_fn=self._custom_embed_fn)
        # persist: the merge reads this lineage ~4x (index write, docs
        # write, keys anti-join) and Spark cannot prune through mapInPandas
        # — without it every micro-batch pays the embedding UDF 4x over
        embedded = embedded.persist()
        try:
            base = embedded.withColumn("emb_int8", int8_quantize("embedding"))
            new_docs = base.select(
                "doc_id", F.col("text").alias("doc"),
                F.lit("str").alias("doc_kind"), "emb_int8")
            # touched buckets + batch size from ONE (cheap) id-column scan,
            # BEFORE embedding: a bucket-count-sized collect, never the corpus
            row = docs_df.agg(
                F.count_distinct(F.col(id_col)).alias("n"),
                F.collect_set(F.pmod(F.col(id_col), F.lit(self.buckets))
                              .cast("int")).alias("bs")).first()
            self._merge_and_swap(self._new_index_from(base), new_docs,
                                 embedded.select("doc_id"),
                                 touched=sorted(int(b) for b in row["bs"]),
                                 n_keys=int(row["n"]))
        finally:
            embedded.unpersist()

    def add_batch_df(self, df: DataFrame, id_col: str = "doc_id",
                     doc_col: str = "doc", emb_col: str = "embedding",
                     meta_cols: Sequence[str] = ()) -> None:
        """Distributed pre-embedded bulk upsert — the `_add_batch` path
        (reference BinaryVectorDB/BinaryVectorDB.py:117-143) for corpora that
        don't fit through the driver.  Embeddings are already a column, so
        ingest is a narrow quantize+pack map over the source partitions (no
        UDF, no shuffle) feeding the same bucketed delete-then-insert merge
        as every other ingest path.  Duplicate ids within the batch collapse
        to one row (a DataFrame has no order for 'later wins' to mean
        anything); across batches, delete-then-insert applies.

        ``meta_cols`` names extra columns of ``df`` preserved into the doc
        store as filterable metadata (e.g. lang, source): they evolve the
        docs schema (rows ingested before a column existed read as null),
        feed the commit-time table stats, and serve ``search(filter=...)``."""
        self._flush_pending()
        meta_cols = [c for c in meta_cols
                     if c not in ("doc_id", "doc", "doc_kind", "emb_int8")]
        missing = [c for c in meta_cols if c not in df.columns]
        if missing:
            raise ValueError(f"meta_cols {missing} not in the input columns")
        base = (df.select(F.col(id_col).cast("long").alias("doc_id"),
                          F.col(doc_col).cast("string").alias("doc"),
                          F.col(emb_col).cast("array<float>").alias("embedding"),
                          *meta_cols)
                .dropDuplicates(["doc_id"])
                .withColumn("emb_int8", int8_quantize("embedding")))
        # under ANSI (Spark 4 default) size(NULL) is NULL, so the size
        # predicate alone silently PASSES null embeddings (cast failures /
        # null input) — match them explicitly and report them as null
        bad = base.where(F.col("embedding").isNull()
                         | (F.size("embedding") != self.dim)).take(1)
        if bad:
            e = bad[0]["embedding"]
            sz = "null" if e is None else len(e)
            raise ValueError(
                f"embeddings size {sz} does not match dim={self.dim} "
                "(null means a missing or uncastable embedding)"
            )  # same contract as _enqueue's shape check
        new_docs = base.select("doc_id", "doc", F.lit("str").alias("doc_kind"),
                               "emb_int8", *meta_cols)
        row = base.agg(
            F.count("*").alias("n"),
            F.collect_set(F.pmod(F.col("doc_id"), F.lit(self.buckets))
                          .cast("int")).alias("bs")).first()
        self._merge_and_swap(self._new_index_from(base), new_docs,
                             base.select("doc_id"),
                             touched=sorted(int(b) for b in row["bs"]),
                             n_keys=int(row["n"]))

    def remove_docs(self, doc_ids: Sequence[int]) -> None:
        """Batched delete (reference deletes one id + full rewrite, :155-166).
        Only the buckets holding the deleted ids are read (for the
        missing-id check) and rewritten."""
        self._flush_pending()
        if not self._exists("index"):
            raise ValueError("empty DB")
        if len(doc_ids) == 0:
            return  # nothing to delete; not a full-rewrite no-op either
        expect = self._manifest_version()  # OCC snapshot
        keys = self.spark.createDataFrame([(int(i),) for i in doc_ids],
                                          "doc_id: long")
        touched = self._touched_buckets(doc_ids)
        scope_idx = self._read_buckets("index", touched)
        missing = (keys.count() if scope_idx is None else
                   keys.join(scope_idx, "doc_id", "left_anti").count())
        if missing:
            raise ValueError(f"{missing} doc_id(s) not in index")  # :159-160
        updates = {
            "index": self._bucket_update(
                scope_idx.join(F.broadcast(keys), "doc_id", "left_anti"),
                "index", touched),
            "documents": self._bucket_update(
                self._read_buckets("documents", touched)
                .join(F.broadcast(keys), "doc_id", "left_anti"),
                "documents", touched)}
        updates.update(self._after_remove(self._side_writers(expect),
                                          doc_ids))
        updates.update(self._ivf_churn(expect, len(doc_ids)))
        self._commit(updates, expect=expect)
        if "ivf" in updates:
            self._maybe_rebuild_ivf(updates["ivf"]["mutated_rows"])

    def remove_doc(self, doc_id: int) -> None:
        self.remove_docs([doc_id])

    # get_docs id-set size up to which the lookup is an isin() predicate
    # (pushed to the parquet scan: row-group stats prune inside the bucket
    # file, which _stage's within-bucket doc_id sort makes tight) rather
    # than a broadcast semi-join (join keys never push down to a scan)
    _GET_ISIN_MAX = 8192

    def get_docs(self, doc_ids: Sequence[int]) -> dict[int, object]:
        """KV point read (the RocksDB get, :238): opens ONLY the bucket
        dirs owning the requested ids, then filters the id set with a
        pushed-down In(doc_id, ...) predicate — row-group stats (tight,
        because buckets are written doc_id-sorted) prune inside the bucket
        file, so at 100 TB a get touches a few MB of one bucket, never the
        bucket, never the corpus.  Id sets past _GET_ISIN_MAX fall back to
        a broadcast semi-join (a mile-long In list bloats the plan).
        Missing ids are simply absent from the result (RocksDB get
        semantics).  Typed payloads come back as original objects."""
        self._flush_pending()
        if not doc_ids or not self._exists("documents"):
            return {}
        docs = self._read_buckets("documents", self._touched_buckets(doc_ids))
        if docs is None:
            return {}
        ids = sorted({int(i) for i in doc_ids})
        if len(ids) <= self._GET_ISIN_MAX:
            pruned = docs.where(F.col("doc_id").isin(ids))
        else:
            keys = self.spark.createDataFrame([(i,) for i in ids],
                                              "doc_id: long")
            pruned = docs.join(F.broadcast(keys), "doc_id", "left_semi")
        rows = pruned.select("doc_id", "doc", "doc_kind").collect()
        return {r["doc_id"]: self.decode_payload(r["doc"], r["doc_kind"])
                for r in rows}

    def get_doc(self, doc_id: int):
        return self.get_docs([doc_id]).get(int(doc_id))

    def save(self) -> None:
        """Persist buffered save=False batches in one merge (:168-172).
        With no buffered batches this is a no-op — every save=True mutation
        is already persisted."""
        self._flush_pending()

    def compact(self, target_partitions: int | None = None) -> None:
        """Small-file compaction: every micro-batch upsert adds files inside
        the touched bucket dirs; at scale the doc store degrades into
        millions of tiny parquet files (the classic streaming-sink
        pathology — the reference's full-index rewrite per save, :165-172,
        is the same cost paid EVERY time).  Rewrites both tiers into one
        file per bucket.  On Delta this would be OPTIMIZE.
        `target_partitions` is accepted for API compatibility; the
        bucketed layout fixes file count = buckets."""
        del target_partitions  # layout now pins files-per-table to buckets
        self._flush_pending()
        expect = self._manifest_version()  # OCC snapshot
        idx, docs = self.index_df(), self.docs_df()
        updates = {}
        if idx is not None:
            updates["index"] = self._full_update(idx, "index")
        if docs is not None:
            updates["documents"] = self._full_update(docs, "documents")
        if updates:
            self._commit(updates, expect=expect)

    def optimize_layout(self, cols: Sequence[str], bits: int = 8,
                        row_group_bytes: int | None = None) -> None:
        """OPTIMIZE ZORDER BY for the doc store: rewrite every bucket with
        its rows sorted by the z-value of 1-2 metadata columns
        (operators/zorder.py — equi-depth codes for numeric columns,
        sorted-distinct ranks for low-cardinality strings, bit-interleaved
        for 2-D), so parquet row-group stats on those columns become tight
        and the metadata-filtered serving path (``search(filter=...)``)
        prunes most row groups instead of scanning the corpus (measured
        14x byte skipping on 2-D predicates — bench zorder_* keys; the DB
        surface is pinned by tests/test_db_layout.py).

        The doc_id bucketing is PRESERVED (z-order is within-bucket): point
        reads and bucket-pruned upserts keep their cost model, and at
        100 TB each bucket is a few GB, so within-bucket clustering is
        exactly file/row-group granularity.  A later upsert appends
        unsorted rows to touched buckets — like any lakehouse OPTIMIZE,
        re-run after heavy churn.  Atomic: staged files + one manifest
        commit (OCC), same machinery as compact().

        ``row_group_bytes`` overrides parquet.block.size for the rewrite
        (smaller groups = finer pruning at higher footer cost; tests use
        small groups so fixture-scale files hold many groups)."""
        from binaryvectordb_spark.operators.zorder import with_zorder

        self._flush_pending()
        docs = self.docs_df()
        if docs is None:
            raise Exception("optimize_layout: no documents table")
        cols = list(cols)
        bad = [c for c in cols if c not in docs.columns]
        if bad:
            raise ValueError(f"optimize_layout columns {bad} not in the "
                             f"doc store (have {docs.columns})")
        if any(c in ("doc", "emb_int8") for c in cols):
            raise ValueError("optimize_layout: payload/embedding columns "
                             "are not layout keys")
        expect = self._manifest_version()  # OCC snapshot
        z = with_zorder(docs, cols, bits=bits, out_col="_zorder")
        opts = ({"parquet.block.size": str(int(row_group_bytes))}
                if row_group_bytes else None)
        updates = {"documents": self._stage(z, "documents", self.buckets,
                                            sort_cols=("_zorder",),
                                            writer_opts=opts)}
        self._commit(updates, expect=expect)

    # -- derived side indexes ------------------------------------------------
    # Two optional indexes over the str-kind doc payloads, each a segment
    # store (operators/segments.py) in its own dir under <folder>:
    # - text_index: the persisted inverted index (operators/textindex.py)
    #   behind search_text / search_hybrid;
    # - gate_index: the near-dup gate's corpus shingle/band tables
    #   (operators/ingest_gate.py) behind gated_add_documents_df.
    # Their state is the manifest's "side" entry (Delta Lake's derived
    # data as one more entry of the same atomic commit): mutations stage
    # the indexes' new dirs before _commit, one link(2) publishes data and
    # indexes, restore(v) brings back v's indexes, and _gc is the only
    # deleter of their dirs.

    _TEXT_INDEX_DIR = "text_index"
    _GATE_INDEX_DIR = "gate_index"
    _SIDE_DIRS = (_TEXT_INDEX_DIR, _GATE_INDEX_DIR)
    # fold a side index when an upsert pushes it to this many segments
    # (one micro-batch = one segment) or tombstone files (unbounded
    # growth makes the query-side union and the tombstone anti-join creep)
    _COMPACT_SEGMENTS = 16

    def _side_handle(self, name: str, state: dict):
        """A DB-owned handle on side index ``name`` (writes stage)."""
        if name == self._TEXT_INDEX_DIR:
            from binaryvectordb_spark.operators.textindex import TextIndex as cls
        else:
            from binaryvectordb_spark.operators.ingest_gate import GateIndex as cls
        return cls(self.spark, self._path(name), state=state)

    def _side_writers(self, version: int | None) -> dict:
        """{name: fresh handle} on the side indexes of ``version``."""
        sides = self._manifest_of(version)["side"]
        return {n: self._side_handle(n, sides[n])
                for n in self._SIDE_DIRS if n in sides}

    def _side_index(self, name: str):
        """Side index ``name`` at the current version (None when absent),
        memoized per version as _serving_handles is: a search pays one log
        listing, and the handle's memos carry over between calls."""
        v = self._manifest_version()
        if self._side_cache is None or self._side_cache[0] != v:
            self._side_cache = (v, self._side_writers(v))
        return self._side_cache[1].get(name)

    def _text_index(self):
        return self._side_index(self._TEXT_INDEX_DIR)

    def _gate_index(self):
        return self._side_index(self._GATE_INDEX_DIR)

    def _str_docs(self) -> DataFrame:
        """The current str-kind payloads as (doc_id, text) — what both side
        indexes are built from; typed payloads (json/bytes) are not text,
        never match a keyword query and are never near-dup candidates."""
        self._flush_pending()
        docs = self.docs_df()
        if docs is None:
            raise Exception("Index is empty; add documents first")
        return (docs.where(F.col("doc_kind") == "str")
                .select("doc_id", F.col("doc").alias("text")))

    def build_text_index(self) -> None:
        """(Re)build the lexical index from the current doc store, in one
        commit.  Only str-kind payloads are text; typed payloads
        (json/bytes) are not indexed and never match a keyword query."""
        self._build_side(self._TEXT_INDEX_DIR)

    def build_gate_index(self) -> None:
        """(Re)build the persisted near-dup gate artifacts (corpus
        shingle + LSH band tables) from the current doc store, in one
        commit.  With the index present, ``gated_add_documents_df`` gates
        each batch at probe-side cost instead of re-deriving the corpus
        tables per call (VERDICT r10 item 3), and every upsert/remove
        commit maintains the artifacts incrementally.  Only str-kind
        payloads participate — typed payloads are never near-dup
        candidates."""
        self._build_side(self._GATE_INDEX_DIR)

    def _build_side(self, name: str) -> None:
        """Write a fresh single-segment index beside the old one and
        commit it; a failed build leaves the old index answering."""
        docs = self._str_docs()
        expect = self._manifest_version()
        ix = self._side_handle(name, {})
        ix.build(docs)
        self._commit({name: ix.meta}, expect=expect)

    def _after_upsert(self, sides: dict, incoming: DataFrame | None,
                      counts) -> dict:
        """Stage the side indexes' share of an upsert ({name: state} for
        _commit): the batch's str-kind rows become one new segment; EVERY
        incoming id is killed in earlier segments by ONE scoped tombstone
        (str rows' old entries die, their new ones live in the new
        segment; non-str rows — payloads updated away from text — just
        die).  ``incoming`` is the checkpointed batch projection and
        ``counts`` its observed {n_str, n_other} from the same job
        (_merge_and_swap), so this runs zero probe jobs: segment +
        tombstone writes only (jobs pinned in
        tests/test_db_textindex.py)."""
        if not sides:
            return {}
        n_str = int(counts["n_str"])
        if int(counts["n_other"]) + n_str == 0:
            return {}  # empty batch — legitimate streaming no-op
        str_df = (incoming.where(F.col("doc_kind") == "str")
                  .select("doc_id", F.col("doc").alias("text"))
                  if n_str else None)
        for ix in sides.values():
            ix.upsert_batch(str_df, incoming.select("doc_id"))
            self._bound_state(ix)
        return {n: ix.meta for n, ix in sides.items()}

    def _after_remove(self, sides: dict, doc_ids: Sequence[int]) -> dict:
        for ix in sides.values():
            ix.remove([int(i) for i in doc_ids])
            self._bound_state(ix)
        return {n: ix.meta for n, ix in sides.items()}

    @classmethod
    def _bound_state(cls, ix) -> None:
        """Bounded side-index state under micro-batch mutation:

        - SEGMENT files: past the threshold, fold the trailing run of
          small segments (tiered merge — amortized O(batch·log); the
          bootstrap segment is never rewritten just because 16 small
          batches arrived); full compact() only if the tier policy finds
          no mergeable run.
        - TOMBSTONE files: compact_tail also folds the pile into one
          file (O(churn)), so file count never forces a full rewrite (a
          ``len(tombstones) >= 16`` full compact() would fire every ~16
          batches and negate the tiered merge).
        - TOMBSTONE rows (dead data in segments): row-budget VACUUM —
          full compact() only once TRUE dead rows (existence-filtered
          tombstones) reach ~half the stored rows, i.e. amortized O(1)
          rewrite per churned doc."""
        ran_tail = False
        if len(ix.meta["segments"]) >= cls._COMPACT_SEGMENTS:
            ix.compact_tail()
            ran_tail = True
            if len(ix.meta["segments"]) >= cls._COMPACT_SEGMENTS:
                ix.compact()
                return
        # compact_tail already folds the tombstone pile itself — one
        # maintenance call must not pay two tiered merges
        if (not ran_tail
                and len(ix.meta["tombstones"]) >= cls._COMPACT_SEGMENTS):
            ix.compact_tail()  # remove-heavy stream: fold files only
        if 2 * ix.tomb_rows() >= max(1, ix.seg_rows()):
            ix.compact()

    def search_text(self, terms: Sequence[str], k: int = DEFAULT_K
                    ) -> list[dict]:
        """BM25 top-k over the lexical index (build_text_index first).
        Returns hits [{doc_id, bm25_e10, kw_rank, doc}] — payloads
        attached via the bucket-pruned point read, or from the in-RAM doc
        map when local serving is attached (then the whole call runs zero
        Spark jobs, bit-identical by the to_local contract)."""
        self._flush_pending()
        loc = self._local_searchers()
        if loc is not None:
            _vec, bm25, payloads = loc
            if bm25 is None:
                raise Exception(
                    "no text index; call build_text_index() first")
            hits = [dict(h) for h in bm25.search(terms, k=k)]
            for h in hits:
                h["doc"] = payloads.get(h["doc_id"])
            return hits
        ti = self._text_index()
        if ti is None:
            raise Exception("no text index; call build_text_index() first")
        hits = [r.asDict() for r in ti.search(terms, k=k).collect()]
        payloads = self.get_docs([h["doc_id"] for h in hits])
        for h in hits:
            h["doc"] = payloads.get(h["doc_id"])
        return hits

    def search_phrase(self, phrase: Sequence[str],
                      k: int = DEFAULT_K) -> list[dict]:
        """Exact phrase query over the positional inverted index
        (TextIndex.search_phrase): adjacency-exact matching via
        offset-shifted position-list intersection — the query class
        bag-of-words BM25 cannot answer.  Returns [{doc_id,
        n_occurrences, doc}].  Always served by the distributed plan (the
        RAM tier collects tf, not positions — phrase queries read a few
        pushed-down token='...' row groups, which is already cheap)."""
        self._flush_pending()
        ti = self._text_index()
        if ti is None:
            raise Exception("no text index; call build_text_index() first")
        hits = [r.asDict()
                for r in ti.search_phrase(phrase, k=k).collect()]
        loc = self._local_searchers()
        payloads = (loc[2] if loc is not None
                    else self.get_docs([h["doc_id"] for h in hits]))
        for h in hits:
            h["doc"] = payloads.get(h["doc_id"])
        return hits

    def search_hybrid(self, terms: Sequence[str], query,
                      k: int = DEFAULT_K, depth: int = 100,
                      maxsim_rerank: bool = False) -> list[dict]:
        """Hybrid serving: reciprocal-rank fusion of the lexical top-`depth`
        (inverted index) with the vector cascade top-`depth`.  The fusion
        itself is driver-side over two <= depth-row lists (tiny by
        construction); each side runs its own index-pruned plan — the
        production retrieve-and-fuse stack at the DB surface, mirroring
        the registered search_hybrid_rrf query over the fixtures.

        ``maxsim_rerank=True`` re-orders the fused top-k by exact-integer
        late-interaction MaxSim between the query terms and each hit's
        str payload (the two-stage ColBERT architecture at the DB surface
        — the distributed twin is search_maxsim_rerank).  k payload
        strings against a handful of terms is driver-scale by
        construction; ties break by RRF order.

        With local serving attached (attach_local_serving) BOTH retrieval
        sides and the payload reads run in-process — zero Spark jobs per
        hybrid query instead of three (lexical plan + cascade + point
        read), each side bit-identical to its distributed twin."""
        self._flush_pending()
        loc = self._local_searchers()
        kw = {h["doc_id"]: h["kw_rank"]
              for h in self.search_text(terms, k=depth)}
        if loc is not None:
            vec = {h["doc_id"]: i + 1
                   for i, h in enumerate(loc[0].search(query, k=depth))}
        else:
            vec = {h["doc_id"]: i + 1
                   for i, h in enumerate(self.search(query, k=depth))}
        hits = rrf_fuse(kw, vec, k)
        payloads = (loc[2] if loc is not None
                    else self.get_docs([h["doc_id"] for h in hits]))
        for h in hits:
            h["doc"] = payloads.get(h["doc_id"])
        return rerank_maxsim(hits, terms) if maxsim_rerank else hits

    def search_text_batch(self, terms_batch: Sequence[Sequence[str]],
                          k: int = DEFAULT_K) -> list[list[dict]]:
        """N keyword queries in ONE postings read (TextIndex.search_batch
        — the pruned row groups for the union of all batch terms are read
        once, so the Spark job floor amortizes across the batch) plus one
        bucket-pruned point read for the payloads.  With local serving
        attached, the in-process searcher answers each query in ~ms with
        zero Spark jobs."""
        self._flush_pending()
        terms_batch = [list(ts) for ts in terms_batch]
        loc = self._local_searchers()
        if loc is not None:
            _vec, bm25, payloads = loc
            if bm25 is None:
                raise Exception(
                    "no text index; call build_text_index() first")
            out = []
            for ts in terms_batch:
                hits = [dict(h) for h in bm25.search(ts, k=k)]
                for h in hits:
                    h["doc"] = payloads.get(h["doc_id"])
                out.append(hits)
            return out
        ti = self._text_index()
        if ti is None:
            raise Exception("no text index; call build_text_index() first")
        rows = ti.search_batch(dict(enumerate(terms_batch)), k=k).collect()
        payloads = self.get_docs(sorted({r["doc_id"] for r in rows}))
        by_q: dict[int, list[dict]] = {}
        for r in rows:
            d = r.asDict()
            qid = d.pop("qid")
            d["doc"] = payloads.get(d["doc_id"])
            by_q.setdefault(qid, []).append(d)
        return [sorted(by_q.get(i, []), key=lambda h: h["kw_rank"])
                for i in range(len(terms_batch))]

    def search_hybrid_batch(self, terms_batch: Sequence[Sequence[str]],
                            queries: Sequence, k: int = DEFAULT_K,
                            depth: int = 100) -> list[list[dict]]:
        """N hybrid queries as THREE bounded Spark jobs total (batched
        lexical read + batched vector cascade + one union point read) —
        per-query results identical to a search_hybrid loop (pinned in
        tests), but the ~0.2 s job floor is paid once per batch instead
        of three times per query.  With local serving attached the whole
        batch runs in-process."""
        terms_batch = [list(ts) for ts in terms_batch]
        if len(terms_batch) != len(queries):
            raise ValueError("terms_batch and queries must have the same "
                             f"length (got {len(terms_batch)} vs "
                             f"{len(queries)})")
        self._flush_pending()
        if self._local_searchers() is not None:
            return [self.search_hybrid(ts, q, k=k, depth=depth)
                    for ts, q in zip(terms_batch, queries)]
        ti = self._text_index()
        if ti is None:
            raise Exception("no text index; call build_text_index() first")
        kw_rows = ti.search_batch(dict(enumerate(terms_batch)),
                                  k=depth).collect()
        kw_by_q: dict[int, dict[int, int]] = {}
        for r in kw_rows:
            kw_by_q.setdefault(r["qid"], {})[r["doc_id"]] = r["kw_rank"]
        vec_lists = self.search_batch(queries, k=depth)
        fused_all = [rrf_fuse(kw_by_q.get(i, {}),
                              {h["doc_id"]: j + 1
                               for j, h in enumerate(vec_lists[i])}, k)
                     for i in range(len(terms_batch))]
        payloads = self.get_docs(sorted({h["doc_id"] for hits in fused_all
                                         for h in hits}))
        for hits in fused_all:
            for h in hits:
                h["doc"] = payloads.get(h["doc_id"])
        return fused_all

    def expect(self, checks, record: bool = True) -> dict[str, int]:
        """User-declared pre-publish expectations on the documents table
        (operators/expectations.py checks over the payload/metadata
        columns — the dbt-test gate a pipeline runs before promoting a
        snapshot).  Returns {check: n_violations}; with ``record=True``
        the audit is persisted as ``_audit/v<version>.json`` keyed to the
        CURRENT manifest version — an audit describes a snapshot, so the
        version key gives exact attribution, re-auditing a version
        overwrites its file (durable tmp+replace), and ``audit_history()``
        returns the trail.  Structural invariants are
        ``verify_integrity()``'s job; this is for DATA rules the engine
        can't know (domains, ranges, payload shape)."""
        from binaryvectordb_spark.operators.expectations import (
            run_expectations,
        )
        self._flush_pending()
        docs = self.docs_df()
        if docs is None:
            raise ValueError("no documents table to audit")
        rows = run_expectations(docs, checks).collect()
        out = {r["check"]: int(r["n_violations"]) for r in rows}
        if record:
            v = self._manifest_version() or 0
            d = os.path.join(self.folder, "_audit")
            os.makedirs(d, exist_ok=True)
            write_json(os.path.join(d, f"v{v}.json"),
                       {"version": v, "checks": out})
        return out

    def audit_history(self) -> list[dict]:
        """All persisted expectation audits, version-ascending."""
        d = os.path.join(self.folder, "_audit")
        if not os.path.isdir(d):
            return []
        # numeric sort: audit filenames are unpadded (v2.json, v10.json),
        # so a lexicographic sort breaks ascending order at v10 (ADVICE r9);
        # tolerate stray non-numeric names (verify.json, v1_tmp.json) by
        # skipping them rather than raising (ADVICE r10)
        names = [fn for fn in os.listdir(d)
                 if fn.startswith("v") and fn.endswith(".json")
                 and fn[1:-5].isdigit()]
        out = []
        for fn in sorted(names, key=lambda n: int(n[1:-5])):
            with open(os.path.join(d, fn)) as f:
                out.append(json.load(f))
        return out

    def export_snapshot(self, dest: str,
                        version: int | None = None) -> None:
        """Clone ONE committed version into a standalone folder that opens
        as an independent DB (backup / environment promotion): the
        version's manifest-listed data files, its IVF model dir and
        `_meta.json`, re-rooted under a fresh v1 manifest that carries the
        version's docs_schema, stats and ivf entries.  Staged into
        `<dest>.tmp` and renamed, so a crashed export never leaves a
        half-clone at `dest`.

        Mutating the clone cannot touch the source (file copies, separate
        txn log).  The side indexes (text and gate index) and serving
        exports are NOT copied — each rebuilds from the data tier on
        demand, and copying them would just widen the consistency surface.
        History is not copied either: a clone starts at version 1 (use
        `version=` to pick WHICH snapshot becomes the clone's v1).

        Scale note: this is a driver-side file copy, appropriate for the
        single-node layout; on an object store the same structure is a
        server-side copy per manifest-listed key — still O(data), no
        Spark job, no read-repair."""
        self._flush_pending()
        m = (self._manifest_at(version) if version is not None
             else self._head())
        tables = m["tables"]
        ent = {k: m[k] for k in self._ENTRIES}
        if not tables:
            raise ValueError("nothing to export: DB has no committed data")
        if os.path.exists(dest):
            raise ValueError(f"export target exists: {dest}")
        tmp = dest + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        shutil.copy(os.path.join(self.folder, _META),
                    os.path.join(tmp, _META))
        if ent["ivf"]:
            shutil.copytree(self._path(ent["ivf"]["model"]),
                            os.path.join(tmp, ent["ivf"]["model"]))
        for name, bmap in tables.items():
            for key, files in bmap.items():
                rel = self._key_reldir(key)
                src_dir = os.path.join(self._path(name), rel)
                dst_dir = os.path.join(tmp, name, rel)
                os.makedirs(dst_dir, exist_ok=True)
                for fn in files:
                    shutil.copy(os.path.join(src_dir, fn),
                                os.path.join(dst_dir, fn))
        commit_version(os.path.join(tmp, self._LOG), 1,
                       {"version": 1, "tables": tables, "side": {}, **ent})
        os.rename(tmp, dest)

    def diff_versions(self, v_old: int,
                      v_new: int | None = None) -> DataFrame:
        """Change-data-capture between two committed snapshots: one row
        per doc_id present in either version, classified added / removed
        / changed / unchanged by content hash of (payload, kind) — the
        production form of the cdc_snapshot_diff query shape, with the
        txn log's time travel supplying both sides.

        Scale: the full-outer join hash-partitions the two versioned doc
        scans on doc_id once; the hash comparison is per-row.  Both sides
        are version-pinned reads, so a concurrent writer's commit-time GC
        can't pull files out from under the lazy plan (the _read_version_df
        pin contract — collect promptly or size retain_versions)."""
        old = self.docs_df(version=v_old)
        new = self.docs_df(version=v_new) if v_new is not None \
            else self.docs_df()
        if old is None or new is None:
            raise ValueError("version has no documents table")

        def h(df, name):
            return df.select(
                "doc_id",
                F.md5(F.concat_ws("\x1f", "doc", "doc_kind")).alias(name))

        j = h(old, "h1").join(h(new, "h2"), "doc_id", "full_outer")
        return j.select(
            "doc_id",
            F.when(F.col("h1").isNull(), F.lit("added"))
            .when(F.col("h2").isNull(), F.lit("removed"))
            .when(F.col("h1") != F.col("h2"), F.lit("changed"))
            .otherwise(F.lit("unchanged")).alias("change_type"))

    def verify_integrity(self) -> dict[str, int]:
        """Audit the structural invariants of the two storage tiers and
        return {check: n_violations} — the pre-publish integrity gate a
        pipeline runs after bulk mutations (zero everywhere on a healthy
        DB, pinned in tests/test_db_integrity.py).

        Checks, via the declarative expectations runner
        (operators/expectations.py — per tier the row-level checks fold
        into one single-scan aggregation):
        - unique(doc_id) in each tier (bucketed upsert must never
          duplicate a key),
        - packed-vector width == ceil(dim/64) bigint words,
        - int8 embedding length == dim,
        - doc_kind in {str, json},
        - doc payload never NULL,
        - tier id parity: every indexed id has a doc payload and vice
          versa (two anti-join counts),
        - physical bucket placement: every row actually lives in the
          ``bucket=pmod(doc_id, buckets)`` directory it is routed to at
          read time (the scan's file path vs the recomputed residue — a
          misplaced file would silently drop rows from pruned point
          reads)."""
        from binaryvectordb_spark.operators.expectations import (
            accepted_values,
            expr_check,
            foreign_key,
            not_null,
            run_expectations,
            unique,
        )
        self._flush_pending()
        idx, docs = self.index_df(), self.docs_df()
        if idx is None or docs is None:
            return {}
        words = (self.dim + 63) // 64
        # the scan's _metadata.file_path, not input_file_name(): once a
        # search has cached the tiers, the cache manager substitutes the
        # in-memory relation for these reads and input_file_name() turns
        # '' — the hidden metadata column forces a real file scan, so
        # the audit always sees the physical paths
        bucket_residue = F.regexp_extract(F.col("_metadata.file_path"),
                                          r"bucket=(\d+)", 1).cast("long")
        misplaced = (bucket_residue.isNotNull()
                     & (bucket_residue
                        != F.pmod(F.col("doc_id"), F.lit(self.buckets))))
        idx_checks = run_expectations(
            idx.withColumn("_misplaced", misplaced), [
                unique("doc_id"),
                expr_check(f"vec_words=={words}",
                           F.size("vec") != F.lit(words)),
                expr_check("index_bucket_placement", F.col("_misplaced")),
                foreign_key("doc_id", docs, "doc_id"),
            ])
        doc_checks = run_expectations(
            docs.withColumn("_misplaced", misplaced), [
                unique("doc_id"),
                not_null("doc"),
                accepted_values("doc_kind", ["str", "json"]),
                expr_check("emb_int8_len==dim",
                           F.size("emb_int8") != F.lit(self.dim)),
                expr_check("docs_bucket_placement", F.col("_misplaced")),
                foreign_key("doc_id", idx, "doc_id"),
            ])
        out = {}
        for prefix, frame in (("index", idx_checks), ("docs", doc_checks)):
            for r in frame.collect():
                out[f"{prefix}.{r['check']}"] = int(r["n_violations"])
        return out

    def __len__(self) -> int:
        self._flush_pending()
        idx = self.index_df()
        return 0 if idx is None else idx.count()

    # -- search (§2.5) ------------------------------------------------------
    def _serving_handles(self) -> tuple[DataFrame | None, DataFrame | None,
                                        bool]:
        """(index_df, docs_df, index_nonempty) for the serving paths,
        memoized per manifest version.  Rebuilding the DataFrames per query
        costs a 2x bucket-dir listing + plan construction + a take(1)
        emptiness job — ~0.5 s of pure driver overhead per search on a 1M
        corpus.  Keying the memo on the manifest version makes invalidation
        exact: EVERY mutation commits a new version (that is the OCC
        contract), so a held handle can never see a swapped-out file
        listing; the version read itself is one directory listing of the
        txn log, paid per call.  Handles are cache()d — a no-op when the
        equivalent plan is already cached, and _commit's refreshByPath
        remains the data-invalidation point."""
        v = self._manifest_version()
        if self._serve_cache is not None and self._serve_cache[0] == v:
            return self._serve_cache[1], self._serve_cache[2], self._serve_cache[3]
        if self._serve_cache is not None:
            # version moved under us (a commit from ANOTHER handle on the
            # same folder — our own _commit path refreshes by path, but
            # refresh does not drop this process's cached blocks for the
            # superseded plans): unpersist the stale handles so a long-lived
            # serving process under external writers doesn't leak cache
            # memory one manifest version at a time
            for stale in (self._serve_cache[1], self._serve_cache[2]):
                if stale is not None:
                    try:
                        stale.unpersist()
                    except Exception:
                        pass  # best-effort; the executor may be gone
        idx, docs = self.index_df(), self.docs_df()
        if idx is not None:
            if self.index_type == "ivf" and "cluster" in idx.columns:
                # Compact the cached RAM tier to ~shuffle.partitions
                # cluster-contiguous batches: the on-disk cluster=C/bucket=K
                # layout is right for cold I/O pruning and mutation
                # granularity, but cached as-is it yields one scan partition
                # per small file (512+ at 1M rows x 32x32) — per-query task
                # scheduling then dwarfs the row work, and the probe's
                # batch-stat pruning saves almost nothing (measured 1.1 s
                # pruned vs 1.5 s full at 1M).  Range-partitioned and sorted
                # by cluster, every cached batch holds one cluster (or a
                # boundary pair), so `cluster IN (probe)` skips whole
                # batches via min/max stats — the in-RAM analogue of the
                # on-disk partition pruning.  One shuffle, paid once per
                # manifest version at handle build.
                idx = (idx.repartitionByRange(F.col("cluster"))
                       .sortWithinPartitions("cluster"))
            idx.cache()
        if docs is not None:
            docs.cache()
        nonempty = idx is not None and bool(idx.take(1))
        self._serve_cache = (v, idx, docs, nonempty)
        return idx, docs, nonempty

    def _decode_hit(self, d: dict) -> dict:
        kind = d.pop("doc_kind", "str")
        if d.get("doc") is not None:
            d["doc"] = self.decode_payload(d["doc"], kind)
        return d

    def search(self, query: str | Sequence[float], k: int = DEFAULT_K,
               binary_oversample: int = DEFAULT_BINARY_OVERSAMPLE,
               int8_oversample: int = DEFAULT_INT8_OVERSAMPLE,
               nprobe: int | None = None,
               filter: dict | str | None = None,
               selectivity: float | None = None) -> list[dict]:
        """Serve one query.  ``filter`` restricts hits to docs matching a
        metadata predicate: a dict ``{col: value}`` / ``{col: [v1, v2]}``
        (conjunction of equality/IN over doc-store columns — the
        stats-estimable fast path) or a SQL predicate string over the same
        columns.  The filtered cascade picks prefilter vs postfilter by
        predicate selectivity (cascade_search_filtered_adaptive): dict
        filters read it from the commit-time table stats — ZERO extra jobs
        — while string predicates (or an explicit ``selectivity=``
        override absent stats) fall back to two count jobs."""
        self._flush_pending()
        # memoized emptiness flag, not a take(1) job per query (:190-191)
        idx, docs, nonempty = self._serving_handles()
        if not nonempty:
            raise Exception("Index is empty; add documents first")
        qvec = self._query_vec(self.embed_fn([query])[0]
                               if isinstance(query, str) else query)
        if not np.isfinite(qvec).all():
            # same boundary check as search_batch/LocalCascadeSearcher —
            # the SQL packer treats NaN >= 0 as true (Spark orders NaN above
            # all numerics) and would silently return NaN-scored hits
            raise ValueError("query vectors must be finite (got NaN/Inf)")
        idx = self._maybe_prune_index(idx, [qvec], nprobe)
        if filter is not None:
            from binaryvectordb_spark.operators.cascade import (
                cascade_search_filtered_adaptive,
            )
            eligible = self._eligible_ids(docs, filter)
            if selectivity is None:
                selectivity = self._estimate_selectivity(filter)
            hits_df = cascade_search_filtered_adaptive(
                idx, docs, self.dim, eligible, query_vec=qvec.tolist(),
                k=k, selectivity=selectivity)
        else:
            hits_df = cascade_search(idx, docs, self.dim,
                                     query_vec=qvec.tolist(), k=k,
                                     binary_oversample=binary_oversample,
                                     int8_oversample=int8_oversample)
        return [self._decode_hit(r.asDict()) for r in hits_df.collect()]

    def _query_vec(self, q) -> np.ndarray:
        """One query as a float32 ``(dim,)`` vector.  Any other length is
        refused before a plan is built: the SQL packer would read past the
        end of a short vector and drop the tail of a long one."""
        v = np.asarray(q, dtype=np.float32)
        if v.shape != (self.dim,):
            raise ValueError(
                f"query vector shape {v.shape} does not match dim={self.dim}")
        return v

    @classmethod
    def _eligible_ids(cls, docs: DataFrame, filter: dict | str) -> DataFrame:
        """(doc_id) of the docs matching a search filter — the eligibility
        set of search and search_batch.  A dict filter naming a column
        the doc store lacks is refused."""
        if isinstance(filter, dict):
            unknown = [c for c in filter if c not in docs.columns]
            if unknown:
                raise ValueError(
                    f"filter columns {unknown} not in the doc store "
                    f"(have {sorted(docs.columns)}); ingest metadata "
                    "with add_batch_df(meta_cols=...)")
        return docs.where(cls._filter_predicate(filter)).select("doc_id")

    @staticmethod
    def _filter_predicate(filter: dict | str):
        """Compile a search filter to a Column over the doc store: dict ->
        conjunction of equality / IN; str -> F.expr (any SQL predicate)."""
        if isinstance(filter, str):
            return F.expr(filter)
        pred = F.lit(True)
        for c, vals in filter.items():
            if isinstance(vals, (list, tuple, set, frozenset)):
                pred = pred & F.col(c).isin(*list(vals))
            else:
                pred = pred & (F.col(c) == F.lit(vals))
        return pred

    def attach_local_serving(self, n_shards: int = 1) -> None:
        """Materialize and MEMOIZE RAM-tier searchers for single-query
        serving: the vector cascade (to_local_searcher) and — when a text
        index exists — the lexical BM25 searcher (TextIndex.to_local).
        Once attached, ``search_text`` and ``search_hybrid`` answer from
        in-process arrays, bit-identical to the distributed plans (pinned
        in tests/test_db_textindex.py) but with ZERO Spark jobs per query
        — the hybrid path otherwise pays the ~0.2 s job floor TWICE per
        query (once per retrieval side).  This is the reference's serving
        shape: everything hot in RAM, point reads from the in-memory doc
        map (BinaryVectorDB/BinaryVectorDB.py:234-250).

        The memo is keyed on the manifest version, so any mutation (which
        always commits a new version — the OCC contract) transparently
        re-materializes on the next serving call; under a write-heavy
        workload that re-collect is the wrong trade — detach_local_serving
        returns those calls to the distributed plans.  The distributed
        cascade remains the batch/throughput path either way."""
        self._local_serve_shards = max(1, int(n_shards))
        self._local_serve = None
        self._local_searchers()  # materialize now: one Spark pass per tier

    def detach_local_serving(self) -> None:
        self._local_serve_shards = None
        self._local_serve = None

    def _local_searchers(self) -> tuple | None:
        """(vec_searcher, bm25_searcher_or_None, {doc_id: payload}) for the
        CURRENT manifest version, or None when local serving is not
        attached.  Stale memos (any committed mutation) rebuild here."""
        if self._local_serve_shards is None:
            return None
        # flush first, so the memo key is the version to_local_searcher
        # (which flushes too) materializes
        self._flush_pending()
        v = self._manifest_version()
        if self._local_serve is not None and self._local_serve[0] == v:
            return self._local_serve[1:]
        base = self.to_local_searcher()
        # the in-RAM doc map (the reference keeps payloads in RocksDB and
        # reads them per hit; here they're already collected for Phase III,
        # so point lookups are a dict get) — decoded identically to
        # decode_payload (json parsed, str/bytes raw)
        payloads = {int(i): p for i, p in zip(base.doc_ids, base.payloads)}
        vec = (base if self._local_serve_shards <= 1 else
               ShardedLocalCascadeSearcher.from_searcher(
                   base, self._local_serve_shards))
        ti = self._text_index()
        bm25 = ti.to_local() if ti is not None else None
        self._local_serve = (v, vec, bm25, payloads)
        return vec, bm25, payloads

    def to_local_searcher(self, n_shards: int = 1):
        """Materialize the index + doc store into an in-process RAM-tier
        searcher (operators/local_serve.py) — the reference's single-node
        in-RAM serving mode (README.md:68), bit-identical to the
        distributed cascade but without Spark's ~0.2 s per-job floor:
        single-query latency drops to single-digit ms.  Memory is
        O(n × dim); with ``n_shards > 1`` returns the sharded router
        (ShardedLocalCascadeSearcher) — the architecture for serving beyond
        one node's RAM: one searcher per shard, phase-wise fan-out + global
        merge, still bit-identical.  The Spark cascade remains the
        batch/throughput path."""
        self._flush_pending()
        idx = self.index_df()
        if idx is None or not idx.take(1):
            raise Exception("Index is empty; add documents first")
        base = LocalCascadeSearcher.from_dataframes(
            idx, self.docs_df(), self.dim, embed_fn=self.embed_fn)
        if n_shards <= 1:
            return base
        return ShardedLocalCascadeSearcher.from_searcher(base, n_shards)

    def export_serving_shards(self, n_shards: int = 2,
                              path: str | None = None) -> str:
        """Materialize the RAM-tier router and persist its shards to disk
        for CROSS-PROCESS serving: each ``shard_<i>/`` dir under the
        returned path is independently loadable on a different host
        (LocalCascadeSearcher.load — numpy + json, no SparkSession), and
        ``router.json`` stamps the DB's committed manifest version so a
        serving fleet can verify every node holds a disjoint shard of the
        SAME snapshot.  Default path is ``<folder>/_serving/v<version>`` —
        version-suffixed, so a re-export after new commits lands beside the
        old one and traffic flips atomically by path."""
        self._flush_pending()
        # from_searcher handles n_shards=1 (a single-shard router), so both
        # cases reduce to one construction
        router = ShardedLocalCascadeSearcher.from_searcher(
            self.to_local_searcher(), max(1, n_shards))
        v = self._manifest_version()
        out = path or os.path.join(self.folder, "_serving", f"v{v}")
        # a DB with a text index exports the lexical tier too (bm25/ dir)
        # — staged inside the same atomic swap, so a hybrid serving node
        # (LocalHybridServer.load) sees both tiers or neither
        ti = self._text_index()
        extras = ((lambda tmp: ti.to_local().save(
            os.path.join(tmp, "bm25"))) if ti is not None else None)
        router.save_shards(out, db_manifest_version=v, stage_extras=extras)
        return out

    def load_serving_router(self, path: str | None = None,
                            allow_stale: bool = False):
        """Load a persisted serving export (export_serving_shards).  By
        default the export must match the DB's CURRENT manifest version —
        pass allow_stale=True to serve a superseded snapshot knowingly."""
        v = self._manifest_version()
        p = path or os.path.join(self.folder, "_serving", f"v{v}")
        if path is None and not os.path.isdir(p):
            # the default path is keyed to the CURRENT version, so a stale
            # export (made before newer commits) would otherwise surface as
            # a bare FileNotFoundError instead of the re-export contract
            import glob
            # exclude exporter work dirs (v<N>.tmp<pid>/.old<pid>) — they
            # are swap machinery, not loadable stale exports
            stale = sorted(
                d for d in glob.glob(
                    os.path.join(self.folder, "_serving", "v*"))
                if ".tmp" not in os.path.basename(d)
                and ".old" not in os.path.basename(d))
            raise ValueError(
                f"no serving export for current DB version {v} at {p}"
                + (f"; found stale exports {stale} — re-export "
                   "(export_serving_shards) or load a stale path "
                   "explicitly with allow_stale=True" if stale
                   else " — run export_serving_shards() first"))
        return ShardedLocalCascadeSearcher.load(
            p, embed_fn=self.embed_fn,
            expect_version=None if allow_stale else v)

    def load_hybrid_server(self, path: str | None = None,
                           allow_stale: bool = False):
        """Load a hybrid serving node (vector router + lexical BM25) from
        an export_serving_shards() export made while a text index existed.
        Same version contract as load_serving_router; the returned
        LocalHybridServer answers search/search_text/search_hybrid with no
        Spark involvement — and any process can load the same directory
        via LocalHybridServer.load directly."""
        v = self._manifest_version()
        p = path or os.path.join(self.folder, "_serving", f"v{v}")
        if path is None and not os.path.isdir(p):
            # reuse load_serving_router's stale-export diagnostics
            self.load_serving_router(path, allow_stale)
        return LocalHybridServer.load(
            p, embed_fn=self.embed_fn,
            expect_version=None if allow_stale else v)

    def search_batch(self, queries: Sequence[str | Sequence[float]],
                     k: int = DEFAULT_K,
                     binary_oversample: int = DEFAULT_BINARY_OVERSAMPLE,
                     int8_oversample: int = DEFAULT_INT8_OVERSAMPLE,
                     nprobe: int | None = None,
                     filter: dict | str | None = None) -> list[list[dict]]:
        """Batched serving: N queries against the cascade in ONE job
        (operators/cascade.py cascade_search_batch — the index is scanned
        once for the whole batch; per-query latency amortizes ~10x vs
        looping single searches).  Returns hits per query, in input order.

        ``filter`` (same shapes as ``search``) restricts every query's hits
        to matching docs.  The batch path always PREFILTERS (one eligibility
        semi-join on the shared index scan): its corpus-touching cost
        amortizes across the whole batch, so the single-query postfilter
        over-fetch trade has nothing to win here — and prefilter is the
        exact-recall branch."""
        from binaryvectordb_spark.operators.cascade import cascade_search_batch

        self._flush_pending()
        if len(queries) == 0:
            return []
        idx, docs, nonempty = self._serving_handles()
        if not nonempty:
            raise Exception("Index is empty; add documents first")
        if filter is not None:
            idx = idx.join(self._eligible_ids(docs, filter), "doc_id",
                           "left_semi")
        texts = [q for q in queries if isinstance(q, str)]
        if texts:
            emb_out = list(self.embed_fn(texts))
            if len(emb_out) != len(texts):
                # a short embed_fn result would otherwise surface as a bare
                # StopIteration from the zip below — raise the same error the
                # other ingest paths use for length mismatches
                raise ValueError(
                    f"embed_fn returned {len(emb_out)} vectors for "
                    f"{len(texts)} texts")
            embedded = iter(emb_out)
        else:
            embedded = iter(())
        # a custom embed_fn may return plain lists, not ndarrays
        vecs = [self._query_vec(next(embedded) if isinstance(q, str) else q)
                for q in queries]
        qdf = self.spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "qid: long, qvec: array<float>")
        idx = self._maybe_prune_index(idx, vecs, nprobe)
        rows = cascade_search_batch(idx, docs,
                                    self.dim, qdf, k=k,
                                    binary_oversample=binary_oversample,
                                    int8_oversample=int8_oversample).collect()
        out: list[list[dict]] = [[] for _ in queries]
        for r in rows:
            d = r.asDict()
            out[d.pop("qid")].append(self._decode_hit(d))
        return out
