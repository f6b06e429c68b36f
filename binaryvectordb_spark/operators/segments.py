"""One segment store for the derived indexes (TextIndex, GateIndex).

The reference leaves segment, tombstone and compaction work to a single
store, RocksDB (BinaryVectorDB/BinaryVectorDB.py:64).  Both derived
indexes here keep their state the same way — immutable parquet segments
plus scoped tombstones, named by one small state dict — and this module
holds every part of that store they share, once:

    state                {fmt, segments, tombstones, seg_stats,
                          tomb_upto, tomb_stats, ...}   names the live dirs
    <folder>/seg_<n>/    one segment (its tables are index-specific)
    <folder>/tomb_<n>/   (doc_id, upto_seg)    kills doc_id in every
                                               segment up to ordinal
                                               upto_seg

A DB-owned store's state is an entry of the DB manifest: ``_commit``
only stages it, the DB's commit publishes it with the data it derives
from, and the DB's ``_gc`` deletes unnamed dirs.  A standalone store logs
its state under ``<folder>/_log`` through the same ``commit_version`` and
sweeps the dirs it stops naming.  Dir names are never reused.

One layout: the state's ``fmt`` names the layout a store was written in
(``_FMT``; every segment has a ``seg_stats`` entry, every tombstone a
``tomb_stats`` row count and a ``tomb_upto`` scope).  A standalone store
opens only a log whose head carries the current ``fmt``, or a folder no
version was committed to; anything else is refused before anything is
written — re-ingest it.  A DB-owned store is covered by the DB's own
layout check.

- ``upsert_batch``: a batch of new/updated docs is ONE new segment plus
  ONE existence-filtered tombstone scoped to every earlier segment, so an
  upsert kills the old rows without touching the new ones.  No existing
  segment file is ever rewritten — mutation cost is O(batch).
- ``compact_tail``: the tiered (log-structured) merge — fold the
  trailing run of comparably-small segments, then fold the tombstone
  pile into one file.  ``compact``: the full fold into one segment, with
  the tombstones dropped (``_commit_single``).
- Reads: the union of the segment tables minus the tombstones
  (``_live_run``), scope-correct per segment ordinal.

A subclass says what a segment holds: ``_SCHEMAS`` (its tables' read
schemas), ``_PROBE`` (the doc_id-sorted table the existence probe
reads), ``_write_segment`` (a batch of (doc_id, text) rows -> one
segment), ``_merge_run`` (the live rows of segments[lo:] -> one segment),
``_seg_size`` (the doc count of its segment-stats entry) and ``build`` /
``compact`` (which end in ``_commit_single``).

Existence probe (``_write_tombstone``), three tiers by batch-id
cardinality — the collect is limit()-capped, never unbounded:

- <= LITERAL_CAP ids: In(doc_id)-pruned reads of the probe table (it is
  doc_id-sorted, so footer stats prune row groups — O(batch row groups),
  not O(index));
- <= BULK_CAP: broadcast LeftSemi probe — one doc_id-column scan against
  a broadcast hash of the batch ids (O(1) plan size vs a 10k+-literal In
  list); the probe side is rebuilt from the COLLECTED ids, never by
  re-executing the caller's dead lineage (a nondeterministic upstream
  could desync the probe from the id set actually being tombstoned);
- >  BULK_CAP (bulk load/remove): the probe is skipped and the dead set
  is written fully DISTRIBUTED (observe ABOVE the range exchange for the
  exact count) — a bulk remove never round-trips its id set through the
  driver.

Only ids actually stored in an earlier segment die, so insert-only
streams carry zero tombstones and the tombstone row mass equals TRUE dead
rows — what the DB hook's row-budget vacuum (db._bound_state) counts.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LITERAL_CAP = 10_000
BULK_CAP = 100_000
_TOMB_SCHEMA = "doc_id long, upto_seg int"
LOG = "_log"


# -- the commit protocol ---------------------------------------------------
# The package's one: the DB, a standalone segment store and the streaming
# exactly-once stores (streaming/events.py) each publish a version here.

def log_versions(log_dir: str) -> list[int]:
    """Committed versions in ``log_dir``, ascending ([] without a log)."""
    return sorted(int(f[1:-5]) for f in (
        os.listdir(log_dir) if os.path.isdir(log_dir) else ())
        if f.startswith("v") and f.endswith(".json"))


def _version_path(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"v{int(version):010d}.json")


def read_version(log_dir: str, version: int) -> dict:
    with open(_version_path(log_dir, version)) as f:
        return json.load(f)


def read_head(log_dir: str) -> tuple[int | None, dict | None]:
    """(version, body) of the latest committed version in ``log_dir``;
    (None, None) before the first commit.  A writer that prunes the head
    this call listed (it committed past it) makes it re-list."""
    while True:
        vs = log_versions(log_dir)
        if not vs:
            return None, None
        try:
            return vs[-1], read_version(log_dir, vs[-1])
        except FileNotFoundError:
            continue


def _unlink_version(log_dir: str, version: int) -> None:
    # another writer's prune may have taken it already
    with contextlib.suppress(FileNotFoundError):
        os.unlink(_version_path(log_dir, version))


def prune_log(log_dir: str, keep: int) -> list[int]:
    """Unlink every version of ``log_dir`` older than the latest ``keep``;
    returns the kept versions, ascending."""
    vs = log_versions(log_dir)
    for v in vs[:-keep]:
        _unlink_version(log_dir, v)
    return vs[-keep:]


def _tmp_of(path: str) -> str:
    # pid-suffixed: two processes never interleave writes into one tmp
    return f"{path}.tmp{os.getpid()}"


def _write_synced(tmp: str, body: dict) -> None:
    with open(tmp, "w") as f:
        json.dump(body, f)
        f.flush()
        os.fsync(f.fileno())


def _fsync_dir(path: str) -> None:
    dfd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def commit_version(log_dir: str, version: int, body: dict) -> None:
    """Make ``body`` version ``version`` of ``log_dir``, durably: fsynced
    tmp file, ``link(2)`` (unlike ``rename(2)`` it fails on an existing
    target, so a stale writer gets FileExistsError instead of overwriting
    the winner), fsynced directory."""
    os.makedirs(log_dir, exist_ok=True)
    final = _version_path(log_dir, version)
    tmp = _tmp_of(final)
    _write_synced(tmp, body)
    try:
        os.link(tmp, final)  # atomic create-if-absent: the commit instant
    finally:
        os.unlink(tmp)
    _fsync_dir(log_dir)


def write_json(path: str, body: dict) -> None:
    """Replace ``path`` with ``body``, durably: fsynced tmp file,
    ``os.replace`` (the last writer wins atomically), fsynced directory.
    For files one writer owns or that any writer may overwrite; a
    versioned commit that must not overwrite uses ``commit_version``."""
    tmp = _tmp_of(path)
    try:
        _write_synced(tmp, body)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    _fsync_dir(os.path.dirname(path) or ".")


def sweep(folder: str, keep: set[str]) -> None:
    """Delete every seg_*/tomb_* dir under ``folder`` that ``keep`` does
    not name."""
    for entry in os.listdir(folder):
        if entry not in keep and entry.startswith(("seg_", "tomb_")):
            shutil.rmtree(os.path.join(folder, entry), ignore_errors=True)


class SegmentStore:
    """Open-or-create a segment store at ``folder`` (see the module
    docstring for what a subclass supplies).  ``state``: the DB manifest
    entry of a DB-owned store ({} when new); None: standalone, read from
    the head of ``<folder>/_log`` (a fresh store when nothing was
    committed), refused unless it is in the current layout."""

    # the layout version a standalone store's state records as ``fmt``
    _FMT = 1
    _SCHEMAS: dict[str, str] = {}
    _PROBE = ""
    # existence-probe tier caps (class attributes so tests can pin them)
    _PROBE_LITERAL_IDS = LITERAL_CAP
    _BULK_IDS = BULK_CAP
    # geometric tier ratio: extend the trailing merge run while the next
    # (older) segment is no more than this multiple of the run's size
    _TIER_RATIO = 8

    def __init__(self, spark: SparkSession, folder: str,
                 state: dict | None = None):
        self.spark = spark
        self.folder = folder
        os.makedirs(folder, exist_ok=True)
        self._gen = 0  # bumped by every _commit: the read memos' key
        self._log = None if state is not None else os.path.join(folder, LOG)
        self.version = None
        if self._log:
            self.version, head = read_head(self._log)
            state = head and head["state"]
            if not (state.get("fmt") == self._FMT if state is not None
                    # nothing committed: only an unpublished write's dirs
                    else all(e == LOG or e.startswith(("seg_", "tomb_"))
                             for e in os.listdir(folder))):
                raise ValueError(
                    f"{folder} is not a {type(self).__name__} in layout "
                    f"fmt {self._FMT} (this engine opens no other "
                    "layout); re-ingest its documents into a new folder")
        self.meta = state or self._fresh_meta()

    # -- state ---------------------------------------------------------------

    def _fresh_meta(self) -> dict:
        return {"fmt": self._FMT, "segments": [], "tombstones": [],
                "seg_stats": {}, "tomb_upto": {}, "tomb_stats": {}}

    def _commit(self) -> None:
        """Publish ``self.meta``: staged for the DB's commit when
        DB-owned; else the next log version (a stale handle fails loudly
        instead of dropping another writer's segments), then the sweep of
        the dirs and superseded log versions it no longer needs (nothing
        reads a standalone store's history)."""
        self._gen += 1
        if self._log is None:
            return
        v = (self.version or 0) + 1
        try:
            commit_version(self._log, v, {"version": v, "state": self.meta})
            # superseded versions are pruned, so a handle two or more
            # commits behind links a free name below the head: it lost too
            # (readers take the highest version, so it was never visible)
            lost = log_versions(self._log)[-1] != v
            if lost:
                _unlink_version(self._log, v)
        except FileExistsError:
            lost = True
        if lost:
            raise Exception(
                f"concurrent {type(self).__name__} writer detected: "
                f"version {v} is already committed over this handle's "
                f"{self.version}; re-open the index and retry")
        self.version = v
        sweep(self.folder,
              set(self.meta["segments"]) | set(self.meta["tombstones"]))
        prune_log(self._log, 1)

    def _next_name(self, prefix: str) -> str:
        """One past the highest ``<prefix>_<n>`` dir in the folder (every
        dir a retained state names is on disk)."""
        cut = len(prefix) + 1
        ns = [int(e[cut:]) for e in os.listdir(self.folder)
              if e.startswith(prefix + "_") and e[cut:].isdigit()]
        return f"{prefix}_{max(ns, default=-1) + 1}"

    def _rm(self, name: str) -> None:
        shutil.rmtree(os.path.join(self.folder, name), ignore_errors=True)

    def _commit_single(self, name: str | None, stat) -> None:
        """Commit ``name`` as the only segment (None: nothing live) with
        no tombstones; the replaced dirs go with the next sweep."""
        self.meta = self._fresh_meta()
        if name is not None:
            self.meta["segments"] = [name]
            self.meta["seg_stats"] = {name: stat}
        self._commit()

    # -- mutation ------------------------------------------------------------

    def upsert_batch(self, docs: DataFrame | None,
                     dead_ids_df: DataFrame | None = None) -> None:
        """One mutation round trip for a mixed batch: ``docs`` rows
        (doc_id, text) become ONE new segment; every touched id — docs'
        ids, or the `doc_id` column of ``dead_ids_df`` when the caller
        tracks a wider dead set (the DB hook passes every upserted id:
        str rows re-index, non-str rows just die) — that actually exists
        in an earlier segment is killed there by ONE scoped tombstone.
        Empty batches roll back to no state change, all-new batches
        commit without a tombstone, and a fresh index is just a build."""
        if not self.meta["segments"]:
            # nothing earlier to tombstone (dead ids have nothing to kill)
            if docs is not None:
                self.build(docs)
            return
        upto = len(self.meta["segments"]) - 1
        seg_name = tomb_name = None
        if docs is not None:
            seg_name = self._next_name("seg")
            st = self._write_segment(docs, seg_name)
            if self._seg_size(st):
                self.meta["seg_stats"][seg_name] = st
            else:
                # empty batch (streaming sinks deliver them routinely):
                # roll the staged segment back — the write-time stats
                # already told us, no extra count job
                self._rm(seg_name)
                seg_name = None
        dead = docs if dead_ids_df is None else dead_ids_df
        if dead is not None:
            tomb_name = self._next_name("tomb")
            n_tomb = self._write_tombstone(
                dead.select(F.col("doc_id").cast("long").alias("doc_id")),
                upto, tomb_name)
            if not n_tomb:
                tomb_name = None
        if seg_name is None and tomb_name is None:
            return  # fully empty batch: no state change, no commit
        if seg_name is not None:
            self.meta["segments"].append(seg_name)
        if tomb_name is not None:
            self.meta["tombstones"].append(tomb_name)
            # effective scope recorded in meta from birth, so compact_tail
            # can re-scope without rewriting the tombstone parquet
            self.meta["tomb_upto"][tomb_name] = upto
            self.meta["tomb_stats"][tomb_name] = n_tomb
        self._commit()

    def _write_tombstone(self, dead: DataFrame, upto: int,
                         name: str) -> int:
        """Write ``folder/name`` holding the ids of ``dead`` that exist in
        a stored segment (or, past _BULK_IDS, the full distributed set),
        scoped ``upto_seg = upto`` — the three tiers of the module
        docstring.  Returns the row count; 0 means nothing was written
        (the caller must not register the name)."""
        path = os.path.join(self.folder, name)
        dead = dead.dropDuplicates(["doc_id"])
        head = dead.limit(self._BULK_IDS + 1).collect()
        if len(head) > self._BULK_IDS:
            obs = Observation()
            (dead.withColumn("upto_seg", F.lit(upto).cast("int"))
             .repartitionByRange("doc_id")
             .observe(obs, F.count(F.lit(1)).alias("n"))
             .sortWithinPartitions("doc_id")
             .write.mode("overwrite").parquet(path))
            n = int(obs.get["n"])
            if not n:
                self._rm(name)
            return n
        ids = sorted({int(r[0]) for r in head})
        if not ids:
            return 0
        if len(ids) <= self._PROBE_LITERAL_IDS:
            probe = (self._raw_run(self._PROBE, prune_ids=ids)
                     .select("doc_id"))
        else:
            ids_df = self.spark.createDataFrame([(i,) for i in ids],
                                                "doc_id long")
            probe = (self._raw_run(self._PROBE).select("doc_id")
                     .join(F.broadcast(ids_df), "doc_id", "left_semi"))
        exist = {int(r[0]) for r in probe.distinct().collect()}
        dead_ids = [i for i in ids if i in exist]
        if not dead_ids:
            return 0
        (self.spark.createDataFrame([(i,) for i in dead_ids], "doc_id long")
         .withColumn("upto_seg", F.lit(upto))
         .coalesce(1).sortWithinPartitions("doc_id")
         .write.mode("overwrite").parquet(path))
        return len(dead_ids)

    def remove(self, doc_ids) -> None:
        """Delete ids: one tombstone covering every current segment."""
        if not doc_ids or not self.meta["segments"]:
            return
        self.remove_df(self.spark.createDataFrame(
            [(int(i),) for i in doc_ids], "doc_id: long"))

    def remove_df(self, ids_df: DataFrame) -> None:
        """remove() from a DataFrame of doc_ids — the distributed form
        mutation hooks use.  Bulk sets (> _BULK_IDS) never round-trip
        through the driver; smaller sets pay one bounded limit()-capped
        collect for the existence probe."""
        self.upsert_batch(None, ids_df)

    def compact_tail(self) -> None:
        """Tiered (log-structured) merge — Lucene's real merge policy tier:
        fold the maximal TRAILING run of comparably-small segments into
        one, leaving large old segments — the bootstrap segment above
        all — untouched.  Under micro-batch ingest this makes maintenance
        amortized O(batch·log) instead of compact()'s O(index) full
        rewrite.

        Correctness with scoped tombstones: the merged segment holds the
        LIVE rows of its sources, so every tombstone's within-run effect
        is materialized; a tombstone whose scope reached into the run is
        then re-scoped to the last untouched segment via meta's tomb_upto
        override — its parquet is untouched, and its remaining job
        (killing docs in segments OLDER than the run) is preserved
        exactly.  When the run reaches segment 0 this degenerates to
        compact(), which also drops the tombstones.  Every other outcome
        ends by folding the tombstone pile."""
        segs = self.meta["segments"]
        if len(segs) < 2:
            self._fold_tombstones()
            return
        stats = self.meta["seg_stats"]
        sizes = [self._seg_size(stats[s]) for s in segs]
        i = len(segs) - 1
        acc = sizes[i]
        while i - 1 >= 0 and sizes[i - 1] <= self._TIER_RATIO * max(acc, 1):
            i -= 1
            acc += sizes[i]
        if i == len(segs) - 1:
            # no mergeable segment run (the tail dwarfs its elder) —
            # still bound the tombstone read fan-in
            self._fold_tombstones()
            return
        if i == 0:
            self.compact()
            return
        name = self._next_name("seg")
        st = self._merge_run(name, i)
        if not self._seg_size(st):
            self._rm(name)
            name = None
        # in-run effects are materialized in the merge
        over = {t: min(self.meta["tomb_upto"][t], i - 1)
                for t in self.meta["tombstones"]}
        self.meta["segments"] = segs[:i] + ([name] if name else [])
        self.meta["seg_stats"] = {s: stats[s] for s in segs[:i]}
        if name:
            self.meta["seg_stats"][name] = st
        self.meta["tomb_upto"] = over
        self._commit()
        self._fold_tombstones()

    def _fold_tombstones(self) -> None:
        """Fold the tombstone PILE into ONE doc_id-sorted file — the other
        half of the tiered discipline: without it, tombstone files pile
        up one per micro-batch.  Per-row effective scopes are
        materialized (``least`` of the written scope and the meta
        override), repeated kills of one doc collapse to the widest
        scope, and empty-scope rows (upto_seg < 0) drop — so tombstone
        ROWS ≈ distinct churned ids since the last full compact, and the
        fold is O(churn), never O(index).  The row count itself is
        bounded by the DB hook's row-budget vacuum (full compact at ~50%
        churn: amortized O(1) rewrite per churned doc).  The same
        observed job records the folded file's row count and widest
        scope, so a later compact_tail re-scopes it without a read."""
        tombs = self.meta["tombstones"]
        if len(tombs) < 2:
            return
        name = self._next_name("tomb")
        obs = Observation()
        (self._tomb()
         .where(F.col("upto_seg") >= 0)
         .groupBy("doc_id")
         .agg(F.max("upto_seg").alias("upto_seg"))
         .observe(obs, F.count(F.lit(1)).alias("n"),
                  F.max("upto_seg").alias("upto"))
         .coalesce(1).sortWithinPartitions("doc_id")  # In(doc_id)
         .write.mode("overwrite")                     # footer pruning
         .parquet(os.path.join(self.folder, name)))
        got = obs.get
        n = int(got["n"])
        if not n:
            self._rm(name)
        self.meta["tombstones"] = [name] if n else []
        self.meta["tomb_upto"] = {name: int(got["upto"])} if n else {}
        self.meta["tomb_stats"] = {name: n} if n else {}
        self._commit()

    # -- row counts (write-time stats, zero jobs) ----------------------------

    def tomb_rows(self) -> int:
        """Total tombstone rows from write-time stats."""
        st = self.meta["tomb_stats"]
        return sum(int(st[t]) for t in self.meta["tombstones"])

    def seg_rows(self) -> int:
        """Total stored doc rows (live + not-yet-vacuumed dead) — the
        row-budget vacuum's denominator."""
        st = self.meta["seg_stats"]
        return sum(self._seg_size(st[s]) for s in self.meta["segments"])

    doc_rows = seg_rows

    # -- reads ---------------------------------------------------------------

    def _tomb(self) -> DataFrame | None:
        if not self.meta["tombstones"]:
            return None
        # a tiered merge (compact_tail) re-scopes tombstones whose range
        # reached into the merged run WITHOUT rewriting their parquet:
        # meta's tomb_upto override NARROWS the written column (least,
        # never replace — a folded tombstone file holds heterogeneous
        # per-row scopes, and a replace would WIDEN its narrow rows)
        over = self.meta["tomb_upto"]
        parts = [self.spark.read.schema(_TOMB_SCHEMA)
                 .parquet(os.path.join(self.folder, t))
                 .withColumn("upto_seg",
                             F.least("upto_seg", F.lit(int(over[t]))))
                 for t in self.meta["tombstones"]]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _raw_run(self, sub: str, lo: int = 0,
                 prune_ids=None) -> DataFrame:
        """Stored rows of table ``sub`` in segments[lo:], with their
        global segment ordinal as ``seg`` — NO tombstone filtering.
        ``prune_ids`` adds an In(doc_id) filter to every segment read
        (footer row-group pruning on doc_id-sorted tables)."""
        if not self.meta["segments"]:
            raise Exception(f"empty {type(self).__name__}; build() first")
        parts = []
        for i, name in enumerate(self.meta["segments"]):
            if i < lo:
                continue
            df = (self.spark.read.schema(self._SCHEMAS[sub])
                  .parquet(os.path.join(self.folder, name, sub)))
            if prune_ids is not None:
                df = df.where(F.col("doc_id").isin(prune_ids))
            parts.append(df.withColumn("seg", F.lit(i)))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _minus_tombstones(self, df: DataFrame,
                          prune_ids=None) -> DataFrame:
        """Anti-join the tombstones against rows carrying a segment
        ordinal ``seg`` (non-equi: a tombstone kills rows of every
        segment up to its ``upto_seg``).  No forced broadcast: the pile
        is bounded by the row-budget vacuum at ~half the stored rows,
        which can exceed the broadcast limit at corpus scale — the
        planner picks the strategy from actual sizes.  ``prune_ids``
        prunes the tombstone read too, so a bounded-id caller pays
        bounded cost regardless of the pile."""
        tomb = self._tomb()
        if tomb is None:
            return df
        if prune_ids is not None:
            tomb = tomb.where(F.col("doc_id").isin(prune_ids))
        return df.join(
            tomb,
            (df["doc_id"] == tomb["doc_id"])
            & (tomb["upto_seg"] >= df["seg"]),
            "left_anti")

    def _live_run(self, sub: str, lo: int = 0,
                  prune_ids=None) -> DataFrame:
        """Live rows of table ``sub`` in segments[lo:] (global segment
        ordinals — the tombstone scopes are global), without the seg
        column."""
        return self._minus_tombstones(
            self._raw_run(sub, lo, prune_ids), prune_ids).drop("seg")
