"""Structured Streaming over the events stream (SURVEY §2.9, all EXT — the
reference is explicitly single-process/batch, README.md:174).

Design: file-source streaming (each arriving parquet file is a micro-batch),
event-time watermarks for bounded state, windowed/sessionized aggregation,
in-watermark dedup, and a foreachBatch sink that applies the reference's
upsert semantics (delete-then-insert, BinaryVectorDB/BinaryVectorDB.py:93-101)
incrementally — i.e. streaming index maintenance.

At scale: state is keyed by (window x group); the watermark bounds it.  The
six exactly-once stores (rollup, transition matrix, cohort retention, value
histogram, KMV sketch, bottom-k sample) keep immutable state dirs named by
one manifest per micro-batch, ``<out_dir>/_log/v<batch_id>.json``, published
by the package's one commit protocol (operators/segments.py::commit_version);
a replayed batch at or below the head is skipped, so an additive fold stays
exactly-once under foreachBatch's at-least-once delivery.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from binaryvectordb_spark.operators.segments import (
    LOG,
    commit_version,
    prune_log,
    read_head,
    read_version,
)

# streaming requires an explicit schema; ts's declared type depends on the
# fixture's physical encoding, probed from the parquet footer exactly as the
# batch loader does (sources/tables.py events_ts_encoding) — a nanos-assuming
# reader fed micros divides twice and lands every timestamp in January 1970.
_RAW_FIELDS = ("event_id long, {ts}, user_id long, event_type string, "
               "value double, props string")


ROCKSDB_STATE_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                          "RocksDBStateStoreProvider")


def use_rocksdb_state(spark: SparkSession, enabled: bool = True) -> None:
    """Switch subsequently-started streaming queries to the RocksDB state
    store.  The default HDFS-backed provider keeps every state row on the
    JVM heap — fine for window×group keys, fatal for 100 TB-scale keyed
    state (billions of dedup or per-user keys): RocksDB spills state to
    local disk with bounded memory, changelog-checkpoints incrementally,
    and is the standard large-state choice.  Per-query semantics are
    identical (pinned by tests/test_streaming.py — same results as the
    default provider bit-for-bit); the provider only changes WHERE state
    lives.  Call before .start(); running queries keep their provider."""
    if enabled:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                       ROCKSDB_STATE_PROVIDER)
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def read_events_stream(spark: SparkSession, events_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    from binaryvectordb_spark.sources.tables import events_ts_encoding

    enc = events_ts_encoding(events_dir)
    if enc == "nanos":
        # TIMESTAMP(NANOS) is only readable as int64 via the legacy conf;
        # it must stay set for the lifetime of the (lazy) streaming query.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = _RAW_FIELDS.format(ts="ts long")
    else:
        schema = _RAW_FIELDS.format(ts="ts timestamp")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    out = reader.parquet(events_dir)
    if enc == "nanos":
        out = out.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return out


def tumbling_counts(events: DataFrame, width: str = "1 hour",
                    watermark: str = "10 minutes") -> DataFrame:
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", width).alias("win"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(15,2)"))
                 .cast("double").alias("sum_value"))
            .select(F.col("win.start").alias("win_start"), "event_type",
                    "n", "sum_value"))


def session_stats(events: DataFrame, gap: str = "5 minutes",
                  watermark: str = "10 minutes") -> DataFrame:
    return (events.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select("user_id", F.col("win.start").alias("session_start"),
                    F.col("win.end").alias("session_end"), "n_events"))


def stream_dedup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Keep the first occurrence per (user_id, event_type) within the
    watermark — streaming dropDuplicates with bounded state."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicates(["user_id", "event_type"]))


def run_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Drain the stream with availableNow into an in-memory table (test/dev
    sink); returns the materialized result as a batch DataFrame."""
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("complete")  # requires an aggregated stream; use
         # run_append_to_memory for non-aggregated ones
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def run_append_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


# ---------------------------------------------------------------------------
# foreachBatch sinks: each drains with availableNow (_start).  The six
# exactly-once stores commit through _exactly_once: a batch's fresh
# ``<prefix>_v<batch_id>`` state dirs are named (with the store's k,
# horizon or watermark) by the manifest ``_log/v<batch_id>.json``, linked by
# segments.commit_version.  The version is the batch id, so a replay
# (batch_id <= head) is skipped and link(2) refuses a second commit of one
# batch; a crash before the link leaves only unnamed dirs, which the replay
# overwrites and GC deletes.
# ---------------------------------------------------------------------------

# the state-dir prefixes the stores write: GC deletes nothing else
_STATE_DIRS = ("data_v", "counts_v", "last_v", "facts_v", "cmap_v", "hist_v",
               "sketch_v", "sample_v")
# manifests GC retains: the head and the version before it, so a DataFrame
# a reader took at version v survives the commit of v + 1
_RETAIN = 2


def _start(stream: DataFrame, handle, checkpoint_dir: str):
    return (stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def _head(out_dir: str) -> tuple[int | None, dict]:
    """(version, manifest) of the store's head; (None, {}) before its first
    commit.  A folder without a log that holds anything but unpublished
    state dirs (an earlier layout's pointer file, say) is refused."""
    log = os.path.join(out_dir, LOG)
    if (os.path.isdir(out_dir) and not os.path.isdir(log)
            and not all(e.startswith(_STATE_DIRS)
                        for e in os.listdir(out_dir))):
        raise ValueError(
            f"{out_dir} is not a streaming store in this engine's layout "
            f"(state named by {LOG}/v<batch_id>.json; this engine opens no "
            "other layout): re-ingest its events into a new folder")
    v, m = read_head(log)
    return v, m or {}


def _committed(out_dir: str) -> dict:
    """The head manifest, for a reader."""
    v, m = _head(out_dir)
    if v is None:
        raise FileNotFoundError(
            f"no committed streaming state under {out_dir}: run the "
            "writer's first trigger before reading")
    return m


def _gc(out_dir: str) -> None:
    """Unlink the manifests older than the _RETAIN latest, then delete every
    state dir no retained manifest names: superseded versions and the
    strays of a batch that crashed before its commit."""
    log = os.path.join(out_dir, LOG)
    keep = set()
    for v in prune_log(log, _RETAIN):
        # a manifest value is a dir name, a list of them, or a scalar
        # (version, k, horizon, wm) no state dir is named after
        for x in read_version(log, v).values():
            keep.update(x if isinstance(x, list) else [x])
    for d in os.listdir(out_dir):
        if d.startswith(_STATE_DIRS) and d not in keep:
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)


def _exactly_once(stream: DataFrame, out_dir: str, checkpoint_dir: str,
                  fold, check=None):
    """Start ``stream`` into the exactly-once store at ``out_dir`` (an
    earlier layout is refused here, before start()).  Per micro-batch:
    open the head; ``check(head)`` refuses a config the state was not
    maintained with (before the replay guard: a mismatch is an error even
    for a replayed batch); skip a replay; ``fold(batch_df, batch_id,
    head)`` writes the new state dirs and returns the manifest fields
    naming them; commit them as version batch_id, durably before the
    handler returns and the checkpoint counts the batch done; GC."""
    _head(out_dir)
    log = os.path.join(out_dir, LOG)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        v, head = _head(out_dir)
        if check is not None:
            check(head)
        if v is not None and batch_id <= v:
            return  # replayed batch: already folded in (exactly-once)
        commit_version(log, batch_id, {"version": batch_id,
                                       **fold(batch_df, batch_id, head)})
        _gc(out_dir)

    return _start(stream, handle, checkpoint_dir)


def _write1(df: DataFrame, out_dir: str, name: str) -> str:
    """Write ``df`` as the one-file state dir ``name``; returns ``name``."""
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, name))
    return name


def foreach_batch_index_upsert(events: DataFrame, db,
                               checkpoint_dir: str):
    """Incremental index maintenance: every micro-batch of events is folded
    into the BinaryVectorDB with add_documents' delete-then-insert semantics
    (streaming upsert = §2.10 applied per micro-batch).  The batch stays
    DISTRIBUTED end-to-end: add_documents_df embeds executor-side via
    mapInPandas and merges into the bucketed store — no driver collect, so
    a micro-batch can be arbitrarily large."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        db.add_documents_df(
            batch_df.select(F.col("event_id").cast("long").alias("doc_id"),
                            F.concat_ws(" ", "event_type", "props")
                            .alias("text")))

    return _start(events, handle, checkpoint_dir)


def stateful_user_totals(events: DataFrame,
                         watermark: str = "10 minutes") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-user event count + value total, carried across micro-batches in
    GroupState.  The arbitrary-state API is the escape hatch for operators
    windowed aggregation can't express (SURVEY §2.9) — each key's state is a
    compact tuple, bounded by the key cardinality, not the stream length."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        n, total_cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # integer cents: exact and order-independent across batches.
            # HALF_UP (away from zero) to match the engine-wide rounding
            # contract — pandas .round() is half-even and diverges at .5
            import numpy as np
            v = pdf["value"].to_numpy() * 100.0
            cents = np.sign(v) * np.floor(np.abs(v) + 0.5)
            total_cents += int(cents.sum())
        state.update((n, total_cents))
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n],
                            "total_cents": [total_cents]})

    return (events.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                fn,
                outputStructType="user_id long, n_events long, total_cents long",
                stateStructType="n long, total_cents long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def run_update_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Update-mode memory sink (required for applyInPandasWithState's update
    output); availableNow drain."""
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def stream_stream_click_purchase_join(events: DataFrame,
                                      watermark: str = "30 minutes",
                                      max_gap: str = "30 minutes") -> DataFrame:
    """Stream-stream interval join: each purchase joins the clicks of the
    same user within the preceding ``max_gap``.  Both sides are watermarked
    so Spark can bound the join state (the canonical funnel/attribution
    pattern; state is purged past watermark + interval)."""
    clicks = (events.where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    purchases = (events.where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", watermark))
    return purchases.join(
        clicks,
        F.expr(f"""
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {max_gap}
        """))


def stream_static_enrich(events: DataFrame, dim_df: DataFrame,
                         key: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins the (slowly
    changing) dimension snapshot — stateless, no watermark needed, and the
    static side broadcasts so the stream never shuffles.  At scale the
    dimension is re-read per micro-batch, picking up dimension updates
    without restarting the query."""
    return events.join(F.broadcast(dim_df), key, "left")


def foreach_batch_rollup(events: DataFrame, out_dir: str,
                         checkpoint_dir: str):
    """Incrementally maintained daily (event_date, event_type) rollup —
    counts and value sums — with EXACTLY-ONCE semantics under micro-batch
    REPLAY.  Additive aggregation is the foreachBatch trap: the sink is
    called at-least-once, so a replayed batch would double-count unless
    the commit is idempotent.  The commit is the package's one protocol
    (_exactly_once over segments.commit_version): each batch writes its merged table to a fresh ``data_v<batch_id>``
    dir, and the manifest ``_log/v<batch_id>.json`` = {data: dir} is
    linked; a replayed batch_id <= head is skipped, and a crash between
    the data write and the link leaves only an orphan dir the replay
    overwrites.  Readers (``read_rollup``) always see exactly one
    committed version.

    Scale: the per-batch delta is a map-side-combined groupBy of the
    micro-batch; the merge touches the (days x types)-sized rollup, never
    the event history — the standard incremental materialized aggregate."""
    spark = events.sparkSession

    def fold(batch_df: DataFrame, batch_id: int, head: dict) -> dict:
        # value is aggregated in integer CENTS: partial sums of doubles
        # merge in a different fold order than one global sum and drift
        # ULPs, so an incremental rollup must carry an EXACT additive
        # representation (same device as stateful_user_totals)
        delta = (batch_df
                 .groupBy(F.to_date("ts").alias("event_date"), "event_type")
                 .agg(F.count("*").alias("n_events"),
                      F.sum(F.round(F.col("value") * 100).cast("long"))
                      .alias("value_cents")))
        if head:
            cur = spark.read.parquet(os.path.join(out_dir, head["data"]))
            merged = (cur.unionByName(delta)
                      .groupBy("event_date", "event_type")
                      .agg(F.sum("n_events").alias("n_events"),
                           F.sum("value_cents").alias("value_cents")))
        else:
            merged = delta
        return {"data": _write1(merged, out_dir, f"data_v{batch_id}")}

    return _exactly_once(events, out_dir, checkpoint_dir, fold)


def read_rollup(spark: SparkSession, out_dir: str) -> DataFrame:
    """The rollup at the head version.  The DataFrame survives the commit
    of the next version (GC retains the version before the head)."""
    return spark.read.parquet(
        os.path.join(out_dir, _committed(out_dir)["data"]))


def foreach_batch_gated_upsert(docs: DataFrame, db, checkpoint_dir: str,
                               gate_log_dir: str, *,
                               j_threshold: float = 0.5):
    """Near-dup-GATED streaming ingest: every micro-batch of (doc_id, text)
    rows is screened against the DB's current corpus AND within the batch
    itself by the MinHash/LSH gate (operators/ingest_gate.py; self-pairs
    excluded, so replays/updates are not rejected against their own prior
    version), only zero-near-dup docs are upserted
    (delete-then-insert semantics, text index maintained by the commit
    hooks), and the per-doc admit/reject record is APPENDED to
    ``gate_log_dir`` as parquet — the audit trail a curation pipeline
    keeps at ingest.

    Scale: the batch band table broadcasts, the corpus never shuffles,
    and the gate record write is O(batch); nothing here collects more
    than the take(1) emptiness probe.  The log is partitioned by
    batch_id with dynamic-partition overwrite, so a replayed micro-batch
    rewrites its own partition — exactly-once log contents under
    foreachBatch's at-least-once execution."""
    from binaryvectordb_spark.operators.ingest_gate import (
        gated_add_documents_df,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        rec = gated_add_documents_df(db, batch_df, j_threshold=j_threshold)
        # exactly-once log under foreachBatch's at-least-once contract: a
        # replayed batch OVERWRITES its own batch_id partition instead of
        # appending duplicates (the DB upsert side is already idempotent
        # by delete-then-insert); dynamic mode touches only this partition
        (rec.withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(gate_log_dir))

    return _start(docs, handle, checkpoint_dir)


def stateful_funnel(events: DataFrame,
                    watermark: str = "10 minutes") -> DataFrame:
    """Incremental funnel progression (applyInPandasWithState): per user,
    carry (first signup ts, first click-after-signup ts, first
    purchase-after-click ts) across micro-batches as epoch-nano longs.
    Each batch's rows are processed in (ts, event_id) order, so for an
    event-time-ordered source the greedy update computes EXACTLY the batch
    funnel (first signup; first click strictly after it; first purchase
    strictly after that) — pinned against the batch definition in
    tests/test_streaming.py.  State is 3 longs/user: bounded by key
    cardinality, not stream length — the funnel over an unbounded stream
    without re-scanning history."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        s, c, p = state.get if state.exists else (None, None, None)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"], ignore_index=True)
        for ts, etype in zip(batch["ts"].astype("int64"),
                             batch["event_type"]):
            if etype == "signup" and s is None:
                s = int(ts)
            elif etype == "click" and s is not None and c is None \
                    and ts > s:
                c = int(ts)
            elif etype == "purchase" and c is not None and p is None \
                    and ts > c:
                p = int(ts)
        state.update((s, c, p))
        stage = 3 if p is not None else 2 if c is not None \
            else 1 if s is not None else 0
        yield pd.DataFrame({"user_id": [user_id], "stage": [stage],
                            "s_ns": [s], "c_ns": [c], "p_ns": [p]})

    return (events.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                fn,
                outputStructType=("user_id long, stage int, s_ns long, "
                                  "c_ns long, p_ns long"),
                stateStructType="s_ns long, c_ns long, p_ns long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# streaming twins of the event-sequence analytics (VERDICT r9 item 4):
# incrementally maintained transition matrix + cohort retention, committed
# through the same exactly-once store as foreach_batch_rollup.
# ---------------------------------------------------------------------------

def foreach_batch_transition_matrix(events: DataFrame, out_dir: str,
                                    checkpoint_dir: str):
    """Incrementally maintained first-order transition counts — the
    STREAMING twin of events_transition_matrix, exactly-once under
    micro-batch replay (versioned state dirs committed by _exactly_once,
    replayed batch_id <= head skipped).

    State = two tables: (from_type, to_type, n) counts — bounded by
    |types|² — and the per-user LAST event (user_id, ts, event_id,
    event_type), which stitches the boundary pair between a user's final
    event of one batch and their first event of the next.  Counts are
    additive bigints (exact under any merge order); probabilities are
    derived at READ time (read_transition_matrix) with the same single
    float division as the batch twin.

    ORDERING CONTRACT: micro-batches must partition the stream in
    event-time order per user (a file source fed time-range-split files,
    or a per-key-ordered log) — a cross-batch late event would need
    retraction, which an additive counts table cannot express.  Within a
    batch, (ts, event_id) ordering is handled by the window."""
    spark = events.sparkSession

    def fold(batch_df: DataFrame, batch_id: int, head: dict) -> dict:
        b = batch_df.select("user_id", "ts", "event_id", "event_type")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        within = (b.withColumn("to_type", F.lead("event_type").over(w))
                  .filter(F.col("to_type").isNotNull())
                  .select(F.col("event_type").alias("from_type"),
                          "to_type"))
        firsts = (b.groupBy("user_id")
                  .agg(F.min(F.struct("ts", "event_id", "event_type"))
                       .alias("s"))
                  .select("user_id",
                          F.col("s.event_type").alias("first_type")))
        lasts = (b.groupBy("user_id")
                 .agg(F.max(F.struct("ts", "event_id", "event_type"))
                      .alias("s"))
                 .select("user_id", F.col("s.ts").alias("ts"),
                         F.col("s.event_id").alias("event_id"),
                         F.col("s.event_type").alias("event_type")))
        if head:
            prev = spark.read.parquet(os.path.join(out_dir, head["last"]))
            boundary = (prev.select("user_id",
                                    F.col("event_type").alias("from_type"))
                        .join(firsts, "user_id")
                        .select("from_type",
                                F.col("first_type").alias("to_type")))
            pairs = within.unionByName(boundary)
            new_last = (prev.unionByName(lasts)
                        .groupBy("user_id")
                        .agg(F.max(F.struct("ts", "event_id", "event_type"))
                             .alias("s"))
                        .select("user_id", "s.ts", "s.event_id",
                                "s.event_type"))
        else:
            pairs = within
            new_last = lasts
        delta = pairs.groupBy("from_type", "to_type").agg(
            F.count("*").alias("n"))
        if head:
            cur = spark.read.parquet(os.path.join(out_dir, head["counts"]))
            counts = (cur.unionByName(delta)
                      .groupBy("from_type", "to_type")
                      .agg(F.sum("n").alias("n")))
        else:
            counts = delta
        return {"counts": _write1(counts, out_dir, f"counts_v{batch_id}"),
                "last": _write1(new_last, out_dir, f"last_v{batch_id}")}

    return _exactly_once(events, out_dir, checkpoint_dir, fold)


def read_transition_matrix(spark: SparkSession, out_dir: str) -> DataFrame:
    """Transition matrix at the head version with row-normalized
    probabilities — the same (from_type, to_type, n, p) schema as the
    batch twin.  The DataFrame survives the commit of the next version
    (GC retains the version before the head)."""
    counts = spark.read.parquet(
        os.path.join(out_dir, _committed(out_dir)["counts"]))
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", "n",
        (F.col("n").cast("double")
         / F.sum("n").over(wf).cast("double")).alias("p"))


def foreach_batch_cohort_retention(events: DataFrame, out_dir: str,
                                   checkpoint_dir: str,
                                   horizon_weeks: int | None = None):
    """Incrementally maintained retention matrix — the STREAMING twin of
    events_cohort_retention, exactly-once under replay.

    State = DISTINCT (user_id, cohort_day, week_offset) activity facts,
    held as APPEND-ONLY cohort_day-partitioned SEGMENTS (the textindex
    discipline — VERDICT r10 item 5: the state is O(active user-weeks),
    so a per-batch rewrite of the whole fact set was the one streaming
    twin whose write cost grew with history, and coalesce(1) defeated
    its own docstring's pruning claim).  Per batch:

    - the per-user cohort day is fixed the first time the user appears
      (ordering contract as in foreach_batch_transition_matrix) and
      NEVER moves — enforced structurally since r12: existing users
      take their stored day, bmin only seeds new users, and
      pre-cohort facts (week_offset < 0, possible only under a
      contract violation) are excluded, so a late earlier event
      degrades to stable identity instead of splitting the user
      across two cohorts; the cohort lookup is a column-pruned read
      of the existing segments;
    - candidate facts = the batch's (user, cohort_day, week_offset)
      distinct set; facts already known are removed by an anti-join
      against the prior segments PRUNED to the batch's cohort days
      (partition pruning — facts of other cohorts cannot collide);
    - only the NET-NEW facts are written, as one cohort_day-partitioned
      segment.  Old cohorts' partition files are never touched
      (pinned by tests/test_streaming.py), and segments are disjoint by
      construction, so the read-side distinct count is exact.
    - bounded read-side unions: past _COHORT_COMPACT_SEGMENTS live
      segments the batch folds them into one (amortized O(state·log)).

    Distinct-disjoint segments + the batch_id guard make the merge
    exactly-once under replay.  The aggregate (cohort_day, week_offset,
    n_active) is derived at READ time — countDistinct is NOT additive,
    so the maintained object must be the fact set, not the matrix (the
    standard exact-distinct streaming trade).

    ``horizon_weeks`` (VERDICT r11 item 5 — the production variant the
    r11 docstring only named): cohorts CLOSE once the event-time
    watermark (max day seen, kept in the manifest) has advanced more than
    ``horizon_weeks`` weeks past their cohort day.  Facts of closed
    cohorts stop being written (the TTL — they could never change the
    open-window matrix), compaction physically drops closed partitions,
    and the read side reports exactly the OPEN window.  The per-user
    cohort assignment moves to its own grow-only map segments (the
    irreducible O(users) identity state — without it a returning user
    of a closed cohort would be misassigned to a fresh open cohort), so
    fact state is O(open cohorts × active users × ≤horizon weeks)
    instead of O(history).  ``None`` keeps the exact unbounded twin.
    The horizon is pinned in the manifest: a restart with a different
    value is refused in either direction (the matrix served would
    silently mean a different window).

    Each manifest names its live segments, so consecutive versions share
    the segments they have in common, and a segment (or map segment) that
    a batch wrote empty is named by none and goes with GC."""
    spark = events.sparkSession

    def check(head: dict) -> None:
        if head and head["horizon"] != horizon_weeks:
            raise ValueError(
                f"cohort retention state at {out_dir} was maintained "
                f"with horizon_weeks={head['horizon']}; restarting "
                f"with horizon_weeks={horizon_weeks} would serve a "
                "matrix over a DIFFERENT window (wider: closed-cohort "
                "facts were already dropped; narrower: stored facts "
                "would leak past the new horizon) — use the original "
                "value or a fresh state dir")

    def fold(batch_df: DataFrame, batch_id: int, head: dict) -> dict:
        segs = head.get("fact_segs", [])
        b = batch_df.select("user_id", F.to_date("ts").alias("d"))
        bmin = b.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
        new_map_segs = list(head.get("cohort_segs", []))
        wm = head.get("wm")
        if horizon_weeks is not None:
            # advance the event-time watermark (max day seen; ISO strings
            # compare lexicographically so max() is date order)
            bmax = b.agg(F.max("d")).first()[0]
            if bmax is not None:
                bwm = bmax.isoformat()
                wm = bwm if wm is None or bwm > wm else wm
            prior_map = _cohort_map(spark, out_dir, new_map_segs)
            if prior_map is not None:
                # FIRST-SEEN WINS, enforced structurally (r12 review):
                # an existing user's cohort day never moves, so the
                # persisted map, the written facts, and the read-side
                # matrix can never disagree about a user's cohort.
                # Under the documented ordering contract bmin of an
                # existing user is never earlier than the map's day, so
                # this equals a min(); under a contract violation (a
                # late earlier event) it degrades to stable identity
                # instead of silently splitting the user across two
                # cohorts (the old min() wrote the new smaller day into
                # facts while the grow-only map kept the old one).
                new_users = bmin.join(prior_map.select("user_id"),
                                      "user_id", "left_anti")
                cohorts = prior_map.unionByName(new_users)
            else:
                cohorts, new_users = bmin, bmin
            mdir = f"cmap_v{batch_id}"
            obs_m = Observation()
            (new_users.observe(obs_m, F.count(F.lit(1)).alias("n"))
             .write.mode("overwrite")
             .parquet(os.path.join(out_dir, mdir)))
            if int(obs_m.get["n"]):
                new_map_segs.append(mdir)
            if len(new_map_segs) > _COHORT_COMPACT_SEGMENTS:
                cmdir = f"cmap_v{batch_id}c"
                (_cohort_map(spark, out_dir, new_map_segs)
                 .write.mode("overwrite")
                 .parquet(os.path.join(out_dir, cmdir)))
                new_map_segs = [cmdir]
        else:
            prior_facts = _cohort_facts(spark, out_dir, segs)
            if prior_facts is not None:
                # first-seen wins here too: with stable identity a
                # user's prior facts all carry ONE cohort day by
                # construction, which min() picks
                prior_days = (prior_facts.groupBy("user_id")
                              .agg(F.min("cohort_day")
                                   .alias("cohort_day")))
                cohorts = prior_days.unionByName(
                    bmin.join(prior_days.select("user_id"),
                              "user_id", "left_anti"))
            else:
                cohorts = bmin
        cand = (b.join(cohorts, "user_id")
                .select("user_id", "cohort_day",
                        F.expr("CAST(datediff(d, cohort_day) div 7 "
                               "AS BIGINT)").alias("week_offset"))
                # pre-cohort activity (week_offset < 0) only exists
                # under an ordering-contract violation — an existing
                # user's late event from before their fixed cohort day;
                # a retention matrix's domain starts at cohort entry,
                # so such rows are excluded rather than written as
                # negative-offset cells the batch twin cannot produce
                .where(F.col("week_offset") >= 0)
                .distinct())
        if horizon_weeks is not None and wm is not None:
            # the TTL: facts of CLOSED cohorts are never written — they
            # cannot appear in the open-window matrix
            cand = cand.where(_cohort_open(wm, horizon_weeks))
        prior = _cohort_facts(spark, out_dir, segs)
        if prior is not None:
            days = [r[0] for r in
                    cand.select("cohort_day").distinct().collect()]
            pruned = prior.where(F.col("cohort_day").isin(days))
            cand = cand.join(pruned,
                             ["user_id", "cohort_day", "week_offset"],
                             "left_anti")
        fdir = f"facts_v{batch_id}"
        obs = Observation()
        (cand.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").partitionBy("cohort_day")
         .parquet(os.path.join(out_dir, fdir)))
        new_segs = segs + [fdir] if int(obs.get["n"]) else segs
        if len(new_segs) > _COHORT_COMPACT_SEGMENTS:
            cdir = f"facts_v{batch_id}c"
            merged = _cohort_facts(spark, out_dir, new_segs)
            if horizon_weeks is not None and wm is not None:
                # compaction physically drops closed-cohort partitions:
                # the amortized point where fact state shrinks to the
                # open window
                merged = merged.where(_cohort_open(wm, horizon_weeks))
            (merged.write.mode("overwrite").partitionBy("cohort_day")
             .parquet(os.path.join(out_dir, cdir)))
            new_segs = [cdir]
        return {"fact_segs": new_segs, "horizon": horizon_weeks, "wm": wm,
                "cohort_segs": new_map_segs}

    return _exactly_once(events, out_dir, checkpoint_dir, fold, check)


def _cohort_open(wm: str, horizon_weeks: int):
    """OPEN-cohort predicate: the watermark has advanced at most
    ``horizon_weeks`` whole weeks past the cohort day."""
    return (F.expr(f"datediff(DATE'{wm}', cohort_day) div 7")
            <= F.lit(int(horizon_weeks)))


def _union_segs(spark: SparkSession, out_dir: str, segs: list[str],
                schema: str) -> DataFrame | None:
    if not segs:
        return None
    parts = [spark.read.schema(schema).parquet(os.path.join(out_dir, s))
             for s in segs]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _cohort_map(spark: SparkSession, out_dir: str,
                segs: list[str]) -> DataFrame | None:
    """Grow-only (user_id, cohort_day) assignment map — union of the
    horizon variant's map segments."""
    return _union_segs(spark, out_dir, segs, "user_id long, cohort_day date")


# live segments past this count are folded into one on the next batch
_COHORT_COMPACT_SEGMENTS = 16


def _cohort_facts(spark: SparkSession, out_dir: str,
                  segs: list[str]) -> DataFrame | None:
    return _union_segs(spark, out_dir, segs,
                       "user_id long, week_offset long, cohort_day date")


def read_cohort_retention(spark: SparkSession, out_dir: str) -> DataFrame:
    """Retention matrix at the head version — same (cohort_day,
    week_offset, n_active) schema as the batch twin.  Segments hold
    disjoint facts, so the distinct count unions them without
    re-deduplication cost beyond the aggregate itself.  A
    horizon-bounded state reports exactly the OPEN window w.r.t. the
    committed watermark (facts of cohorts that closed since their
    segment was written are filtered here; compaction eventually drops
    them physically).  The DataFrame survives the commit of the next
    version (GC retains the version before the head)."""
    m = _committed(out_dir)
    facts = _cohort_facts(spark, out_dir, m["fact_segs"])
    if facts is None:  # every batch so far wrote no fact
        facts = spark.createDataFrame(
            [], "user_id long, week_offset long, cohort_day date")
    if m["horizon"] is not None and m["wm"] is not None:
        facts = facts.where(_cohort_open(m["wm"], m["horizon"]))
    return (facts.groupBy("cohort_day", "week_offset")
            .agg(F.countDistinct("user_id").alias("n_active")))


def foreach_batch_value_histogram(events: DataFrame, out_dir: str,
                                  checkpoint_dir: str):
    """Incrementally maintained EXACT value histogram per event type —
    the streaming twin of events_value_outliers, exactly-once under
    replay (_exactly_once: versioned state dirs, batch_id guard).

    The design point: 3-sigma outlier classification depends on the
    FINAL moments, so per-row verdicts cannot be streamed — a row
    admitted as normal early may be an outlier once later data moves the
    mean.  The maintainable object is the SUFFICIENT STATISTIC: the
    exact (event_type, v_c, cnt) integer-cents histogram, which is
    additive (any merge order), bounded by distinct cents values per
    type (not stream length), and from which read_value_outliers derives
    the batch twin's exact answer — counts, moments, and the
    division-free integer z-test — at any point in time.  Maintain
    statistics, not answers."""
    spark = events.sparkSession

    def fold(batch_df: DataFrame, batch_id: int, head: dict) -> dict:
        delta = (batch_df.select(
                    "event_type",
                    F.round(F.col("value") * 100).cast("long").alias("v_c"))
                 .groupBy("event_type", "v_c")
                 .agg(F.count("*").alias("cnt")))
        if head:
            cur = spark.read.parquet(os.path.join(out_dir, head["hist"]))
            merged = (cur.unionByName(delta)
                      .groupBy("event_type", "v_c")
                      .agg(F.sum("cnt").alias("cnt")))
        else:
            merged = delta
        return {"hist": _write1(merged, out_dir, f"hist_v{batch_id}")}

    return _exactly_once(events, out_dir, checkpoint_dir, fold)


def read_value_outliers(spark: SparkSession, out_dir: str) -> DataFrame:
    """The batch twin's exact output derived from the histogram at the
    head version: same integer-cleared 3-sigma test
    ((n·v − S)² > 9·(n·Q − S²)), weights carried by the histogram
    counts.  The DataFrame survives the commit of the next version (GC
    retains the version before the head)."""
    h = spark.read.parquet(
        os.path.join(out_dir, _committed(out_dir)["hist"]))
    stats = (h.groupBy("event_type")
             .agg(F.sum("cnt").alias("n"),
                  F.sum(F.col("cnt") * F.col("v_c")).alias("s"),
                  F.sum(F.col("cnt").cast("decimal(38,0)")
                        * F.col("v_c").cast("decimal(38,0)")
                        * F.col("v_c").cast("decimal(38,0)")).alias("q")))
    j = h.join(stats, "event_type")
    dev = (F.col("n").cast("decimal(38,0)") * F.col("v_c")
           - F.col("s").cast("decimal(38,0)"))
    var_num = (F.col("n").cast("decimal(38,0)") * F.col("q")
               - F.col("s").cast("decimal(38,0)")
               * F.col("s").cast("decimal(38,0)"))
    out = j.withColumn("is_outlier", dev * dev > 9 * var_num)
    return (out.groupBy("event_type")
            .agg(F.sum("cnt").alias("n_events"),
                 F.sum(F.when(F.col("is_outlier"), F.col("cnt"))
                       .otherwise(0)).cast("bigint").alias("n_outliers"),
                 F.max(F.when(F.col("is_outlier"), F.col("v_c")))
                 .alias("max_outlier_cents")))


# -- KMV bottom-k NDV sketch, streamed ---------------------------------------

KMV_STREAM_K = 128


def _check_bottomk_widening(head: dict, k: int, out_dir: str,
                            what: str) -> None:
    """Shared k-compatibility guard for bottom-K CRDT state (the KMV
    sketch and the quantile sample): WIDENING k against trimmed state
    would silently claim members already evicted — refuse BEFORE the
    replay guard (a config mismatch is an error even for a replayed
    batch).  SHRINKING is exact and allowed: bottom-k' of a bottom-k
    state is the true bottom-k' (subset property), so a restart with
    smaller k trims once on the next commit and maintains at k' from
    then on (ADVICE r11: the old guard refused both directions with a
    widening-only message)."""
    if k > head.get("k", k):
        raise ValueError(
            f"{what} state at {out_dir} was maintained with "
            f"k={head['k']}; widening to k={k} would make it claim "
            f"members it already evicted — use k <= {head['k']} "
            "(served exactly by trimming) or a fresh state dir")


def _kmv_fold(sk: DataFrame, k: int) -> DataFrame:
    """Fold a distinct (grp, h) sketch table to the read-side schema
    (grp rows + the union-merged ALL row) with the shared estimator —
    used by both kmv_direct and read_kmv_ndv so the two derivations
    cannot drift."""
    from binaryvectordb_spark.functions.sketch import kmv_estimate

    w_all = Window.partitionBy(F.lit(1)).orderBy("h")
    all_sk = (sk.select("h").distinct()
              .withColumn("grp", F.lit("ALL"))
              .withColumn("rn", F.row_number().over(w_all))
              .where(F.col("rn") <= k).select("grp", "h"))
    return (sk.unionByName(all_sk)
            .groupBy("grp")
            .agg(F.count("*").cast("bigint").alias("n_sketch"),
                 F.max("h").alias("kth_hash"))
            .withColumn("est_ndv", kmv_estimate("n_sketch", "kth_hash", k)))


def kmv_direct(events_df: DataFrame, k: int = KMV_STREAM_K) -> DataFrame:
    """The definitional batch spec the streaming sketch must equal: per
    event_type (plus the union-merged ALL row), the bottom-k user_id
    hash set folded to (grp, n_sketch, kth_hash, est_ndv) with the KMV
    integer estimator (hash + estimator from functions/sketch.py — the
    SAME definitions the batch registry query uses, so stream/batch
    hash-compatibility is by construction)."""
    from binaryvectordb_spark.functions.sketch import kmv_hash48

    hashed = events_df.select(F.col("event_type").alias("grp"),
                              kmv_hash48("user_id").alias("h")).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    grp_sk = (hashed.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= k).select("grp", "h"))
    return _kmv_fold(grp_sk, k)


def foreach_batch_kmv_sketch(events: DataFrame, out_dir: str,
                             checkpoint_dir: str,
                             k: int = KMV_STREAM_K):
    """Streaming twin of the KMV bottom-k NDV sketch
    (queries/analytics3.py::sketch_kmv_mergeable) — incrementally
    maintained per-event_type distinct-user sketches, exactly-once under
    micro-batch replay (versioned state committed by _exactly_once).

    State = the per-group bottom-k hash SET — a set-union CRDT:
    commutative, associative, AND idempotent, so unlike the sequence
    twins this fold needs NO ordering contract (any event_id/time split
    of the stream converges to the same state), and a replayed batch
    would be harmless even without the replay guard (kept for job
    hygiene).  The strongest member of the exactly-once taxonomy:
    additive counts tolerate reordering but not replay; distinct fact
    sets tolerate both but grow with the data; the KMV set tolerates
    both at CONSTANT state — |types|·k slim rows, so the per-batch
    rewrite is bounded and coalesce(1) is the right physical shape.

    Read-side NDV (read_kmv_ndv) derives per-group estimates AND the
    union-merged ALL row from the same state — the mergeability theorem
    the batch query pins cross-engine."""
    spark = events.sparkSession

    def fold(batch_df: DataFrame, batch_id: int, head: dict) -> dict:
        from binaryvectordb_spark.functions.sketch import kmv_hash48

        delta = (batch_df.select(F.col("event_type").alias("grp"),
                                 kmv_hash48("user_id").alias("h"))
                 .distinct())
        if head:
            cur = spark.read.parquet(os.path.join(out_dir, head["sketch"]))
            merged = cur.unionByName(delta).distinct()
        else:
            merged = delta
        w = Window.partitionBy("grp").orderBy("h")
        sk = (merged.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= k).select("grp", "h"))
        return {"sketch": _write1(sk, out_dir, f"sketch_v{batch_id}"),
                "k": k}

    return _exactly_once(
        events, out_dir, checkpoint_dir, fold,
        lambda head: _check_bottomk_widening(head, k, out_dir, "kmv sketch"))


def read_kmv_ndv(spark: SparkSession, out_dir: str) -> DataFrame:
    """(grp, n_sketch, kth_hash, est_ndv) per event_type plus the
    union-merged ALL row, derived from the sketch state at the head
    version by the same shared fold as the batch spec.  The DataFrame
    survives the commit of the next version (GC retains the version
    before the head)."""
    m = _committed(out_dir)
    return _kmv_fold(
        spark.read.parquet(os.path.join(out_dir, m["sketch"])), m["k"])


# -- bottom-k hash-sample quantiles, streamed --------------------------------

BKQ_STREAM_K = 256
BKQ_STREAM_QS = (25, 50, 75, 90)
_BKQ_SCHEMA = "h long, event_id long, cents long"


def _bkq_rows(events_df: DataFrame) -> DataFrame:
    """(h, event_id, cents) projection shared by the batch spec and the
    streaming delta: h = the shared 48-bit md5 recipe over the unique
    event_id, cents the exact integer value — the same hash family the
    batch registry row samples orders with (analytics3.py::_bkq_sample)."""
    from binaryvectordb_spark.functions.sketch import kmv_hash48

    return events_df.select(
        kmv_hash48("event_id").alias("h"),
        F.col("event_id").cast("long").alias("event_id"),
        F.round(F.col("value") * 100).cast("long").alias("cents"))


def _bkq_bottomk(rows: DataFrame, k: int) -> DataFrame:
    """bottom-K by (h, event_id) over a BOUNDED frame (state ∪ batch
    bottom-K, ≤ 2K rows) — the (h, key) tie-break is the r11 total-order
    boundary rule: a 48-bit collision straddling the K boundary must
    resolve identically on every engine and layout."""
    w = Window.partitionBy(F.lit(1)).orderBy("h", "event_id")
    return (rows.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k).select("h", "event_id", "cents"))


def bottomk_direct(events_df: DataFrame, k: int = BKQ_STREAM_K) -> DataFrame:
    """The definitional batch spec the streaming sample must equal: the
    K events with the smallest (hash48(event_id), event_id), carrying
    exact integer cents — orderBy + limit, which Spark plans as
    TakeOrderedAndProject (per-partition partial bottom-K, no global
    sort shuffle)."""
    return _bkq_rows(events_df).orderBy("h", "event_id").limit(k)


def bottomk_quantiles(sample: DataFrame,
                      qs=BKQ_STREAM_QS) -> DataFrame:
    """(q, k_sample, est_cents) nearest-rank picks over a committed or
    direct sample — the read-side derivation SHARED by stream and batch
    (rank 1 + (q·(k−1)) div 100, pure integer arithmetic, the exact
    recipe of the oracle row sketch_bottomk_quantiles)."""
    w = Window.partitionBy(F.lit(1)).orderBy("cents", "event_id")
    rk = sample.withColumn("rn", F.row_number().over(w))
    kc = rk.agg(F.count("*").cast("bigint").alias("k_sample"))
    qdf = sample.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(int(q)) for q in qs])).alias("q"))
    return (qdf.crossJoin(F.broadcast(kc))
            .withColumn("srank", F.expr("1 + (q * (k_sample - 1)) div 100"))
            .join(rk, F.col("srank") == F.col("rn"))
            .select("q", "k_sample", F.col("cents").alias("est_cents")))


def foreach_batch_bottomk_sample(events: DataFrame, out_dir: str,
                                 checkpoint_dir: str,
                                 k: int = BKQ_STREAM_K):
    """Streaming twin of the bottom-k hash-sample quantile sketch
    (queries/analytics3.py::sketch_bottomk_quantiles) — completing
    stream/batch parity for the whole sketch trio (CMS/HLL rollups,
    the KMV NDV twin r11, and now the quantile sample; VERDICT r11
    item 4).

    State = the K rows with the smallest (h, event_id) — merged by the
    SAME set-union bottom-K rule as the KMV sketch, so it inherits the
    full CRDT taxonomy position: commutative, associative, AND
    idempotent (no ordering contract to honor; a replayed batch is
    harmless even without the replay guard, kept for job hygiene), at
    CONSTANT state — k slim rows, so the per-batch rewrite is bounded
    and coalesce(1) is the right physical shape.  Per batch the delta
    is the batch's own bottom-K (TakeOrderedAndProject — no global
    sort), and the merge ranks a ≤2K-row frame.

    Read side (read_bottomk_quantiles) derives the nearest-rank
    quantile estimates through the same integer recipe as the oracle
    row, so at any point in time the stream state answers exactly what
    the batch sample over the same events would."""
    spark = events.sparkSession

    def fold(batch_df: DataFrame, batch_id: int, head: dict) -> dict:
        delta = bottomk_direct(batch_df, k)
        if head:
            cur = (spark.read.schema(_BKQ_SCHEMA)
                   .parquet(os.path.join(out_dir, head["sample"])))
            merged = (cur.unionByName(delta)
                      .dropDuplicates(["h", "event_id"]))
        else:
            merged = delta
        sk = _bkq_bottomk(merged, k)
        return {"sample": _write1(sk, out_dir, f"sample_v{batch_id}"),
                "k": k}

    return _exactly_once(
        events, out_dir, checkpoint_dir, fold,
        lambda head: _check_bottomk_widening(head, k, out_dir,
                                             "bottom-k sample"))


def read_bottomk_sample(spark: SparkSession, out_dir: str) -> DataFrame:
    """The (h, event_id, cents) sample rows at the head version.  The
    DataFrame survives the commit of the next version (GC retains the
    version before the head)."""
    return (spark.read.schema(_BKQ_SCHEMA)
            .parquet(os.path.join(out_dir, _committed(out_dir)["sample"])))


def read_bottomk_quantiles(spark: SparkSession, out_dir: str,
                           qs=BKQ_STREAM_QS) -> DataFrame:
    """(q, k_sample, est_cents) derived from the committed sample by the
    same shared derivation as the batch spec."""
    return bottomk_quantiles(read_bottomk_sample(spark, out_dir), qs)
