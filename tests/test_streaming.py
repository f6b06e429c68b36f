"""Real Structured Streaming runs (availableNow) must agree with the batch
equivalents the driver hash-checks, and the foreachBatch sink must apply
upsert semantics incrementally."""

from __future__ import annotations

import shutil

import pytest

from binaryvectordb_spark.queries.streaming_batch import (
    events_dedup_first,
    events_tumbling_window,
)
from binaryvectordb_spark.streaming.events import (
    foreach_batch_index_upsert,
    read_events_stream,
    run_append_to_memory,
    run_to_memory,
    session_stats,
    stream_dedup,
    tumbling_counts,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def events_dir(tmp_path):
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "part-000.parquet")
    return str(d)


def _rows(df, key_cols):
    return sorted(tuple(r[c] for c in key_cols) for r in df.collect())


def test_streaming_tumbling_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = run_to_memory(tumbling_counts(stream), "t_tumble")
    want = events_tumbling_window(spark, SF_SMOKE)
    cols = ["win_start", "event_type", "n", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_dedup_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = run_append_to_memory(
        stream_dedup(stream).select("user_id", "event_type", "event_id"),
        "t_dedup")
    want = events_dedup_first(spark, SF_SMOKE)
    # streaming dropDuplicates keeps the first ARRIVING row; with a single
    # ordered input file that is the first event-time row per key, but only
    # the key-set equality is contractual here
    assert (_rows(got.select("user_id", "event_type"), ["user_id", "event_type"])
            == _rows(want.select("user_id", "event_type"),
                     ["user_id", "event_type"]))


def test_streaming_session_window_runs(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = run_to_memory(session_stats(stream), "t_sess")
    assert got.count() > 0
    r = got.first()
    assert r.session_end > r.session_start


def test_foreach_batch_incremental_upsert(spark, tmp_path, events_dir):
    from binaryvectordb_spark.db import BinaryVectorDB
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=16)
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    q = foreach_batch_index_upsert(stream, db, str(tmp_path / "ckpt"))
    q.awaitTermination()
    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert len(db) == n_events
    # streaming upsert is idempotent per key: re-running the same batch keeps
    # the count (delete-then-insert, not blind append)
    db.add_documents([1, 2], ["a", "b"])
    assert len(db) == n_events  # ids 1,2 already existed -> replaced


@pytest.mark.slow
def test_foreach_batch_maintains_text_index(spark, tmp_path, events_dir):
    """The streaming sink composes with the DB's lexical index: every
    micro-batch flows through the _merge_and_swap hook, so after the
    stream drains, keyword search answers exactly like a from-scratch
    index over the final doc store."""
    from binaryvectordb_spark.db import BinaryVectorDB
    from binaryvectordb_spark.operators.textindex import TextIndex
    from pyspark.sql import functions as F

    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=16)
    db.add_documents([10_000_000], ["seed click doc"])
    db.build_text_index()  # enable BEFORE the stream: batches maintain it
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    q = foreach_batch_index_upsert(stream, db, str(tmp_path / "ckpt"))
    q.awaitTermination()
    # the per-micro-batch segments are visible in the index's own metadata
    assert len(db._text_index().meta["segments"]) > 1
    terms = ("click", "purchase")
    got = sorted((h["doc_id"], h["bm25_e10"], h["kw_rank"])
                 for h in db.search_text(terms, k=10))
    fresh = TextIndex(spark, str(tmp_path / "ti_fresh")).build(
        db.docs_df().where(F.col("doc_kind") == "str")
        .select("doc_id", F.col("doc").alias("text")), text_col="text")
    want = sorted(map(tuple, fresh.search(terms, k=10).collect()))
    assert got == want and len(got) == 10


def test_foreach_batch_into_ivf_db(spark, tmp_path, events_dir):
    """The streaming sink composes with the IVF index: the partitioner
    trains on the first micro-batch, later batches assign clusters via the
    trained model, and every indexed row carries a cluster id."""
    from binaryvectordb_spark.db import BinaryVectorDB
    db = BinaryVectorDB(spark, str(tmp_path / "db"), dim=16,
                        index_type="ivf",
                        index_args={"n_clusters": 4, "nprobe": 4})
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    q = foreach_batch_index_upsert(stream, db, str(tmp_path / "ckpt"))
    q.awaitTermination()
    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert len(db) == n_events
    idx = db.index_df()
    assert "cluster" in idx.columns
    assert idx.where("cluster IS NULL").count() == 0
    assert idx.select("cluster").distinct().count() > 1


def test_stateful_user_totals(spark, tmp_path, events_dir):
    """applyInPandasWithState carries state across micro-batches: the final
    emitted row per user equals the batch groupBy totals."""
    import shutil

    from pyspark.sql import functions as F

    from binaryvectordb_spark.streaming.events import (
        run_update_to_memory,
        stateful_user_totals,
    )

    # split input into 2 arriving files to force state carry-over
    multi = tmp_path / "multi"
    multi.mkdir()
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    for i in range(2):
        part = tmp_path / f"part{i}"
        (raw.where(F.col("event_id") % 2 == i).coalesce(1)
         .write.mode("overwrite").parquet(str(part)))
        src = next(p for p in part.iterdir() if p.suffix == ".parquet")
        shutil.copy(src, multi / f"b{i}.parquet")

    stream = read_events_stream(spark, str(multi), max_files_per_trigger=1)
    got = run_update_to_memory(stateful_user_totals(stream), "t_stateful")
    # last update per user = final running totals
    final = {r.user_id: (r.n_events, r.total_cents)
             for r in got.orderBy("n_events").collect()}
    want = {r.user_id: (r.n, r.cents) for r in
            raw.groupBy("user_id")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("cents")).collect()}
    assert final == want


def test_stream_stream_join_matches_batch(spark, events_dir):
    """Stream-stream interval join (watermarked both sides) produces the
    same pairs as the equivalent batch join."""
    from binaryvectordb_spark.streaming.events import (
        stream_stream_click_purchase_join,
    )

    stream = read_events_stream(spark, events_dir)
    got = run_append_to_memory(
        stream_stream_click_purchase_join(stream), "t_ssjoin")

    from pyspark.sql import functions as F

    from binaryvectordb_spark.sources.tables import load_table
    raw = load_table(spark, SF_SMOKE, "events")
    clicks = raw.where("event_type = 'click'").selectExpr(
        "user_id c_user", "event_id click_id", "ts click_ts")
    purchases = raw.where("event_type = 'purchase'").selectExpr(
        "user_id p_user", "event_id purchase_id", "ts purchase_ts")
    want = purchases.join(clicks, F.expr(
        "p_user = c_user AND click_ts <= purchase_ts "
        "AND click_ts >= purchase_ts - INTERVAL 30 minutes"))

    key = lambda df: sorted((r.purchase_id, r.click_id) for r in df.collect())  # noqa: E731
    assert key(got) == key(want)
    assert got.count() > 0


def test_stream_static_enrich_matches_batch(spark, events_dir):
    """Stream-static broadcast enrichment produces exactly the batch join."""
    from pyspark.sql import functions as F

    from binaryvectordb_spark.sources.tables import load_table
    from binaryvectordb_spark.streaming.events import stream_static_enrich

    dim = (load_table(spark, SF_SMOKE, "customer")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    stream = read_events_stream(spark, events_dir)
    got = run_append_to_memory(
        stream_static_enrich(stream, dim), "t_enrich")
    batch = stream_static_enrich(spark.read.parquet(events_dir), dim)
    cols = ["event_id", "user_id", "c_mktsegment"]
    assert _rows(got, cols) == _rows(batch, cols)
    assert got.count() == batch.count() > 0


def test_rocksdb_state_store_matches_default(spark, events_dir):
    """The RocksDB provider must be a drop-in: identical windowed-agg
    results to the default HDFS-backed provider (it only moves WHERE state
    lives — heap vs local disk — which is the 100 TB-scale requirement)."""
    from binaryvectordb_spark.streaming.events import use_rocksdb_state

    cols = ["win_start", "event_type", "n", "sum_value"]
    want = _rows(run_to_memory(
        tumbling_counts(read_events_stream(spark, events_dir)),
        "t_state_default"), cols)
    use_rocksdb_state(spark)
    try:
        got = _rows(run_to_memory(
            tumbling_counts(read_events_stream(spark, events_dir)),
            "t_state_rocks"), cols)
    finally:
        use_rocksdb_state(spark, enabled=False)
    assert got == want


def test_foreach_batch_rollup_exactly_once(spark, tmp_path, events_dir):
    """The incremental rollup equals the batch groupBy of the whole
    fixture, and REPLAYING a micro-batch (foreachBatch's at-least-once
    contract) changes nothing — the manifest-pointer commit makes the
    additive merge idempotent."""
    from pyspark.sql import functions as F

    from binaryvectordb_spark.streaming.events import (
        foreach_batch_rollup,
        read_rollup,
    )

    # split the fixture into 2 arriving files -> 2 real micro-batches
    multi = tmp_path / "multi"
    multi.mkdir()
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    for i in range(2):
        part = tmp_path / f"rp{i}"
        (raw.where(F.col("event_id") % 2 == i).coalesce(1)
         .write.mode("overwrite").parquet(str(part)))
        src = next(p for p in part.iterdir() if p.suffix == ".parquet")
        shutil.copy(src, multi / f"b{i}.parquet")

    out = str(tmp_path / "rollup")
    stream = read_events_stream(spark, str(multi), max_files_per_trigger=1)
    q = foreach_batch_rollup(stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination()

    cols = ["event_date", "event_type", "n_events", "value_cents"]
    got = sorted(map(tuple, read_rollup(spark, out).select(*cols).collect()))
    want = sorted(map(tuple, (
        raw.groupBy(F.to_date("ts").alias("event_date"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.round(F.col("value") * 100).cast("long"))
             .alias("value_cents"))
        .collect())))
    assert got == want and len(got) > 0

    # simulate the at-least-once replay: re-run the whole stream against
    # the SAME output dir with a FRESH checkpoint (every batch replays)
    q2 = foreach_batch_rollup(
        read_events_stream(spark, str(multi), max_files_per_trigger=1),
        out, str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    again = sorted(map(tuple, read_rollup(spark, out)
                   .select(*cols).collect()))
    assert again == want  # no double counting


def test_rollup_commit_fsyncs_meta_and_dir(spark, tmp_path, events_dir,
                                          monkeypatch):
    """A rollup batch's commit is durable before the handler returns (the
    Spark checkpoint then counts the batch done, and the replay guard
    never re-applies it): the head manifest and the store's ``_log`` dir
    are both fsynced."""
    import os

    from binaryvectordb_spark.streaming.events import foreach_batch_rollup

    synced = []
    real_fsync = os.fsync

    def recording_fsync(fd):
        synced.append(os.fstat(fd).st_ino)
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", recording_fsync)
    out = str(tmp_path / "rollup")
    foreach_batch_rollup(read_events_stream(spark, events_dir), out,
                         str(tmp_path / "ckpt")).awaitTermination()
    monkeypatch.undo()
    log = os.path.join(out, "_log")
    head = os.path.join(log, sorted(os.listdir(log))[-1])
    assert os.stat(head).st_ino in synced
    assert os.stat(log).st_ino in synced


def test_rollup_crash_window_recovery(spark, tmp_path):
    """Failure injection for the exactly-once rollup's crash window
    (VERDICT r8 item 7): a crash BETWEEN the data_v write and the
    manifest link leaves a torn orphan dir.  Readers must never see it
    (the head still names the last committed version), and the
    resumed stream must overwrite the orphan and converge to the batch
    ground truth with no double counting."""
    import json
    import os

    from pyspark.sql import functions as F

    from binaryvectordb_spark.operators.segments import read_head
    from binaryvectordb_spark.streaming.events import (
        foreach_batch_rollup,
        read_rollup,
    )

    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    halves = []
    for i in range(2):
        part = tmp_path / f"rp{i}"
        (raw.where(F.col("event_id") % 2 == i).coalesce(1)
         .write.mode("overwrite").parquet(str(part)))
        halves.append(next(p for p in part.iterdir()
                           if p.suffix == ".parquet"))

    multi = tmp_path / "multi"
    multi.mkdir()
    shutil.copy(halves[0], multi / "b0.parquet")

    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    cols = ["event_date", "event_type", "n_events", "value_cents"]

    def rollup_of(df):
        return sorted(map(tuple, (
            df.groupBy(F.to_date("ts").alias("event_date"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("value_cents"))
            .select(*cols).collect())))

    # batch 0 commits normally
    q = foreach_batch_rollup(read_events_stream(spark, str(multi)), out, ckpt)
    q.awaitTermination()
    half0 = rollup_of(raw.where(F.col("event_id") % 2 == 0))
    assert sorted(map(tuple, read_rollup(spark, out)
                      .select(*cols).collect())) == half0

    # inject the crash artifact: batch 1's data dir TORN mid-write (half a
    # parquet file), its manifest never linked
    orphan = os.path.join(out, "data_v1")
    os.makedirs(orphan, exist_ok=True)
    committed = os.path.join(
        out, read_head(os.path.join(out, "_log"))[1]["data"])
    src = next(f for f in os.listdir(committed) if f.endswith(".parquet"))
    blob = open(os.path.join(committed, src), "rb").read()
    with open(os.path.join(orphan, "part-torn.parquet"), "wb") as f:
        f.write(blob[: len(blob) // 2])  # no footer: unreadable by design

    # the reader NEVER sees the torn version — the pointer is the truth
    assert sorted(map(tuple, read_rollup(spark, out)
                      .select(*cols).collect())) == half0

    # deliver batch 1 and RESUME the same checkpoint: the replay must
    # overwrite the orphan and commit atomically
    shutil.copy(halves[1], multi / "b1.parquet")
    q2 = foreach_batch_rollup(read_events_stream(spark, str(multi)),
                              out, ckpt)
    q2.awaitTermination()
    assert sorted(map(tuple, read_rollup(spark, out)
                      .select(*cols).collect())) == rollup_of(raw)
    # the data_v dirs are exactly those the retained manifests name, and
    # none holds the torn file
    log = os.path.join(out, "_log")
    named = {json.load(open(os.path.join(log, f)))["data"]
             for f in os.listdir(log)}
    vdirs = {d for d in os.listdir(out) if d.startswith("data_v")}
    assert vdirs == named
    assert not any("torn" in f for d in vdirs
                   for f in os.listdir(os.path.join(out, d)))


def _deliver_one_by_one(spark, tmp_path, nparts):
    """Time-ordered event files in a staging dir plus an empty stream
    input dir; ``deliver(i)`` moves file i into the input."""
    import os

    staged = _ts_ordered_files(spark, tmp_path, nparts=nparts)
    names = sorted(os.listdir(staged))
    in_dir = tmp_path / "deliver_in"
    in_dir.mkdir()

    def deliver(i):
        os.replace(os.path.join(staged, names[i]), in_dir / names[i])

    return str(in_dir), deliver


@pytest.mark.parametrize("store", ["rollup", "cohort_retention"])
def test_reader_survives_next_commit(spark, tmp_path, store):
    """A DataFrame a reader took at version v still collects v's rows
    after v + 1 commits: GC retains the version before the head.  The
    cohort store's versions share segments; the rollup's do not."""
    import binaryvectordb_spark.streaming.events as EV

    write = getattr(EV, f"foreach_batch_{store}")
    read = getattr(EV, f"read_{store}")
    in_dir, deliver = _deliver_one_by_one(spark, tmp_path, 2)
    out, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def run():
        write(read_events_stream(spark, in_dir), out, ckpt).awaitTermination()

    deliver(0)
    run()
    held = read(spark, out)
    at_v0 = sorted(map(tuple, read(spark, out).collect()))
    deliver(1)
    run()
    assert sorted(map(tuple, held.collect())) == at_v0
    assert sorted(map(tuple, read(spark, out).collect())) != at_v0


def test_rollup_crash_between_link_and_gc(spark, tmp_path, monkeypatch):
    """A crash after a batch's manifest is linked and before its GC: the
    batch stays committed and its replay is skipped; the next batch's
    commit leaves on disk only the dirs the retained manifests name; the
    answer equals the batch twin; and the log never holds more than the
    two retained manifests."""
    import json
    import os

    import pyspark.sql.utils as _u
    from pyspark.sql import functions as F

    import binaryvectordb_spark.streaming.events as EV
    from binaryvectordb_spark.sources.tables import load_table

    in_dir, deliver = _deliver_one_by_one(spark, tmp_path, 4)
    out, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    log = os.path.join(out, "_log")

    def run():
        return EV.foreach_batch_rollup(read_events_stream(spark, in_dir),
                                       out, ckpt)

    for i in range(2):
        deliver(i)
        run().awaitTermination()
    assert sorted(os.listdir(log)) == ["v0000000000.json",
                                       "v0000000001.json"]

    def crash(out_dir):
        raise RuntimeError("crashed after the link, before GC")

    deliver(2)
    monkeypatch.setattr(EV, "_gc", crash)
    with pytest.raises(_u.StreamingQueryException, match="before GC"):
        run().awaitTermination()
    monkeypatch.undo()
    # batch 2 is committed; GC never ran, so v0 is still on disk
    assert len(os.listdir(log)) == 3
    v2 = os.path.join(out, "data_v2")
    stamp = {f: os.path.getmtime(os.path.join(v2, f))
             for f in os.listdir(v2)}

    # the same checkpoint replays batch 2: skipped, nothing rewritten
    run().awaitTermination()
    assert len(os.listdir(log)) == 3
    assert {f: os.path.getmtime(os.path.join(v2, f))
            for f in os.listdir(v2)} == stamp

    deliver(3)
    run().awaitTermination()
    assert sorted(os.listdir(log)) == ["v0000000002.json",
                                       "v0000000003.json"]
    named = {json.load(open(os.path.join(log, f)))["data"]
             for f in os.listdir(log)}
    assert {d for d in os.listdir(out) if d != "_log"} == named

    cols = ["event_date", "event_type", "n_events", "value_cents"]
    ev = load_table(spark, SF_SMOKE, "events")
    want = _rows(ev.groupBy(F.to_date("ts").alias("event_date"),
                            "event_type")
                 .agg(F.count("*").alias("n_events"),
                      F.sum(F.round(F.col("value") * 100).cast("long"))
                      .alias("value_cents")), cols)
    assert _rows(EV.read_rollup(spark, out), cols) == want


@pytest.mark.parametrize("reader", [
    "read_rollup", "read_transition_matrix", "read_cohort_retention",
    "read_value_outliers", "read_kmv_ndv", "read_bottomk_sample"])
def test_read_before_first_commit_names_the_dir(spark, tmp_path, reader):
    """Reading a store no batch has committed to raises FileNotFoundError
    naming its dir, for every store."""
    import re

    import binaryvectordb_spark.streaming.events as EV

    out = tmp_path / "state"
    out.mkdir()
    with pytest.raises(FileNotFoundError, match=re.escape(str(out))):
        getattr(EV, reader)(spark, str(out))


def test_stateful_funnel_matches_batch(spark, tmp_path):
    """The incremental funnel (applyInPandasWithState, state = 3 longs per
    user) must agree with the batch funnel definition after the stream
    drains — per-user reached stage AND the stage timestamps — with the
    event stream split across multiple time-ordered micro-batches."""
    from pyspark.sql import functions as F
    from binaryvectordb_spark.streaming.events import (
        read_events_stream,
        run_update_to_memory,
        stateful_funnel,
    )

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    d = tmp_path / "funnel_in"
    d.mkdir()
    # two time-ordered files (fixture event_ids are ts-monotone) so state
    # genuinely carries across triggers
    ev.where(F.col("event_id") <= mid).coalesce(1).write.parquet(
        str(d / "f0"))
    ev.where(F.col("event_id") > mid).coalesce(1).write.parquet(
        str(d / "f1"))
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d) + "/*"))
    out = run_update_to_memory(stateful_funnel(stream), "t_funnel")
    # last update per user wins
    final = {}
    for r in out.collect():   # update-mode sink: later rows overwrite
        final[r["user_id"]] = r
    # batch definition
    s1 = (ev.filter(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.min("ts").alias("s_ts")))
    s2 = (ev.filter(F.col("event_type") == "click")
          .join(s1, "user_id").filter(F.col("ts") > F.col("s_ts"))
          .groupBy("user_id").agg(F.min("ts").alias("c_ts")))
    s3 = (ev.filter(F.col("event_type") == "purchase")
          .join(s2, "user_id").filter(F.col("ts") > F.col("c_ts"))
          .groupBy("user_id").agg(F.min("ts").alias("p_ts")))
    want_s = {r["user_id"]: r["s_ts"] for r in s1.collect()}
    want_c = {r["user_id"]: r["c_ts"] for r in s2.collect()}
    want_p = {r["user_id"]: r["p_ts"] for r in s3.collect()}
    all_users = {r["user_id"] for r in ev.select("user_id").distinct().collect()}
    assert set(final) == all_users
    import pandas as pd
    for u in all_users:
        r = final[u]
        want_stage = 3 if u in want_p else 2 if u in want_c \
            else 1 if u in want_s else 0
        assert r["stage"] == want_stage, (u, r, want_stage)
        if u in want_s:
            assert pd.Timestamp(r["s_ns"]) == pd.Timestamp(want_s[u]), u
        if u in want_c:
            assert pd.Timestamp(r["c_ns"]) == pd.Timestamp(want_c[u]), u
        if u in want_p:
            assert pd.Timestamp(r["p_ns"]) == pd.Timestamp(want_p[u]), u


def _ts_ordered_files(spark, tmp_path, nparts=3):
    """Split the fixture events into nparts parquet files partitioned by
    the (ts, event_id) total order — the ORDERING CONTRACT of the
    sequence-stateful twins (a time-range file split preserves per-user
    event order across micro-batches).  Files land flat in one dir with
    ascending mtimes so the file source delivers them in order."""
    import time as _time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from binaryvectordb_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    w = Window.orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w))
    n = ranked.count()
    per = (n + nparts - 1) // nparts
    stage = tmp_path / "stage"
    out = tmp_path / "stream_in"
    out.mkdir()
    # Spark writes INT96 timestamps by default, which the stream reader's
    # footer probe (events_ts_encoding) cannot classify — write MICROS
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        for i in range(nparts):
            part = stage / f"p{i}"
            (ranked.where((F.col("rn") > i * per)
                          & (F.col("rn") <= (i + 1) * per))
             .drop("rn").coalesce(1)
             .write.mode("overwrite").parquet(str(part)))
            src = next(p for p in part.iterdir() if p.suffix == ".parquet")
            shutil.copy(src, out / f"b{i}.parquet")
            _time.sleep(0.05)  # distinct mtimes -> in-order file delivery
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    return str(out)


def test_streaming_transition_matrix_matches_batch(spark, tmp_path):
    """The incrementally maintained transition matrix over a 3-trigger
    time-ordered stream must equal the batch twin EXACTLY (counts bigint,
    p the same single float division), including the cross-batch boundary
    pairs carried by the per-user last-event state; a full replay over a
    fresh checkpoint against the same state dir must change nothing
    (exactly-once)."""
    from binaryvectordb_spark.queries.analytics3 import (
        events_transition_matrix,
    )
    from binaryvectordb_spark.streaming.events import (
        foreach_batch_transition_matrix,
        read_transition_matrix,
    )

    in_dir = _ts_ordered_files(spark, tmp_path, nparts=3)
    out = str(tmp_path / "tm_state")
    cols = ["from_type", "to_type", "n", "p"]

    q = foreach_batch_transition_matrix(
        read_events_stream(spark, in_dir, max_files_per_trigger=1),
        out, str(tmp_path / "ckpt1"))
    q.awaitTermination()
    got = _rows(read_transition_matrix(spark, out), cols)
    want = _rows(events_transition_matrix(spark, SF_SMOKE), cols)
    assert got == want
    # exact-once under full replay (fresh checkpoint, same state dir)
    q2 = foreach_batch_transition_matrix(
        read_events_stream(spark, in_dir, max_files_per_trigger=1),
        out, str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    assert _rows(read_transition_matrix(spark, out), cols) == want


def test_streaming_transition_matrix_batching_invariant(spark, tmp_path):
    """Micro-batch granularity must not change the result: 1 file/trigger
    (boundary pairs cross two seams) == one single batch (no seams)."""
    from binaryvectordb_spark.streaming.events import (
        foreach_batch_transition_matrix,
        read_transition_matrix,
    )

    in_dir = _ts_ordered_files(spark, tmp_path, nparts=4)
    cols = ["from_type", "to_type", "n", "p"]
    outs = []
    for tag, mfpt in (("one", None), ("four", 1)):
        out = str(tmp_path / f"tm_{tag}")
        q = foreach_batch_transition_matrix(
            read_events_stream(spark, in_dir, max_files_per_trigger=mfpt),
            out, str(tmp_path / f"ck_{tag}"))
        q.awaitTermination()
        outs.append(_rows(read_transition_matrix(spark, out), cols))
    assert outs[0] == outs[1]


def test_streaming_cohort_retention_matches_batch(spark, tmp_path):
    """The incrementally maintained retention matrix over a 3-trigger
    time-ordered stream must equal the batch twin exactly (the cohort day
    fixed at first sight, distinct user-week facts accumulated), and be
    replay-idempotent."""
    from binaryvectordb_spark.queries.analytics3 import (
        events_cohort_retention,
    )
    from binaryvectordb_spark.streaming.events import (
        foreach_batch_cohort_retention,
        read_cohort_retention,
    )

    in_dir = _ts_ordered_files(spark, tmp_path, nparts=3)
    out = str(tmp_path / "cr_state")
    cols = ["cohort_day", "week_offset", "n_active"]

    q = foreach_batch_cohort_retention(
        read_events_stream(spark, in_dir, max_files_per_trigger=1),
        out, str(tmp_path / "ckpt1"))
    q.awaitTermination()
    got = _rows(read_cohort_retention(spark, out), cols)
    want = _rows(events_cohort_retention(spark, SF_SMOKE), cols)
    assert got == want
    q2 = foreach_batch_cohort_retention(
        read_events_stream(spark, in_dir, max_files_per_trigger=1),
        out, str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    assert _rows(read_cohort_retention(spark, out), cols) == want


def test_streaming_value_outliers_matches_batch(spark, tmp_path):
    """The maintained exact value histogram must reproduce the batch
    outlier query bit-for-bit at drain time — classification against
    FINAL moments even though rows arrived across 3 micro-batches (the
    sufficient-statistic design) — and be replay-idempotent.  Batch
    split here is by event_id (NOT time): the histogram is additive, so
    unlike the sequence twins it needs no ordering contract."""
    from binaryvectordb_spark.queries.analytics3 import (
        events_value_outliers,
    )
    from binaryvectordb_spark.streaming.events import (
        foreach_batch_value_histogram,
        read_value_outliers,
    )
    from pyspark.sql import functions as F
    from binaryvectordb_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    in_dir = tmp_path / "vo_in"
    in_dir.mkdir()
    stage = tmp_path / "vo_stage"
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        for i in range(3):
            part = stage / f"p{i}"
            (ev.where(F.col("event_id") % 3 == i).coalesce(1)
             .write.mode("overwrite").parquet(str(part)))
            src = next(p for p in part.iterdir() if p.suffix == ".parquet")
            shutil.copy(src, in_dir / f"b{i}.parquet")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    out = str(tmp_path / "vo_state")
    cols = ["event_type", "n_events", "n_outliers", "max_outlier_cents"]
    q = foreach_batch_value_histogram(
        read_events_stream(spark, str(in_dir), max_files_per_trigger=1),
        out, str(tmp_path / "ck1"))
    q.awaitTermination()
    got = _rows(read_value_outliers(spark, out), cols)
    want = _rows(events_value_outliers(spark, SF_SMOKE), cols)
    assert got == want
    q2 = foreach_batch_value_histogram(
        read_events_stream(spark, str(in_dir), max_files_per_trigger=1),
        out, str(tmp_path / "ck2"))
    q2.awaitTermination()
    assert _rows(read_value_outliers(spark, out), cols) == want


def test_streaming_cohort_state_partitioned_append_only(spark, tmp_path):
    """r11 (VERDICT r10 item 5): the cohort fact state is APPEND-ONLY,
    cohort_day-partitioned segments — a later batch writes only its
    net-new facts and never rewrites an earlier segment's partition
    files (path+mtime snapshot identical), while the read-side matrix
    stays exact."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from binaryvectordb_spark.streaming.events import (
        foreach_batch_cohort_retention,
        read_cohort_retention,
        read_events_stream,
    )

    in_dir = _ts_ordered_files(spark, tmp_path, nparts=3)
    files = sorted(os.listdir(in_dir))
    held_back = str(tmp_path / "held_back.parquet")
    os.replace(os.path.join(in_dir, files[-1]), held_back)

    out = str(tmp_path / "cr_state")
    ckpt = str(tmp_path / "ckpt")
    q = foreach_batch_cohort_retention(
        read_events_stream(spark, in_dir, max_files_per_trigger=1),
        out, ckpt)
    q.awaitTermination()

    def state_files():
        snap = {}
        for root, _, fnames in os.walk(out):
            for fn in fnames:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    snap[p] = os.path.getmtime(p)
        return snap

    before = state_files()
    assert before, "no fact files written"

    # deliver the held-back (latest time range) file; same checkpoint, so
    # it arrives as a NEW batch over the existing state
    _time.sleep(0.05)
    os.replace(held_back, os.path.join(in_dir, files[-1]))
    q2 = foreach_batch_cohort_retention(
        read_events_stream(spark, in_dir, max_files_per_trigger=1),
        out, ckpt)
    q2.awaitTermination()

    after = state_files()
    for path, mtime in before.items():
        assert path in after, f"earlier segment file deleted: {path}"
        assert after[path] == mtime, f"earlier segment file rewritten: {path}"
    assert len(after) > len(before), "new batch wrote no new segment"

    # and the matrix over the full stream still matches the batch twin
    from binaryvectordb_spark.queries.analytics3 import (
        events_cohort_retention,
    )
    cols = ["cohort_day", "week_offset", "n_active"]
    assert (_rows(read_cohort_retention(spark, out), cols)
            == _rows(events_cohort_retention(spark, SF_SMOKE), cols))


def test_streaming_kmv_sketch_matches_batch_orderfree(spark, tmp_path):
    """The incrementally maintained KMV sketch must equal the
    definitional batch spec (kmv_direct) after a 3-trigger stream split
    by event_id (NOT time — the set-union state is a CRDT, so no
    ordering contract exists to honor), be replay-idempotent, and be
    granularity-invariant (1 batch == 3 batches)."""
    import shutil as _shutil

    from pyspark.sql import functions as F

    from binaryvectordb_spark.sources.tables import load_table
    from binaryvectordb_spark.streaming.events import (
        foreach_batch_kmv_sketch,
        kmv_direct,
        read_events_stream,
        read_kmv_ndv,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    in_dir = tmp_path / "kmv_in"
    in_dir.mkdir()
    stage = tmp_path / "kmv_stage"
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        for i in range(3):
            part = stage / f"p{i}"
            (ev.where(F.col("event_id") % 3 == i).coalesce(1)
             .write.mode("overwrite").parquet(str(part)))
            src = next(p for p in part.iterdir() if p.suffix == ".parquet")
            _shutil.copy(src, in_dir / f"b{i}.parquet")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    cols = ["grp", "n_sketch", "kth_hash", "est_ndv"]
    want = _rows(kmv_direct(ev), cols)

    out = str(tmp_path / "kmv_state")
    q = foreach_batch_kmv_sketch(
        read_events_stream(spark, str(in_dir), max_files_per_trigger=1),
        out, str(tmp_path / "ck1"))
    q.awaitTermination()
    assert _rows(read_kmv_ndv(spark, out), cols) == want

    # replay over a fresh checkpoint: same state dir, nothing changes
    q2 = foreach_batch_kmv_sketch(
        read_events_stream(spark, str(in_dir), max_files_per_trigger=1),
        out, str(tmp_path / "ck2"))
    q2.awaitTermination()
    assert _rows(read_kmv_ndv(spark, out), cols) == want

    # granularity invariance: one single batch == three batches
    out1 = str(tmp_path / "kmv_state_one")
    q3 = foreach_batch_kmv_sketch(
        read_events_stream(spark, str(in_dir)),
        out1, str(tmp_path / "ck3"))
    q3.awaitTermination()
    assert _rows(read_kmv_ndv(spark, out1), cols) == want


def test_streaming_kmv_sketch_rejects_widened_k(spark, tmp_path):
    """Restarting the sketch writer with a LARGER k than the state was
    maintained with must fail loudly: trimmed bottom-k state cannot
    serve a wider k (hashes already evicted), and silently merging
    would corrupt the sketch."""
    import pyspark.sql.utils as _u

    from binaryvectordb_spark.streaming.events import (
        foreach_batch_kmv_sketch,
        read_events_stream,
    )

    in_dir = tmp_path / "kmvk_in"
    in_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", in_dir / "b0.parquet")
    out = str(tmp_path / "kmvk_state")
    q = foreach_batch_kmv_sketch(
        read_events_stream(spark, str(in_dir)), out,
        str(tmp_path / "ck1"), k=64)
    q.awaitTermination()
    q2 = foreach_batch_kmv_sketch(
        read_events_stream(spark, str(in_dir)), out,
        str(tmp_path / "ck2"), k=128)
    with pytest.raises(_u.StreamingQueryException, match="evicted"):
        q2.awaitTermination()


def test_streaming_kmv_sketch_serves_shrunk_k(spark, tmp_path):
    """Restarting the writer with a SMALLER k is exact (ADVICE r11): the
    bottom-k' of a bottom-k state is the true bottom-k', so the state
    trims once on the next committed batch and equals the k' batch spec
    from then on."""
    import shutil as _shutil

    from pyspark.sql import functions as F

    from binaryvectordb_spark.sources.tables import load_table
    from binaryvectordb_spark.streaming.events import (
        foreach_batch_kmv_sketch,
        kmv_direct,
        read_events_stream,
        read_kmv_ndv,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    in_dir = tmp_path / "kmvs_in"
    in_dir.mkdir()
    stage = tmp_path / "kmvs_stage"
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        for i in range(2):
            part = stage / f"p{i}"
            (ev.where(F.col("event_id") % 2 == i).coalesce(1)
             .write.mode("overwrite").parquet(str(part)))
            src = next(p for p in part.iterdir() if p.suffix == ".parquet")
            _shutil.copy(src, stage / f"b{i}.parquet")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    out = str(tmp_path / "kmvs_state")
    ckpt = str(tmp_path / "ck1")
    _shutil.copy(stage / "b0.parquet", in_dir / "b0.parquet")
    q = foreach_batch_kmv_sketch(
        read_events_stream(spark, str(in_dir)), out, ckpt, k=128)
    q.awaitTermination()

    # restart the SAME checkpoint with k=64 over one more batch: the
    # state trims to 64 on the commit and the read equals the k=64 spec
    _shutil.copy(stage / "b1.parquet", in_dir / "b1.parquet")
    q2 = foreach_batch_kmv_sketch(
        read_events_stream(spark, str(in_dir)), out, ckpt, k=64)
    q2.awaitTermination()
    cols = ["grp", "n_sketch", "kth_hash", "est_ndv"]
    assert (_rows(read_kmv_ndv(spark, out), cols)
            == _rows(kmv_direct(ev, k=64), cols))


def test_streaming_bottomk_sample_matches_batch_orderfree(spark, tmp_path):
    """The incrementally maintained bottom-k quantile sample must equal
    the definitional batch spec (bottomk_direct) after a 3-trigger
    stream split by event_id — the state merges by the SAME set-union
    bottom-K rule as the KMV sketch, so no ordering contract exists —
    be replay-idempotent, granularity-invariant (1 batch == 3 batches),
    and derive the same nearest-rank quantiles through the shared
    read-side recipe."""
    import shutil as _shutil

    from pyspark.sql import functions as F

    from binaryvectordb_spark.sources.tables import load_table
    from binaryvectordb_spark.streaming.events import (
        bottomk_direct,
        bottomk_quantiles,
        foreach_batch_bottomk_sample,
        read_bottomk_quantiles,
        read_bottomk_sample,
        read_events_stream,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    in_dir = tmp_path / "bkq_in"
    in_dir.mkdir()
    stage = tmp_path / "bkq_stage"
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        for i in range(3):
            part = stage / f"p{i}"
            (ev.where(F.col("event_id") % 3 == i).coalesce(1)
             .write.mode("overwrite").parquet(str(part)))
            src = next(p for p in part.iterdir() if p.suffix == ".parquet")
            _shutil.copy(src, in_dir / f"b{i}.parquet")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    scols = ["h", "event_id", "cents"]
    want_sample = _rows(bottomk_direct(ev), scols)
    qcols = ["q", "k_sample", "est_cents"]
    want_q = _rows(bottomk_quantiles(bottomk_direct(ev)), qcols)

    out = str(tmp_path / "bkq_state")
    q = foreach_batch_bottomk_sample(
        read_events_stream(spark, str(in_dir), max_files_per_trigger=1),
        out, str(tmp_path / "ck1"))
    q.awaitTermination()
    assert _rows(read_bottomk_sample(spark, out), scols) == want_sample
    assert _rows(read_bottomk_quantiles(spark, out), qcols) == want_q

    # replay over a fresh checkpoint: same state dir, nothing changes
    q2 = foreach_batch_bottomk_sample(
        read_events_stream(spark, str(in_dir), max_files_per_trigger=1),
        out, str(tmp_path / "ck2"))
    q2.awaitTermination()
    assert _rows(read_bottomk_sample(spark, out), scols) == want_sample

    # granularity invariance: one single batch == three batches
    out1 = str(tmp_path / "bkq_state_one")
    q3 = foreach_batch_bottomk_sample(
        read_events_stream(spark, str(in_dir)),
        out1, str(tmp_path / "ck3"))
    q3.awaitTermination()
    assert _rows(read_bottomk_sample(spark, out1), scols) == want_sample


def test_streaming_bottomk_sample_rejects_widened_k(spark, tmp_path):
    """The shared bottom-K guard (the KMV discipline): widening k
    against trimmed sample state must fail loudly."""
    import pyspark.sql.utils as _u

    from binaryvectordb_spark.streaming.events import (
        foreach_batch_bottomk_sample,
        read_events_stream,
    )

    in_dir = tmp_path / "bkqk_in"
    in_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", in_dir / "b0.parquet")
    out = str(tmp_path / "bkqk_state")
    q = foreach_batch_bottomk_sample(
        read_events_stream(spark, str(in_dir)), out,
        str(tmp_path / "ck1"), k=64)
    q.awaitTermination()
    q2 = foreach_batch_bottomk_sample(
        read_events_stream(spark, str(in_dir)), out,
        str(tmp_path / "ck2"), k=128)
    with pytest.raises(_u.StreamingQueryException, match="evicted"):
        q2.awaitTermination()


def _mk_cohort_events(spark, tmp_path, batches):
    """Write time-ordered event batch files for the cohort twin tests;
    returns (in_dir, all_events_df).  batches = list of lists of
    (event_id, iso_date, user_id)."""
    import shutil as _shutil

    from pyspark.sql import functions as F

    stage = tmp_path / "coh_stage"
    in_dir = tmp_path / "coh_in"
    in_dir.mkdir()
    rows = [(eid, f"{d} 12:00:00", uid, "click", 1.0, "p")
            for batch in batches for eid, d, uid in batch]
    schema = ("event_id long, ts_s string, user_id long, "
              "event_type string, value double, props string")
    all_ev = (spark.createDataFrame(rows, schema)
              .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
              .select("event_id", "ts", "user_id", "event_type",
                      "value", "props"))
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        for i, batch in enumerate(batches):
            ids = [eid for eid, _, _ in batch]
            part = stage / f"p{i}"
            (all_ev.where(F.col("event_id").isin(ids)).coalesce(1)
             .write.mode("overwrite").parquet(str(part)))
            src = next(p for p in part.iterdir() if p.suffix == ".parquet")
            _shutil.copy(src, stage / f"b{i}.parquet")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    return str(in_dir), str(stage), all_ev


_COHORT_BATCHES = [
    # time-ordered micro-batches; u1/u2 cohort 01-01, u3 01-15 (closed by
    # the end under horizon 2), u4 02-05, u5 02-12 (open)
    [(1, "2024-01-01", 1), (2, "2024-01-01", 2), (3, "2024-01-08", 1),
     (4, "2024-01-15", 1), (5, "2024-01-15", 3)],
    [(6, "2024-01-22", 2), (7, "2024-01-22", 3), (8, "2024-01-29", 3),
     (9, "2024-01-29", 1)],
    # the late u1 event (id 14) lands AFTER u1's cohort closed: the TTL
    # must skip its fact entirely
    [(10, "2024-02-05", 4), (11, "2024-02-12", 4), (12, "2024-02-12", 5),
     (13, "2024-02-15", 5), (14, "2024-02-15", 1)],
]


def _open_matrix(all_ev, horizon):
    """Batch-twin derivation restricted to the open window — the truth
    the bounded streaming state must serve."""
    from pyspark.sql import functions as F

    b = all_ev.select("user_id", F.to_date("ts").alias("d"))
    coh = b.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    wm = b.agg(F.max("d")).first()[0].isoformat()
    facts = (b.join(coh, "user_id")
             .select("user_id", "cohort_day",
                     F.expr("CAST(datediff(d, cohort_day) div 7 AS BIGINT)")
                     .alias("week_offset"))
             .distinct()
             .where(F.expr(f"datediff(DATE'{wm}', cohort_day) div 7")
                    <= horizon))
    return (facts.groupBy("cohort_day", "week_offset")
            .agg(F.countDistinct("user_id").alias("n_active")))


def test_cohort_read_after_an_empty_batch(spark, tmp_path):
    """A cohort store whose committed batch wrote no fact (an empty
    micro-batch) reads as an empty matrix, not as a store with no
    commit."""
    from binaryvectordb_spark.streaming.events import (
        foreach_batch_cohort_retention,
        read_cohort_retention,
    )

    in_dir, stage, _ = _mk_cohort_events(spark, tmp_path, [[]])
    shutil.copy(f"{stage}/b0.parquet", f"{in_dir}/b0.parquet")
    out = str(tmp_path / "state")
    foreach_batch_cohort_retention(
        read_events_stream(spark, in_dir), out,
        str(tmp_path / "ck")).awaitTermination()
    assert read_cohort_retention(spark, out).collect() == []


@pytest.mark.slow
def test_streaming_cohort_retention_horizon_bounds_state(spark, tmp_path):
    """The horizon-bounded cohort twin (VERDICT r11 item 5): facts past
    the horizon stop being written (the late closed-cohort event leaves
    no fact and touches no closed partition), the read-side matrix over
    the open window equals the batch twin on the same window, the
    result is replay-safe and granularity-invariant, and a horizon
    mismatch on restart is refused both ways."""
    import os
    import shutil as _shutil

    import pyspark.sql.utils as _u

    from binaryvectordb_spark.streaming.events import (
        foreach_batch_cohort_retention,
        read_cohort_retention,
        read_events_stream,
    )

    H = 2
    in_dir, stage, all_ev = _mk_cohort_events(
        spark, tmp_path, _COHORT_BATCHES)
    cols = ["cohort_day", "week_offset", "n_active"]
    want = _rows(_open_matrix(all_ev, H), cols)
    assert len(want) == 3  # the fixture genuinely closes two cohorts

    out = str(tmp_path / "coh_state")
    ckpt = str(tmp_path / "ck1")
    # first two batches establish closed-cohort facts on disk
    for i in range(2):
        _shutil.copy(f"{stage}/b{i}.parquet", f"{in_dir}/b{i}.parquet")
    q = foreach_batch_cohort_retention(
        read_events_stream(spark, in_dir, max_files_per_trigger=1),
        out, ckpt, horizon_weeks=H)
    q.awaitTermination()

    def closed_partition_files():
        found = {}
        for seg in os.listdir(out):
            for day in ("2024-01-01", "2024-01-15"):
                p = os.path.join(out, seg, f"cohort_day={day}")
                if os.path.isdir(p):
                    for f in os.listdir(p):
                        fp = os.path.join(p, f)
                        found[fp] = os.path.getmtime(fp)
        return found

    before = closed_partition_files()
    assert before, "expected early-cohort facts on disk before closing"

    # the third batch closes the January cohorts (wm jumps to 02-15)
    _shutil.copy(f"{stage}/b2.parquet", f"{in_dir}/b2.parquet")
    q2 = foreach_batch_cohort_retention(
        read_events_stream(spark, in_dir, max_files_per_trigger=1),
        out, ckpt, horizon_weeks=H)
    q2.awaitTermination()

    assert _rows(read_cohort_retention(spark, out), cols) == want
    # closed partitions untouched: no new files, no rewrites
    assert closed_partition_files() == before
    # the late u1 event's fact (week_offset 6) was never written
    import glob
    from functools import reduce
    stored = reduce(lambda a, b: a.unionByName(b),
                    [spark.read.schema(
                        "user_id long, week_offset long, cohort_day date")
                     .parquet(p) for p in glob.glob(f"{out}/facts_v*")])
    assert stored.where("week_offset >= 6").count() == 0

    # replay over a fresh checkpoint: nothing changes
    q3 = foreach_batch_cohort_retention(
        read_events_stream(spark, in_dir, max_files_per_trigger=1),
        out, str(tmp_path / "ck2"), horizon_weeks=H)
    q3.awaitTermination()
    assert _rows(read_cohort_retention(spark, out), cols) == want

    # granularity invariance: one single batch == three batches
    out1 = str(tmp_path / "coh_state_one")
    q4 = foreach_batch_cohort_retention(
        read_events_stream(spark, in_dir), out1, str(tmp_path / "ck3"),
        horizon_weeks=H)
    q4.awaitTermination()
    assert _rows(read_cohort_retention(spark, out1), cols) == want

    # horizon mismatch refused in both directions
    for bad in (H + 1, None):
        qb = foreach_batch_cohort_retention(
            read_events_stream(spark, in_dir), out,
            str(tmp_path / f"ckbad{bad}"), horizon_weeks=bad)
        with pytest.raises(_u.StreamingQueryException,
                           match="DIFFERENT window"):
            qb.awaitTermination()


@pytest.mark.slow
def test_streaming_cohort_retention_horizon_compaction_drops_closed(
        spark, tmp_path, monkeypatch):
    """Compaction under a horizon physically drops closed-cohort
    partitions: with the fold threshold forced low, the segments the
    head names hold ONLY open cohort days on disk, and the matrix still
    equals the open-window batch twin."""
    import glob
    import os
    import shutil as _shutil

    import binaryvectordb_spark.streaming.events as EV
    from binaryvectordb_spark.operators.segments import read_head

    monkeypatch.setattr(EV, "_COHORT_COMPACT_SEGMENTS", 1)
    H = 2
    in_dir, stage, all_ev = _mk_cohort_events(
        spark, tmp_path, _COHORT_BATCHES)
    for i in range(3):
        _shutil.copy(f"{stage}/b{i}.parquet", f"{in_dir}/b{i}.parquet")
    out = str(tmp_path / "coh_state")
    q = EV.foreach_batch_cohort_retention(
        EV.read_events_stream(spark, in_dir, max_files_per_trigger=1),
        out, str(tmp_path / "ck"), horizon_weeks=H)
    q.awaitTermination()

    cols = ["cohort_day", "week_offset", "n_active"]
    assert (_rows(EV.read_cohort_retention(spark, out), cols)
            == _rows(_open_matrix(all_ev, H), cols))
    head = read_head(os.path.join(out, "_log"))[1]
    days = {os.path.basename(p).split("=")[1]
            for seg in head["fact_segs"]
            for p in glob.glob(f"{out}/{seg}/cohort_day=*")}
    assert days == {"2024-02-05", "2024-02-12"}, days


@pytest.mark.parametrize("horizon", [None, 8])
@pytest.mark.slow
def test_streaming_cohort_first_seen_wins_out_of_contract(
        spark, tmp_path, horizon):
    """r12 review fix: an ORDERING-CONTRACT violation (a user's earlier
    event arriving in a LATER micro-batch) must degrade to stable
    identity — the user stays in the cohort of their FIRST-SEEN day —
    never split the user across two cohorts (the old min() wrote the
    new smaller day into facts while prior facts / the grow-only map
    kept the old day, so the read-side matrix counted the user twice).
    Pins, for both the exact twin and the horizon variant: exactly one
    cohort_day ever carries the user, it is the first-SEEN day, the
    pre-cohort late event is excluded (no negative week offsets), and
    the later event lands at the offset from the FIXED day."""
    import shutil as _shutil
    import time as _time

    from binaryvectordb_spark.streaming.events import (
        foreach_batch_cohort_retention,
        read_cohort_retention,
    )

    def _mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")

    import datetime as _dt

    def _t(day):
        return _dt.datetime.fromisoformat(day + "T12:00:00")

    b1 = [(1, _t("2024-02-10"), 7, "view", 1.0, "{}")]     # first seen
    b2 = [(2, _t("2024-02-01"), 7, "view", 1.0, "{}"),      # LATE earlier
          (3, _t("2024-02-24"), 7, "view", 1.0, "{}")]      # wk2 from 02-10
    in_dir = tmp_path / "stream_in"
    in_dir.mkdir()
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        for i, rows in enumerate([b1, b2]):
            part = tmp_path / f"stage{i}"
            _mk(rows).coalesce(1).write.mode("overwrite").parquet(str(part))
            src = next(p for p in part.iterdir()
                       if p.suffix == ".parquet")
            _shutil.copy(src, in_dir / f"b{i}.parquet")
            _time.sleep(0.05)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    out = str(tmp_path / f"cr_state_{horizon}")
    q = foreach_batch_cohort_retention(
        read_events_stream(spark, str(in_dir), max_files_per_trigger=1),
        out, str(tmp_path / f"ckpt_{horizon}"),
        horizon_weeks=horizon)
    q.awaitTermination()
    got = sorted(
        (r["cohort_day"].isoformat(), int(r["week_offset"]),
         int(r["n_active"]))
        for r in read_cohort_retention(spark, out).collect())
    assert got == [("2024-02-10", 0, 1), ("2024-02-10", 2, 1)], got
