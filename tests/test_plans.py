"""Physical-plan assertions — the scale properties the engine depends on
(SURVEY §4): top-k plans as TakeOrderedAndProject (per-partition partial
top-k, no full sort shuffle), candidate joins broadcast, filters and column
pruning reach the Parquet scan."""

from __future__ import annotations

from binaryvectordb_spark.plans import formatted_plan
from binaryvectordb_spark.queries.relational import filter_range_pushdown
from binaryvectordb_spark.queries.vector import knn_cascade, knn_phase1_hamming
from tests.conftest import SF_SMOKE


def test_cascade_plan_shape(spark):
    plan = formatted_plan(knn_cascade(spark, SF_SMOKE))
    # three top-k stages -> no global Sort without limit
    assert "TakeOrderedAndProject" in plan
    # documents join must broadcast the <=30-row candidate side
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_phase1_is_scan_plus_topk(spark):
    plan = formatted_plan(knn_phase1_hamming(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan  # no shuffle in the scan+topk path


def test_filter_pushdown_reaches_scan(spark):
    plan = formatted_plan(filter_range_pushdown(spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: only the 6 referenced columns in ReadSchema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_tax" not in read_schema and "l_comment" not in read_schema


def test_q7_dims_broadcast(spark):
    """All four dimension joins of the 6-way q7 must broadcast; only the
    lineitem-orders fact join may shuffle."""
    from binaryvectordb_spark.queries.tpch_more import tpch_q7_nation_volume
    plan = formatted_plan(tpch_q7_nation_volume(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_q4_exists_plans_as_semi_join(spark):
    from binaryvectordb_spark.queries.tpch_more import tpch_q4_order_priority
    plan = formatted_plan(tpch_q4_order_priority(spark, SF_SMOKE))
    assert "LeftSemi" in plan


def test_q18_partial_agg_before_join(spark):
    """The HAVING-gated quantity sum must partial-aggregate (map-side
    combine) before any join touches orders/customer."""
    from binaryvectordb_spark.queries.tpch_more import tpch_q18_large_orders
    plan = formatted_plan(tpch_q18_large_orders(spark, SF_SMOKE))
    assert "partial_sum" in plan or "partial" in plan.lower()
    assert "HashAggregate" in plan


def test_q6_predicates_pushed(spark):
    from binaryvectordb_spark.queries.tpch_more import tpch_q6_forecast_revenue
    plan = formatted_plan(tpch_q6_forecast_revenue(spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_returnflag" not in read_schema  # pruned: not referenced


def test_multitable_lsh_is_hash_join(spark):
    """The multi-table LSH OR-match must plan as a broadcast HASH join on
    the unpivoted (table, bucket) key — the OR-of-equalities form planned
    as BroadcastNestedLoopJoin, which re-scans the corpus per query batch."""
    from binaryvectordb_spark.queries.similarity import (
        ann_lsh_multitable_batch,
        ann_lsh_multitable_search,
    )
    for q in (ann_lsh_multitable_search, ann_lsh_multitable_batch):
        plan = formatted_plan(q(spark, SF_SMOKE))
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastHashJoin" in plan, q.__name__


def test_gap_fill_grid_broadcast(spark):
    """The calendar grid joins broadcast — raw events are never shuffled
    into a grid-sized exchange."""
    from binaryvectordb_spark.queries.lateral import events_gap_fill_daily
    plan = formatted_plan(events_gap_fill_daily(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_probe_is_partition_filter(spark, tmp_path):
    """The IVF probe must prune FILES, not rows: build_ivf lays the index
    out partitionBy(cluster, bucket), so the serving filter
    `cluster IN (probe)` plans as a PartitionFilter on the parquet scan —
    unprobed clusters' files are never opened (at 100 TB the probe reads
    nprobe/k of the index bytes).  A row filter (DataFilters/PushedFilters)
    would scan everything and merely skip scoring."""
    import re

    import numpy as np
    from pyspark.sql import functions as F

    from binaryvectordb_spark.db import BinaryVectorDB

    db = BinaryVectorDB(spark, str(tmp_path / "ivfdb"), dim=16, buckets=4,
                        index_type="ivf",
                        index_args={"n_clusters": 4, "nprobe": 1})
    rng = np.random.RandomState(7)
    n = 200
    db.add_batch(list(range(n)), [f"d{i}" for i in range(n)],
                 rng.uniform(-1, 1, (n, 16)).astype(np.float32))
    idx = db.index_df()
    pruned = db._maybe_prune_index(idx, [rng.uniform(-1, 1, 16)], nprobe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf is not None and "cluster" in pf.group(1), plan[:2000]
    # and it must NOT degrade into a data filter over every file
    df_m = re.search(r"DataFilters: \[([^\]]*)\]", plan)
    assert df_m is None or "cluster" not in df_m.group(1), plan[:2000]
    # mutation pruning still works on the two-level layout: a one-doc
    # upsert reads/rewrites only the touched doc_id bucket within clusters
    before = dict(db._manifest_tables()["index"])
    assert all("/" in k for k in before)  # two-level keys C/K
    db.add_batch([3], ["upd"], rng.uniform(-1, 1, (1, 16)).astype(np.float32))
    after = db._manifest_tables()["index"]
    # the doc-3 bucket's staged FILES must actually change (the upsert
    # rewrote it), and every other bucket's file list must be IDENTICAL —
    # untouched buckets are never restaged
    b3_before = {k: v for k, v in before.items() if db._key_bucket(k) == "3"}
    b3_after = {k: v for k, v in after.items() if db._key_bucket(k) == "3"}
    assert b3_after and b3_after != b3_before
    assert ({k: v for k, v in before.items() if db._key_bucket(k) != "3"}
            == {k: v for k, v in after.items() if db._key_bucket(k) != "3"})


def test_contamination_join_broadcasts_eval_set(spark):
    """The contamination check joins the corpus shingle stream against the
    (small) eval shingle set — the eval side must broadcast; the corpus must
    never shuffle into a sort-merge join."""
    from binaryvectordb_spark.queries.textops2 import text_contamination_overlap
    plan = formatted_plan(text_contamination_overlap(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_curation_funnel_contam_join_broadcast(spark):
    """curation_funnel's decontamination stage left-joins the (small)
    contaminated-id set onto the corpus — both it and the eval shingle
    semi-join must broadcast so the corpus is never shuffled for
    decontamination (the docstring's no-shuffle claim, now forced by an
    explicit hint rather than the auto-broadcast threshold)."""
    from binaryvectordb_spark.queries.textops2 import curation_funnel
    plan = formatted_plan(curation_funnel(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # eval semi + contam left
    assert "CartesianProduct" not in plan


def test_bm25_aggs_partial_and_small_sides_broadcast(spark):
    """BM25's tf and dl token aggregations must each map-side combine (the
    SPECIFIC partial_count(1) partial aggregates — not 'partial' anywhere,
    which any plan matches) and the corpus token stream must never shuffle
    into a sort-merge join at this scale.  The r7 candidates-only dl
    semi-join prune is deliberately ABSENT: the round-8 interleaved A/B
    measured it 24-31% slower (dl's corpus-wide agg is unavoidable — avgdl
    needs it — so the prune only added an agg + exchange + join), so dl
    joins plain and this test pins that no LeftSemi crept back in.
    Applies to the single-query and batch forms."""
    from binaryvectordb_spark.queries.hybrid import (
        search_bm25_topk,
        search_bm25_topk_batch,
    )
    for q in (search_bm25_topk, search_bm25_topk_batch):
        plan = formatted_plan(q(spark, SF_SMOKE))
        # tf agg + dl agg both partial-count before their exchanges
        assert plan.count("partial_count(1)") >= 2, q.__name__
        assert "LeftSemi" not in plan, q.__name__
        assert "SortMergeJoin" not in plan, q.__name__


def test_adaptive_postfilter_rescore_reads_candidates_only(spark):
    """The broad-predicate adaptive branch runs the over-fetched Phase-I
    top-400 ONCE (eagerly, collecting <= 400 candidate ids — Spark has no
    common-subplan reuse, so a lazy pool referenced twice would scan the
    corpus twice), then the returned rescore plan must rebuild the pool
    from an id-PRUNED index read: the In(doc_id, ...) filter reaches the
    parquet scan (row-group stats/dictionary pruning at scale), and no
    corpus-wide shuffle or sort-merge join appears."""
    from binaryvectordb_spark.queries.vector import knn_filtered_adaptive_broad
    plan = formatted_plan(knn_filtered_adaptive_broad(spark, SF_SMOKE))
    # the rescore input is the id-pruned scan: In(...) pushed to the parquet
    # reader, or — when another suite left the fixture cached and Spark's
    # cache manager substituted an InMemoryTableScan — the same predicate
    # pruning cached batches via their stats (INSET on the scan)
    assert "PushedFilters: [In(" in plan or (
        "InMemoryTableScan" in plan and "INSET" in plan)
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_maxsim_one_shuffle_pivoted_agg(spark):
    """MaxSim scoring must cost exactly ONE map-side-combined corpus
    shuffle and ZERO joins: query-term embeddings are inlined as literal
    integer coefficients (queries/lateinteraction.py:_maxsim), per-term
    dots are codegen linear forms over the projected dims, and the maxes
    pivot into a single groupBy(doc_id).  The single-query form then
    selects top-k as TakeOrderedAndProject (no extra shuffle); the batch
    form's per-qid rank window must prune with a PARTIAL WindowGroupLimit
    BEFORE its qid exchange, so only <=k rows per (qid, partition) shuffle
    — never the corpus through |batch| partitions."""
    from binaryvectordb_spark.queries.lateinteraction import (
        search_maxsim_topk,
        search_maxsim_topk_batch,
    )

    def hash_shuffles(plan):
        return [ln for ln in plan.splitlines()
                if "Arguments: hashpartitioning(" in ln]

    plan = formatted_plan(search_maxsim_topk(spark, SF_SMOKE))
    assert len(hash_shuffles(plan)) == 1, hash_shuffles(plan)
    assert "partial_max" in plan
    assert "Join" not in plan  # no query-side join of any kind
    assert "TakeOrderedAndProject" in plan

    plan = formatted_plan(search_maxsim_topk_batch(spark, SF_SMOKE))
    sh = hash_shuffles(plan)
    assert len(sh) == 2 and any("doc_id" in ln for ln in sh), sh
    assert "partial_max" in plan
    # Spark's window-group-limit rewrite must be active in BOTH positions:
    # a partial WindowGroupLimit upstream of the qid exchange (prunes each
    # map partition to <=k rows per qid) and the final one after it — two
    # nodes total; an un-rewritten plan has zero
    import re
    tree = plan.split("\n\n")[0]
    wgl = re.findall(r"WindowGroupLimit \(\d+\)", tree)
    assert len(wgl) == 2, tree
    assert "SortMergeJoin" not in plan


def test_maxsim_rerank_reads_candidates_only(spark):
    """The cascade->MaxSim composition's returned plan is the RERANK stage
    alone (Phase A was a candidate-class collect): exactly one parquet scan
    (documents), with the candidate-id In filter pushed to the scan — the
    rerank never touches the corpus or the embeddings table."""
    from binaryvectordb_spark.queries.lateinteraction import (
        search_maxsim_rerank,
    )
    plan = formatted_plan(search_maxsim_rerank(spark, SF_SMOKE))
    # one scan only: the formatted dump lists each scan once in the tree
    # and once in the detail section
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "embeddings.parquet" not in plan
    assert "PushedFilters: [In(doc_id" in plan
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ivfpq_probe_joins_hash_and_semdedup_no_cartesian(spark):
    """ann_ivfpq_search: the probe (label IN best-clusters) must be a
    broadcast HASH join — never a nested-loop rescan of the corpus — and
    SortMergeJoin must not appear (every non-corpus side is k-row).
    dedup_semantic_clusters: no join at all — the centroid assign is one
    Arrow map over the scan and the pair search one per-cluster grouped
    map; a CartesianProduct would mean the cluster blocking silently
    degenerated to all-pairs."""
    from binaryvectordb_spark.queries.dedup import dedup_semantic_clusters
    from binaryvectordb_spark.queries.similarity import ann_ivfpq_search

    plan = formatted_plan(ann_ivfpq_search(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan

    plan = formatted_plan(dedup_semantic_clusters(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # the main plan has NO join at all: the centroids ride the assign
    # kernel's closure (NOTES.md MaxSim rule), and the pair search is one
    # per-cluster grouped-map kernel — its clab exchange is the only corpus
    # shuffle
    assert "Join" not in plan
    assert "MapInArrow" in plan
    assert "FlatMapGroupsInPandas" in plan


def test_incremental_dedup_batch_broadcasts_batch_side(spark):
    """The ingest-time dedup gate must broadcast the BATCH band table
    against the corpus (the corpus never shuffles for the candidate join)
    — at 100 TB the incoming batch is the only small side."""
    from binaryvectordb_spark.queries.dedup import dedup_incremental_batch

    plan = formatted_plan(dedup_incremental_batch(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_salted_agg_two_stage_shape(spark):
    """The skew-safe agg must show BOTH aggregation layers: a partial+final
    HashAggregate pair keyed by (event_type, salt), then a second pair
    keyed by event_type alone — the hot key's mass is spread over
    _N_SALTS reducers before the tiny final fold."""
    from binaryvectordb_spark.queries.analytics3 import agg_salted_skew_twostage
    plan = formatted_plan(agg_salted_skew_twostage(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 4
    shuffles = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert any("event_type" in l and "salt" in l for l in shuffles), shuffles
    assert any("event_type" in l and "salt" not in l for l in shuffles), shuffles


def test_bloom_reduction_filters_before_join(spark):
    """The bloom bit-test must prune the fact scan BEFORE the exact
    semi-join (runtime-filter shape), and the exact join must broadcast
    the dim side — never a shuffle join on the fact table."""
    from binaryvectordb_spark.queries.analytics3 import join_bloom_semi_reduction
    plan = formatted_plan(join_bloom_semi_reduction(spark, SF_SMOKE))
    assert "shiftright" in plan and "xxhash64" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    # the bit-test Filter sits below the join: it appears AFTER the join
    # node in the formatted tree (children print below parents)
    join_pos = plan.index("BroadcastHashJoin")
    filt_pos = plan.index("shiftright")
    assert filt_pos > join_pos


def test_analytics3_family_no_cartesian(spark):
    """Every round-9 analytics query must plan equi-joins (hash/broadcast
    with post-filtered range predicates where needed) — a
    CartesianProduct or BroadcastNestedLoopJoin here would re-scan the
    event stream per probe row at 100 TB."""
    from binaryvectordb_spark.queries import QUERIES
    for name in ("events_funnel_conversion", "events_cohort_retention",
                 "events_streaks_gaps_islands", "scd2_event_state_history",
                 "events_error_then_purchase", "join_point_in_time_scd2",
                 "events_transition_matrix", "graph_pagerank_bipartite",
                 "sketch_cms_heavy_hitters", "udtf_chunk_lateral"):
        plan = formatted_plan(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q5_q8_dims_broadcast(spark):
    """Q5/Q8: every dimension join broadcasts (region/nation/supplier/
    filtered part); only lineitem->orders/customer may shuffle."""
    from binaryvectordb_spark.queries.tpch_more import (
        tpch_q5_local_supplier_volume,
        tpch_q8_market_share,
    )
    for q, min_bc in ((tpch_q5_local_supplier_volume, 3),
                      (tpch_q8_market_share, 4)):
        plan = formatted_plan(q(spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") >= min_bc, q.__name__
        assert "CartesianProduct" not in plan, q.__name__


def test_scale_safe_rank_variants_have_no_unpartitioned_window(spark):
    """VERDICT r9 item 5: the _scalable twins must contain NO
    un-partitioned Window — every windowspecdefinition in their plans is
    keyed by the range-partition id (__pid), so no task ever sees the
    whole stream.  The equidepth variant additionally has no
    SinglePartition exchange anywhere (its output is a 4-group agg); the
    funnel variant's scalar stats agg legitimately funnels P partial rows
    (map-side combine), so only its WINDOWS are asserted."""
    import re
    from binaryvectordb_spark.queries.analytics3 import (
        agg_equidepth_histogram_scalable,
        events_funnel_latency_scalable,
    )

    p = formatted_plan(agg_equidepth_histogram_scalable(spark, SF_SMOKE))
    assert "SinglePartition" not in p, p
    specs = re.findall(r"windowspecdefinition\(([^,]+),", p)
    assert specs and all(s.startswith("__pid#") for s in specs), specs

    p = formatted_plan(events_funnel_latency_scalable(spark, SF_SMOKE))
    specs = re.findall(r"windowspecdefinition\(([^,]+),", p)
    assert specs and all(s.startswith("__pid#") for s in specs), specs


def test_weighted_median_scalable_windows_are_pid_keyed(spark):
    """The grouped-prefix-sum twin must never window-partition by the
    3-value group alone — every windowspec is keyed by the range
    partition id first."""
    import re
    from binaryvectordb_spark.queries.analytics3 import (
        agg_weighted_median_scalable,
    )

    p = formatted_plan(agg_weighted_median_scalable(spark, SF_SMOKE))
    specs = re.findall(r"windowspecdefinition\(([^,]+),", p)
    assert specs and all(s.startswith("__pid#") for s in specs), specs


def test_kmv_sketch_windows_prune_with_group_limit(spark):
    """The KMV sub-sketch dense_rank<=K must compile to a PARTIAL
    WindowGroupLimit that sits BELOW the first shuffle in the scan
    subtree — map partitions are pruned to their K smallest hashes
    before anything crosses the wire (the r11-review fix: the previous
    distinct-then-rank form shipped the full distinct hash set through
    the dedup exchange first).  Formatted explain numbers children
    lower than parents, so the partial WGL must carry a smaller node id
    than every hash exchange."""
    import re

    from pyspark.sql import functions as F

    from binaryvectordb_spark.functions.sketch import kmv_hash48
    from binaryvectordb_spark.queries.analytics3 import (
        _kmv_grp_sketch,
        sketch_kmv_mergeable,
    )
    from binaryvectordb_spark.sources.tables import load_table

    o = load_table(spark, SF_SMOKE, "orders")
    hashed = o.select(F.col("o_orderpriority").alias("grp"),
                      kmv_hash48("o_custkey").alias("h"),
                      (F.col("o_orderkey") % 8).alias("salt"))
    p = formatted_plan(_kmv_grp_sketch(hashed))
    wgl_ids = [int(m) for m in
               re.findall(r"\((\d+)\) WindowGroupLimit", p)]
    ex_ids = [int(m) for m in
              re.findall(r"\((\d+)\) Exchange", p)]
    assert len(wgl_ids) >= 2, p  # at least the (grp,salt) and (grp) merges
    assert ex_ids and min(wgl_ids) < min(ex_ids), (wgl_ids, ex_ids)
    assert "CartesianProduct" not in p

    # final plan: both Union arms reuse the checkpointed sketch frame
    pf = formatted_plan(sketch_kmv_mergeable(spark, SF_SMOKE))
    assert "ExistingRDD" in pf
    assert "CartesianProduct" not in pf


def test_trunc_dim_error_single_scan_broadcast_shape(spark):
    """quant_trunc_dim_error, both plan halves: (a) the scoring plan
    (pre-checkpoint — the eager localCheckpoint truncates lineage, so it
    must be pinned on the exposed helper) broadcasts the 16-row
    (query x dim) side against ONE corpus scan, never a shuffled join;
    (b) the post-checkpoint consumers share the checkpointed narrow
    frame (ExistingRDD) and every top-10 ranking prunes with
    WindowGroupLimit."""
    from binaryvectordb_spark.queries.vector import (
        _tables,
        _trunc_scored,
        quant_trunc_dim_error,
    )

    emb, _ = _tables(spark, SF_SMOKE)
    ps = formatted_plan(_trunc_scored(emb))
    assert "BroadcastNestedLoopJoin" in ps, ps
    assert "Exchange hashpartitioning" not in ps, ps  # map-side scoring
    import re as _re
    # corpus + the 8-row query side only (formatted explain lists each
    # node once in the tree and once in the detail section)
    assert len(_re.findall(r"\(\d+\) Scan parquet", ps)) == 2, ps

    p = formatted_plan(quant_trunc_dim_error(spark, SF_SMOKE))
    assert "ExistingRDD" in p          # the shared checkpointed frame
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_bottomk_quantiles_toap_and_pid_windows(spark):
    """sketch_bottomk_quantiles, both plan halves: (a) the sample plan
    (pre-checkpoint, pinned on the exposed _bkq_sample helper) must
    compile to TakeOrderedAndProject on the (h, key) TOTAL order —
    per-partition partial bottom-K, never a global sort shuffle, and
    the tie-break key present so a boundary hash collision cannot make
    membership layout-dependent; (b) the final plan reuses the
    checkpointed sample (ExistingRDD) and its only window specs are the
    bounded <=K-row sample rank and the __pid-keyed scale-safe rank —
    no data-sized un-partitioned window, no cartesian."""
    import re

    from pyspark.sql import functions as F

    from binaryvectordb_spark.queries.analytics3 import (
        _bkq_sample,
        sketch_bottomk_quantiles,
    )
    from binaryvectordb_spark.sources.tables import load_table

    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    ps = formatted_plan(_bkq_sample(o))
    assert "TakeOrderedAndProject" in ps, ps
    toap = [l for l in ps.splitlines() if "TakeOrderedAndProject" in l]
    assert any("o_orderkey" in l for l in toap) or "o_orderkey" in ps

    p = formatted_plan(sketch_bottomk_quantiles(spark, SF_SMOKE))
    assert "ExistingRDD" in p
    assert "CartesianProduct" not in p
    specs = re.findall(r"windowspecdefinition\(([^,]+),", p)
    assert specs, p
    for s in specs:
        assert s.startswith("__pid#") or s.startswith("cents#"), specs


def test_salted_join_outer_decomposition_shape(spark):
    """salted_join's right/full decomposition scale claims, plan-pinned
    (VERDICT r11 item 6): (1) the unmatched-small anti-join probes
    big's DISTINCT keys with the partial aggregate BELOW the exchange —
    the hot key collapses map-side, so the distinct's shuffle carries
    |keys| rows, not |big|; (2) the unmatched-big side anti-joins a
    BROADCAST key set (skew-immune by construction: broadcast probes
    have no reducer to hot-spot); (3) the hot big side itself is never
    broadcast."""
    from pyspark.sql import functions as F

    from binaryvectordb_spark.operators.skew import salted_join

    big = spark.range(30_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 40)
        .alias("k"), F.col("id").alias("payload"))
    small = spark.range(60).select(F.col("id").alias("k"),
                                   (F.col("id") * 100).alias("dim_val"))
    plan = formatted_plan(salted_join(big, small, "k", 8, "full"))

    # (1) partial distinct below the exchange: a keys-only HashAggregate
    # (Functions: []) precedes the hashpartitioning exchange of the
    # distinct — map-side collapse of the hot key
    exch = plan.index("hashpartitioning(k")
    agg = plan.index("Functions: []")
    assert agg < exch, "no partial distinct before the key shuffle"

    # (2) both unmatched sides resolve as BroadcastHashJoin LeftAnti —
    # never a shuffled anti-join on the hot table
    assert plan.count("Join type: LeftAnti") == 2
    anti_joins = plan.count("BroadcastHashJoin")
    assert anti_joins >= 2, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan

    # (3) the hot side's payload never crosses a broadcast exchange:
    # every BroadcastExchange input is either a pure key set or the
    # small dim side
    for seg in plan.split("BroadcastExchange")[1:]:
        head = seg.splitlines()[1]  # the "Input [...]" line
        assert "payload" not in head, head


def test_bkqm_merged_sample_partial_wgl_below_slice_exchange(spark):
    """sketch_bkq_mergeable's merged path, pinned on the exposed
    pre-checkpoint helper (_bkqm_merged_sample — the eager
    localCheckpoint truncates lineage out of the final explain): the
    per-slice bottom-K must compile to a PARTIAL WindowGroupLimit BELOW
    the slice exchange (each map partition prunes to <=K rows per slice
    before anything crosses the wire — the shape an incremental
    per-partition sampler persists), and the global merge over the
    <=8K-row union to TakeOrderedAndProject, never a global sort
    shuffle.  The final plan reuses the checkpointed sample
    (ExistingRDD) for both the count/hash-sum aggregate and the
    rank-probe join."""
    import re

    from pyspark.sql import functions as F

    from binaryvectordb_spark.functions.sketch import kmv_hash48
    from binaryvectordb_spark.queries.analytics3 import (
        BKQM_K,
        _bkqm_merged_sample,
        sketch_bkq_mergeable,
    )
    from binaryvectordb_spark.sources.tables import load_table

    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    ).withColumn("h", kmv_hash48("o_orderkey"))
    ps = formatted_plan(_bkqm_merged_sample(o))
    wgl_ids = [int(m) for m in
               re.findall(r"\((\d+)\) WindowGroupLimit", ps)]
    ex_ids = [int(m) for m in re.findall(r"\((\d+)\) Exchange", ps)]
    assert wgl_ids and ex_ids and min(wgl_ids) < min(ex_ids), (wgl_ids,
                                                               ex_ids)
    assert f"row_number(), {BKQM_K}, Partial" in ps, ps
    assert "TakeOrderedAndProject" in ps, ps
    assert "CartesianProduct" not in ps

    p = formatted_plan(sketch_bkq_mergeable(spark, SF_SMOKE))
    assert "ExistingRDD" in p
    assert "CartesianProduct" not in p


def test_tpch_r13_head_plan_shapes(spark):
    """The four r13 subquery-decorrelation shapes (q2/q11/q16/q20): no
    nested loop anywhere except q11's single-row total broadcast, dims
    broadcast, and each query's defining physical pattern present."""
    from binaryvectordb_spark.queries.tpch_more import (
        tpch_q2_min_cost_supplier,
        tpch_q11_important_stock,
        tpch_q16_supplier_part_counts,
        tpch_q20_hot_part_suppliers,
    )

    # q2: correlated-min decorrelation — broadcast dim pipeline + the
    # agg-back join; no cartesian anywhere
    p = formatted_plan(tpch_q2_min_cost_supplier(spark, SF_SMOKE))
    assert p.count("BroadcastHashJoin") >= 4, p.count("BroadcastHashJoin")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # q11: the scalar subquery enters as a 1-ROW broadcast (the repo's
    # crossJoin(broadcast(agg)) convention) — exactly one BNLJ, no
    # second fact scan-shuffle beyond the partial aggregate
    import re
    p = formatted_plan(tpch_q11_important_stock(spark, SF_SMOKE))
    bnlj_nodes = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", p))
    assert len(bnlj_nodes) == 1, bnlj_nodes
    assert "CartesianProduct" not in p
    assert "partial" in p.lower()  # map-side combine on the fact agg

    # q16: NOT IN compiles to a broadcast ANTI join; count distinct
    p = formatted_plan(tpch_q16_supplier_part_counts(spark, SF_SMOKE))
    assert "LeftAnti" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p

    # q20: nested semi — both membership levels as broadcast LeftSemi
    p = formatted_plan(tpch_q20_hot_part_suppliers(spark, SF_SMOKE))
    assert p.count("LeftSemi") >= 2
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_approx_count_distinct_no_per_group_sketch_partial(spark):
    """r16: the approx/exact pair must be SPLIT aggregates — the mixed
    form's single-distinct rewrite groups stage 1 by l_partkey and ships
    a ~13 KB HLL++ partial (rsd=0.01 -> 1,639 buffer words) PER GROUP
    through the exchange.  Pin: any HashAggregate computing the sketch
    partial must be a global (keyless) aggregate."""
    from binaryvectordb_spark.queries.relational import (
        agg_approx_count_distinct,
    )
    plan = formatted_plan(agg_approx_count_distinct(spark, SF_SMOKE))
    nodes = plan.split("\n\n")
    sketch_nodes = [n for n in nodes
                    if "partial_approx_count_distinct" in n]
    assert sketch_nodes, "sketch partial missing from plan"
    for n in sketch_nodes:
        # exact keyless renderings only — 'Keys [0]' (r16 ADVICE) would
        # also match a one-expression grouping key rendered by ordinal
        assert "Keys: []" in n or "Keys []" in n, (
            "HLL++ partial computed per-group again:\n" + n)


def test_multimodal_codec_work_is_spread(spark):
    """r16: the codec mapInPandas chain must not inherit the fixture
    scan's single partition — _spread round-robins the doc_id proxy
    across defaultParallelism before the heavy encode/decode."""
    from binaryvectordb_spark.queries.multimodal import (
        multimodal_jpeg_decode,
    )
    df = multimodal_jpeg_decode(spark, SF_SMOKE)
    expect = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == expect
