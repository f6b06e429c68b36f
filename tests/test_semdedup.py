"""SemDeDup policy semantics (dedup_semantic_clusters) pinned at the tau
extremes and against the cluster-blocking invariant, and its assign step
pinned against the oracle's `assigned` CTE."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from binaryvectordb_spark.queries import ORACLES, QUERIES
from binaryvectordb_spark.queries.dedup import (
    semantic_assign,
    semantic_dedup,
)
from binaryvectordb_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare, duck_con


def _e(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


# the registry oracle down to its assign step: every (vec_id, clab) of the
# `assigned` CTE (row_number over cosine DESC, label ASC)
_DUCK_ASSIGNED = (ORACLES["dedup_semantic_clusters"].split(",\ndup AS")[0]
                  + "\nSELECT vec_id, clab FROM assigned")


def test_assign_matches_oracle_assigned_cte(spark, duck):
    compare(semantic_assign(_e(spark)).select("vec_id", "clab"),
            _DUCK_ASSIGNED, duck, "semantic_assign")


def test_assign_edge_rows_tie_break_to_lowest_label(spark, tmp_path):
    """Hand-built 64-dim rows: label 5's centroid is e0, label 7's is e1
    and label 2's is e2/4.  A zero-norm row scores 0 against every
    centroid, and e0+e1 scores exactly 1/sqrt(2) against labels 5 and 7:
    both ties go to the lowest label, in Spark and in the DuckDB oracle."""
    unit = np.eye(64, dtype=np.float32)
    rows = {  # vec_id: (label, embedding, expected clab)
        1: (5, unit[0], 5),               # equal to label 5's centroid
        2: (5, unit[0], 5),
        3: (7, unit[1], 7),
        4: (2, unit[2], 2),
        5: (2, 0 * unit[0], 2),           # zero norm: all-zero scores
        6: (2, unit[0] + unit[1], 5),     # exact 5/7 tie
        7: (2, -(unit[0] + unit[1]), 2),  # only label 2 scores >= 0
    }
    d = str(tmp_path)
    pq.write_table(pa.table({
        "vec_id": pa.array(list(rows), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for _, v, _ in
                               rows.values()], pa.list_(pa.float32())),
        "label": pa.array([lab for lab, _, _ in rows.values()], pa.int32()),
    }), os.path.join(d, "embeddings.parquet"))
    got = semantic_assign(load_table(spark, d, "embeddings"))
    assert {r["vec_id"]: r["clab"] for r in got.collect()} == \
        {i: want for i, (_, _, want) in rows.items()}
    con = duck_con(d, ["embeddings"])
    try:
        compare(got.select("vec_id", "clab"), _DUCK_ASSIGNED, con,
                "semantic_assign edge rows")
    finally:
        con.close()


def test_rewritten_tables_get_fresh_centroids(spark, tmp_path):
    """dedup_semantic_clusters over tables rewritten in place: each pass
    hash-matches its oracle on the files as they are now, not on the
    centroids of the first tables written at that path."""
    from perfbench import gen

    d = str(tmp_path)
    for seed in (1, 2):
        gen.write_curation_tables(d, seed, 50, 400)
        con = duck_con(d, ["embeddings"])
        try:
            compare(QUERIES["dedup_semantic_clusters"](spark, d),
                    ORACLES["dedup_semantic_clusters"], con,
                    f"dedup_semantic_clusters seed {seed}")
        finally:
            con.close()


def test_tau_above_one_removes_nothing(spark):
    """cosine <= 1 always, so tau=1.5 can never mark a duplicate: every row
    survives and the kept-id checksum equals the full id sum."""
    e = _e(spark)
    out = semantic_dedup(e, 1.5).agg(
        F.sum("n_docs").alias("n"), F.sum("n_removed").alias("r"),
        F.sum("kept_id_sum").alias("ks")).first()
    total, id_sum = e.agg(F.count("*"), F.sum("vec_id")).first()
    assert (out["n"], out["r"], out["ks"]) == (total, 0, id_sum)


def test_tau_minus_one_keeps_exactly_first_per_cluster(spark):
    """cosine >= -1 always, so tau=-1 marks EVERY non-minimal id in each
    cluster: exactly one survivor per cluster, and it is the cluster's
    minimal vec_id (keep-first policy, literally)."""
    e = _e(spark)
    rows = semantic_dedup(e, -1.0).collect()
    assert len(rows) > 1  # the assign step produced multiple clusters
    # the single survivor per cluster must be that cluster's MIN vec_id —
    # check against the actual assignment, not just non-nullness
    mins = {r["clab"]: r["m"]
            for r in semantic_assign(e).groupBy("clab")
            .agg(F.min("vec_id").alias("m")).collect()}
    assert set(mins) == {r["cluster"] for r in rows}
    for r in rows:
        assert r["n_removed"] == r["n_docs"] - 1, r
        assert r["kept_id_sum"] == mins[r["cluster"]], r


@pytest.mark.slow
def test_blocked_kernel_bounded_memory_and_exact(spark):
    """The j-blocked dup kernel on a deliberately skewed 'cluster' (one
    block of near-duplicate rows ~15x the mean cluster size): (a) results
    are bit-identical to the naive full-matrix form, and (b) peak temp
    allocation stays O(block * n), an order of magnitude under the n^2
    full matrix."""
    import tracemalloc

    import numpy as np

    from binaryvectordb_spark.queries.dedup import _dup_mask_blocked

    rng = np.random.default_rng(7)
    n, dim, tau = 3000, 64, 0.9
    base = rng.standard_normal(dim)
    # 1500 near-dups of one vector + 1500 independents, shuffled
    x = np.concatenate([
        base + 0.01 * rng.standard_normal((n // 2, dim)),
        rng.standard_normal((n // 2, dim))])
    x = x[rng.permutation(n)]

    # naive reference (the pre-round-8 full-matrix kernel)
    sa = np.zeros(n)
    dm = np.zeros((n, n))
    for d in range(dim):
        sa += x[:, d] * x[:, d]
        dm += x[:, d][:, None] * x[:, d][None, :]
    na = np.sqrt(sa)
    cos = dm / (na[:, None] * na[None, :])
    ref = np.triu(cos >= tau, 1).any(axis=0)
    del dm, cos

    block = 128
    tracemalloc.start()
    got = _dup_mask_blocked(x, tau, block)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert np.array_equal(got, ref)
    assert ref.sum() > 1000  # the skewed block really is near-duplicate
    # full matrix would need n*n*8 bytes (~72 MB); blocked peak must stay
    # a small multiple of block*n*8 (~3 MB) — allow 6x for temporaries
    assert peak < 6 * block * n * 8, peak
    assert peak < 0.5 * n * n * 8, peak


def test_monotone_in_tau(spark):
    """Raising tau can only shrink the duplicate set."""
    e = _e(spark)
    removed = [semantic_dedup(e, t).agg(F.sum("n_removed")).first()[0]
               for t in (0.25, 0.32, 0.40)]
    assert removed[0] >= removed[1] >= removed[2]
    assert removed[0] > 0  # calibration: the fixture has pairs above 0.25
