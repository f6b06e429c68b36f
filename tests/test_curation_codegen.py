"""Every query of the batch curation pass compiles under whole-stage
codegen on 16-cluster embeddings.

The sf fixtures hold 10 labels; a 16-cluster, 400 x 64 table is where a
plan that inlines one expression per centroid grows a generated method
past Janino's 64 KB limit.  Spark then logs the failed compile and runs
the stage interpreted; with ``spark.sql.codegen.fallback=false`` it
raises instead, which is what this test keys on."""

from __future__ import annotations

import pytest

from perfbench import gen
from perfbench.workloads import CurationBatch


@pytest.fixture(scope="module")
def curation_dir(tmp_path_factory):
    return gen.write_curation_tables(
        str(tmp_path_factory.mktemp("curation")), 1, 300, 400)


@pytest.mark.parametrize("name", CurationBatch.QUERIES)
def test_curation_query_compiles_without_codegen_fallback(spark, curation_dir,
                                                           name):
    from binaryvectordb_spark.queries import QUERIES

    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert QUERIES[name](spark, curation_dir).collect()
    finally:
        spark.conf.set(key, old)
