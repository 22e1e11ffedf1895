"""``materialize`` and ``barrier_scope``: the scope frees its barriers
at RDD level, a frame read after its scope closed fails loudly, scopes
nest, an unscoped barrier stays persisted, and ``path=`` grounds in
parquet at the caller's path."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

from mcm_problem_f_data_wrangling_spark.materialize import barrier_scope, materialize

from .conftest import persisted_rdds


def rdd_id(df) -> int:
    return df._jdf.queryExecution().logical().rdd().id()


def test_scope_unpersists_its_barriers(spark):
    with barrier_scope():
        a = materialize(spark.range(10))
        b = materialize(spark.range(20).selectExpr("id * 2 AS x"))
        ids = {rdd_id(a), rdd_id(b)}
        assert ids <= persisted_rdds(spark)
        assert a.count() == 10 and b.count() == 20
    assert not ids & persisted_rdds(spark)


def test_action_after_scope_fails_loudly(spark):
    with barrier_scope():
        a = materialize(spark.range(10))
    with pytest.raises(Py4JJavaError, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        a.collect()


def test_inner_scope_releases_only_its_own(spark):
    with barrier_scope():
        outer = materialize(spark.range(5))
        with barrier_scope():
            inner = materialize(spark.range(6))
        assert rdd_id(inner) not in persisted_rdds(spark)
        assert rdd_id(outer) in persisted_rdds(spark)
        assert outer.count() == 5
    assert rdd_id(outer) not in persisted_rdds(spark)


def test_unscoped_barrier_stays_persisted(spark):
    a = materialize(spark.range(7))
    assert rdd_id(a) in persisted_rdds(spark)
    assert a.count() == 7


def test_path_grounds_in_parquet_at_the_path(spark, tmp_path):
    path = str(tmp_path / "ground")
    before = persisted_rdds(spark)
    with barrier_scope():
        a = materialize(spark.range(9), path)
    assert persisted_rdds(spark) - before == set()
    assert any(f.endswith(".parquet") for f in os.listdir(path))
    assert a.inputFiles() and all("ground" in f for f in a.inputFiles())
    # the caller owns the path: the frame outlives the scope
    assert sorted(r.id for r in a.collect()) == list(range(9))
