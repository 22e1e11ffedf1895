"""The driver-mirroring correctness gate: every REGISTRY query vs its
DuckDB oracle at sf0.001 (fast; the driver itself runs sf0.01 — use
``python tools/check_parity.py`` for the full-size run), compared with
that tool's ``canon``."""

from __future__ import annotations

import os
import sys

import pytest

from mcm_problem_f_data_wrangling_spark.materialize import barrier_scope
from mcm_problem_f_data_wrangling_spark.plans import REGISTRY

from .conftest import SF_SMOKE, persisted_rdds

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_parity import canon, duck_con  # noqa: E402


@pytest.fixture(scope="module")
def duck():
    con = duck_con(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck):
    q = REGISTRY[name]
    before = persisted_rdds(spark)
    with barrier_scope():
        sdf = q.spark(spark, SF_SMOKE)
        s_cols = [c.lower() for c in sdf.columns]
        s_rows = [tuple(r) for r in sdf.collect()]
    # a set difference: the ContextCleaner may free older RDDs meanwhile
    leaked = persisted_rdds(spark) - before
    assert not leaked, f"{name}: persisted RDDs {sorted(leaked)} outlive the query"
    if q.sql is None:
        assert len(s_rows) > 0, f"{name}: rows-only query returned no rows"
        return
    res = duck.execute(q.sql)
    d_cols = [d[0].lower() for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols), f"{name}: column mismatch"
    assert len(s_rows) == len(d_rows), f"{name}: rowcount mismatch"
    assert canon(s_rows, s_cols) == canon(d_rows, d_cols), f"{name}: value mismatch"
