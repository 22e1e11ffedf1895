"""The driver-mirroring correctness gate: every REGISTRY query vs its
DuckDB oracle at sf0.001 (fast; the driver itself runs sf0.01 — use
``python tools/check_parity.py`` for the full-size run)."""

from __future__ import annotations

import math

import duckdb
import pytest

from mcm_problem_f_data_wrangling_spark.materialize import barrier_scope
from mcm_problem_f_data_wrangling_spark.plans import REGISTRY
from mcm_problem_f_data_wrangling_spark.schemas import TESTDATA_TABLES

from .conftest import SF_SMOKE, persisted_rdds


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return ("nan",) if math.isnan(v) else round(v, 9)
        return v

    proj = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(proj, key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))


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
    assert _canon(s_rows, s_cols) == _canon(d_rows, d_cols), f"{name}: value mismatch"
