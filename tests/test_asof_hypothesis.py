"""Property-based parity fuzz: asof_join vs pandas merge_asof.

Hypothesis generates per-key event sequences (duplicate timestamps on
the left allowed, right timestamps kept unique per key — ties there
are contractually arbitrary in BOTH engines) and compares the Spark
as-of join row-for-row with ``pd.merge_asof``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mcm_problem_f_data_wrangling_spark.operators.asof import asof_join

BASE = 1_700_000_000


@pytest.fixture(scope="module")
def sparkref(spark):
    return spark


ts_strategy = st.integers(min_value=0, max_value=10_000)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left_ts=st.lists(ts_strategy, min_size=1, max_size=25),
    right_ts=st.lists(ts_strategy, min_size=0, max_size=25, unique=True),
    n_keys=st.integers(min_value=1, max_value=3),
)
def test_asof_matches_pandas_merge_asof(sparkref, left_ts, right_ts, n_keys):
    spark = sparkref
    lrows = [
        (i, f"k{i % n_keys}", float(BASE + t)) for i, t in enumerate(left_ts)
    ]
    rrows = [
        (100 + i, f"k{i % n_keys}", float(BASE + t), float(t))
        for i, t in enumerate(right_ts)
    ]
    left = (
        spark.createDataFrame(lrows, "lid long, k string, sec double")
        .selectExpr("lid", "k", "timestamp_seconds(sec) AS ts")
    )
    right = (
        spark.createDataFrame(
            rrows, "rid long, k string, sec double, payload double"
        ).selectExpr("rid", "k", "timestamp_seconds(sec) AS ts", "payload")
    )
    got = {
        r["lid"]: r["payload_asof"]
        for r in asof_join(left, right, on=["k"], attach=("payload",)).collect()
    }

    lp = (
        pd.DataFrame(lrows, columns=["lid", "k", "sec"])
        .astype({"lid": "int64", "k": "string", "sec": "float64"})
        .sort_values("sec", kind="stable")
    )
    rp = (
        pd.DataFrame(rrows, columns=["rid", "k", "sec", "payload"])
        .astype({"rid": "int64", "k": "string", "sec": "float64", "payload": "float64"})
        .sort_values("sec", kind="stable")
    )
    merged = pd.merge_asof(
        lp,
        rp[["k", "sec", "payload"]],
        on="sec",
        by="k",
        direction="backward",
    )
    exp = dict(zip(merged["lid"], merged["payload"]))
    assert set(got) == set(exp)
    for lid, want in exp.items():
        have = got[lid]
        if isinstance(want, float) and np.isnan(want):
            assert have is None, (lid, have, "expected no match")
        else:
            assert have == want, (lid, have, want)
