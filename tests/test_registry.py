"""The computed registry order (plans/registry.py), checked against the
committed ``CORRECTNESS_r*.json`` artifacts."""

from __future__ import annotations

import pytest

from mcm_problem_f_data_wrangling_spark.plans import REGISTRY
from mcm_problem_f_data_wrangling_spark.plans.base import query
from mcm_problem_f_data_wrangling_spark.plans.registry import FLAGSHIP, last_verified_rounds


def test_flagship_first():
    assert next(iter(REGISTRY)) == FLAGSHIP


def test_rows_only_queries_come_last():
    kinds = [q.sql is None for q in REGISTRY.values()]
    assert kinds == sorted(kinds)


def test_oracle_run_is_least_recently_verified_first():
    last = last_verified_rounds()
    assert last, "no committed CORRECTNESS_r*.json artifact found"
    rounds = [
        last.get(n, 0) for n, q in REGISTRY.items() if n != FLAGSHIP and q.sql is not None
    ]
    assert rounds == sorted(rounds)


def test_duplicate_name_refused_at_registration():
    with pytest.raises(ValueError, match="duplicate"):
        query(FLAGSHIP, "a second flagship")(lambda spark, sf_dir: None)
