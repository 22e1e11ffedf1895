from __future__ import annotations

import pytest

from mcm_problem_f_data_wrangling_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    yield s
    s.stop()


def persisted_rdds(spark) -> set:
    """Ids of the RDDs the SparkContext holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())
