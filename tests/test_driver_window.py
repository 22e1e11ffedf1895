"""Structural guards for the external driver's correctness gate.

The driver canonicalizes results via ``toPandas().sort_values()`` —
complex-typed output columns (array/map/struct) crash it with
``unhashable type`` (round-1 a08 failure).  The driver's window is the
front of the computed REGISTRY order, which moves as queries are
verified, so every query must emit scalar columns only; nested results
are serialized with ``to_json(sort_array(...))`` by convention.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

from mcm_problem_f_data_wrangling_spark.materialize import barrier_scope
from mcm_problem_f_data_wrangling_spark.plans import REGISTRY

from .conftest import SF_SMOKE


# only the *schema* is inspected, never rows, so the smallest SF does
@pytest.mark.parametrize("name", list(REGISTRY))
def test_window_query_schema_is_canonicalizer_safe(spark, name):
    with barrier_scope():
        df = REGISTRY[name].spark(spark, SF_SMOKE)
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType, BinaryType))
        ]
    assert not complex_cols, (
        f"{name} emits complex-typed columns {complex_cols}; the driver's "
        "pandas canonicalizer cannot hash them — serialize with "
        "to_json(sort_array(...)) instead (a08 precedent)"
    )
