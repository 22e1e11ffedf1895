"""Streaming running totals via ``applyInPandasWithState`` —
arbitrary stateful processing with a ``GroupState`` per key
(Arrow-batched Python, the engine sessionize/drift also run on).

Engine extension (the reference is pure batch, SURVEY.md §2.8); the
pipeline use case is live ingest accounting — per-source running
document/byte totals that downstream curation mixes read without
rescanning the corpus.

Per key the state is exactly one (count, total) pair — O(1) per key
regardless of stream length, watermark-free (totals never expire).
Output mode is Update: each micro-batch emits one refreshed row per
key seen in that batch.

Batch equivalence: on any ordered replay of the same rows, the final
emitted row per key equals the batch ``groupBy(key).agg(count, sum)``
— pytest-checked via availableNow over a file source
(tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

_STATE_SCHEMA = "cnt LONG, total DOUBLE"


def running_totals_stream(
    stream_df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Per-key running (count, sum) over a stream.

    Output: (key, cnt, total), one refreshed row per key per
    micro-batch (Update mode).  Per-key state lives forever by design
    (``GroupState`` with no timeout).
    """
    if key_col == value_col:
        raise ValueError(
            f"key_col and value_col must differ (both {key_col!r})"
        )
    if value_col == "key":
        raise ValueError(
            "value_col may not be named 'key' (reserved for the "
            "grouping column in the output schema)"
        )
    # declared key type must match the actual grouping column's, or
    # the Arrow conversion crashes mid-query (an INT key emitted
    # against a declared STRING field)
    key_sql_type = stream_df.schema[key_col].dataType.simpleString()
    # select (not rename) to a fresh 2-col frame: withColumnRenamed
    # would leave a duplicate/ambiguous 'key' if the input already
    # has one, and pruning to exactly (key, value) also keeps the
    # Arrow batches minimal
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    pruned = stream_df.select(
        F.col(key_col).alias("key"), F.col(value_col).alias(value_col)
    )
    out_schema = f"key {key_sql_type}, cnt LONG, total DOUBLE"

    def update(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            v = pdf[value_col]
            cnt += int(v.count())  # non-null, matching batch F.count(col)
            total += float(v.sum()) if v.count() else 0.0
        state.update((cnt, total))
        yield pd.DataFrame({"key": [key[0]], "cnt": [cnt], "total": [total]})

    return pruned.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
