"""Sequence packing: assign documents to fixed-token-budget bins.

Pretraining pipelines concatenate documents into fixed-length training
sequences (e.g. 4096 tokens); the packer decides which docs share a
bin.  True first-fit bin packing is inherently sequential; the
standard distributed approximation (used by most LLM data stacks) is
CONTIGUOUS packing: order documents deterministically, take a running
token cumsum, and cut bins at capacity boundaries —
``bin = floor(exclusive_cumsum / capacity)``.  A document straddling a
boundary stays in the earlier bin (bins may overflow by at most one
document; the trainer truncates or rolls the remainder).

Shape: one window cumsum per partition key (source here) — a single
hash exchange + in-partition sort, no joins, no Python.  Fill-rate
accounting comes out of the same pass.  Not in the reference; engine
extension on the BASELINE.json training-data north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    tokens_col: str,
    capacity: int = 4096,
) -> DataFrame:
    """Contiguous packing of docs into token-budget bins per ``source``,
    in ``doc_id`` order.

    Adds: ``bin_id`` (0-based within source), ``bin_offset`` (token
    start position inside the bin: exclusive cumsum - bin start).
    Deterministic given (source, doc_id) — reruns and the
    SQL oracle produce the identical packing.  Docs longer than
    ``capacity`` get a bin to themselves (plus whatever fit before the
    boundary; the overflow rule above).
    """
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    excl = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return (
        df.withColumn("__excl", excl)
        .withColumn("bin_id", (F.col("__excl") / capacity).cast("long"))
        .withColumn(
            "bin_offset", (F.col("__excl") - F.col("bin_id") * capacity).cast("long")
        )
        .drop("__excl")
    )
