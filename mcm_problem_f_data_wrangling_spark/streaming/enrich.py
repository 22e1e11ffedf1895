"""Stream-static join: enrich a stream with a slowly-changing
dimension (Structured Streaming's stateless join form).

The classic ingestion shape — a fact stream joined to a dimension
snapshot (user → segment, series → industry) — needs NO streaming
state: Spark re-plans the static side per micro-batch, so a stream-
static equi-join is stateless and watermark-free (unlike stream-stream
joins, which buffer).  Broadcasting the dimension keeps every micro-
batch shuffle-free on the stream side: the only data movement is the
one-time broadcast per batch, which AQE caches for the batch duration.

Scale note: the static side is always broadcast.  A dimension too
large for that would need a shuffled sort-merge join PER MICRO-BATCH,
where pre-bucketing the dimension table on the join key (a
``bucketBy`` catalog table) keeps the dimension side's shuffle out of
the steady-state cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "left",
) -> DataFrame:
    """Join a streaming DataFrame to a broadcast static dimension.

    ``how`` may be ``inner`` or ``left`` (stream side preserved); other
    join types are restricted by Structured Streaming for stream-static
    joins and are rejected here with the same contract.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"stream-static join supports inner/left (stream side), got {how!r}"
        )
    return stream.join(F.broadcast(dim), on, how)


def decontaminate_stream(
    stream: DataFrame,
    blocklist: DataFrame,
    on: list[str],
) -> DataFrame:
    """Drop streaming rows whose key appears in a static blocklist —
    decontamination at INGEST (eval-set fingerprints, PII'd doc ids,
    known-spam sources) instead of as a post-hoc batch sweep.

    A stream-static LEFT ANTI join is stateless exactly like
    :func:`enrich_stream`'s left join: the static side re-resolves per
    micro-batch (so a refreshed blocklist snapshot takes effect on the
    next batch), no watermark, no state store.  Broadcasting keeps the
    per-batch cost at one hash-table probe per row; a fingerprint
    blocklist at 100 TB corpus scale is still only eval-set-sized, so
    the broadcast assumption holds where it matters.
    """
    return stream.join(
        F.broadcast(blocklist).select(*on).dropDuplicates(), on, "left_anti"
    )
