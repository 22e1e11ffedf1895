"""Event-time-ordered file replay for deterministic watermark tests.

Watermark-driven semantics (outer-join null-padding, state eviction,
late-data drops) are only observable — and only DETERMINISTIC — when
the replayed input is event-time-ordered across micro-batches: the
file source feeds batches in modification-time order, the watermark
advances between batches from each batch's max event time, and any
row older than the advanced watermark would be silently dropped.
This module writes a DataFrame as N range-partitioned parquet files
whose mtime order equals their event-time order, then appends
far-future SENTINEL files that flush the watermark past all real
data: sentinel batch k advances the watermark at its end, and the
NEXT batch performs the eviction — two sentinels guarantee every
real row's outer/null-padded result has emitted by end-of-stream
(engine extension; the reference repo is batch-only, SURVEY.md §2.8).

BATCHING CAVEAT: the two sentinels must land in DIFFERENT
micro-batches for the eviction to run in a real batch.  With
``maxFilesPerTrigger`` sized so both sentinel files fall into one
trailing batch, the watermark only advances at that batch's end and
the eviction then silently relies on Spark's trailing no-data
micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``,
default true).  Callers should size ``maxFilesPerTrigger`` as
``n_files + n_sentinels - 1`` so the LAST sentinel forms its own
batch (the s36 gate does exactly this: [data + sentinel 1] advances
the watermark, [sentinel 2] evicts).

The module also holds the harness every live streaming gate runs on:
``drain`` (availableNow run with a timeout guard), ``memory_sink_rows``
(drain into a throwaway memory table and collect it),
``restart_drain`` (the two-phase checkpoint-restart recipe) and
``state_operators`` (the state-operator entries of a query's
progress reports).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from typing import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType

from .dedup import foreach_batch_idempotent_parquet

DRAIN_TIMEOUT_S = 300


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def restamp_replay_sequence(ordered: list[str]) -> list[str]:
    """Re-stamp ``ordered`` (replay files possibly spanning SEVERAL
    ``write_ordered_replay`` dirs) with one strictly increasing
    all-in-the-past mtime sequence, 10 s apart.

    Each ``write_ordered_replay`` call stamps only its own files, so
    two dirs written back-to-back can interleave when copied into one
    source directory (``copy2`` preserves mtimes) — the s39 resume
    gate splits its replay at the restart point into two dirs and
    needs the combined sequence ordered.  Inputs must be existing
    (already mtime-stamped) files — typically the concatenation of
    ``write_ordered_replay`` return lists.  Returns ``ordered``.
    """
    if not ordered:
        raise ValueError(
            "restamp_replay_sequence: ordered is empty — pass the "
            "concatenated write_ordered_replay file lists"
        )
    base = os.stat(ordered[-1]).st_mtime - 10.0 * len(ordered)
    for i, f in enumerate(ordered):
        os.utime(f, (base + 10.0 * i, base + 10.0 * i))
    return ordered


def write_ordered_replay(
    df: DataFrame,
    ts_col: str,
    path: str,
    n_files: int = 3,
    sentinel_df: DataFrame | None = None,
    n_sentinels: int = 2,
) -> list[str]:
    """Write ``df`` to ``path`` as ``n_files`` event-time-range
    parquet files with strictly increasing mtimes (file k's max ts <=
    file k+1's min ts), then ``n_sentinels`` copies of ``sentinel_df``
    (rows the caller builds with FAR-FUTURE ``ts_col`` values and a
    recognizable key to filter downstream) with later mtimes still.

    ``repartitionByRange`` puts range i in task i (= ``part-0000i``),
    but the mtime stamps are ordered by each file's actual min ts so
    the replay order never depends on output-file naming.  Returns
    the stamped file list in replay order.
    """
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    df.repartitionByRange(n_files, F.col(ts_col)).write.mode(
        "overwrite"
    ).parquet(path)
    import pyarrow.parquet as pq

    def min_ts(f: str):
        t = pq.read_table(f, columns=[ts_col])
        # empty range partitions sort last (their replay slot is moot)
        return (1,) if t.num_rows == 0 else (0, min(t.column(ts_col).to_pylist()))

    ordered = sorted(_parquet_files(path), key=lambda f: (min_ts(f), f))
    if sentinel_df is not None:
        for _ in range(n_sentinels):
            before = set(_parquet_files(path))
            sentinel_df.coalesce(1).write.mode("append").parquet(path)
            new = sorted(set(_parquet_files(path)) - before)
            ordered.extend(new)
    # strictly increasing mtimes, 10 s apart and ALL IN THE PAST —
    # the file source orders by modification time, and both streams
    # of a two-source query list the SAME directory, so this one
    # ordering drives both.  Stamping PAST times matters: a source
    # that initializes before a file's (future) mtime can latch an
    # availableNow snapshot that excludes it, and with two sources
    # initializing at different instants the streams then diverge
    return restamp_replay_sequence(ordered)


def drain(writer: DataStreamWriter, gate: str) -> StreamingQuery:
    """Start ``writer`` with the availableNow trigger, block until it
    has processed all available input, and return the stopped query.

    ``awaitTermination`` returns False on timeout — a timed-out run
    leaves PARTIAL output in its sink, which would surface as an
    opaque hash mismatch downstream; fail loudly instead.  The query
    is stopped however the wait ends.
    """
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(
                f"{gate} streaming query did not drain within "
                f"{DRAIN_TIMEOUT_S} s — its sink would hold partial output"
            )
    finally:
        q.stop()
    return q


def memory_sink_rows(
    df: DataFrame,
    gate: str,
    output_mode: str = "append",
    check: Callable[[StreamingQuery], None] | None = None,
) -> list[Row]:
    """Drain ``df`` into a uuid-named memory sink and collect its rows.

    ``check(query)`` runs after the drain and before the collect (a
    gate's post-drain state assertions).  The sink's view is dropped
    however the drain, the check or the collect ends, so a failing
    gate leaves no table in the shared session.
    """
    spark = df.sparkSession
    sink = f"{gate}_{uuid.uuid4().hex[:8]}"
    try:
        q = drain(
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode),
            gate,
        )
        if check is not None:
            check(q)
        return spark.table(sink).collect()
    finally:
        spark.catalog.dropTempView(sink)


def restart_drain(
    spark: SparkSession,
    gate: str,
    schema: StructType,
    max_files_per_trigger: int,
    output_mode: str,
    replay: Callable[[str], tuple[list[str], list[str]]],
    build: Callable[[DataFrame], DataFrame],
) -> tuple[DataFrame, set[int], set[int], StreamingQuery, StreamingQuery]:
    """Stop-and-resume a file-source stream from its checkpoint.

    ``replay(dir)`` writes the replay files under ``dir`` and returns
    (phase-1 files, all files), each in replay order.  Phase 1 copies
    the phase-1 files into the source directory and drains
    ``build(stream)`` into ``foreach_batch_idempotent_parquet``; phase
    2 copies in the rest and drains a brand-new query from the same
    checkpoint.  Asserts that phase-2 batch ids strictly EXTEND
    phase-1's (offsets recovered, nothing reprocessed).

    Returns ``(frame, first, second, q1, q2)``: the sink read back
    with the built frame's schema plus the ``epoch`` column (no
    schema-inference job) and local-checkpointed, since the work
    directory is removed before returning; the epoch ids on disk
    after each phase; and the two stopped queries.
    """
    work = tempfile.mkdtemp(prefix=f"{gate}_restart_")
    src, sink, ckpt = (os.path.join(work, d) for d in ("src", "sink", "ckpt"))
    os.makedirs(src)
    try:
        phase1, full = replay(os.path.join(work, "replay"))
        epochs, queries = [], []
        for visible in (phase1, full):
            for f in visible:
                dst = os.path.join(src, os.path.basename(f))
                if not os.path.exists(dst):
                    shutil.copy2(f, dst)  # copy2 keeps the mtime order
            out = build(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", str(max_files_per_trigger))
                .parquet(src)
            )
            queries.append(
                drain(
                    foreach_batch_idempotent_parquet(out, sink, ckpt, output_mode),
                    gate,
                )
            )
            epochs.append(
                {
                    int(d.split("=", 1)[1])
                    for d in os.listdir(sink)
                    if d.startswith("epoch=")
                }
            )
        first, second = epochs
        if not first or min(second - first or {-1}) <= max(first):
            raise AssertionError(
                f"{gate} restart must EXTEND phase-1 batches, got "
                f"phase1={sorted(first)} phase2={sorted(second)}"
            )
        frame = (
            spark.read.schema(
                StructType(out.schema.fields + [StructField("epoch", LongType())])
            )
            .option("basePath", sink)
            .parquet(f"{sink}/epoch=*")
            # off the sink dir before the finally removes it
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return frame, first, second, queries[0], queries[1]


def state_operators(q: StreamingQuery) -> list[list[dict]]:
    """The ``stateOperators`` entries of each of ``q``'s recent
    progress reports, oldest first (an empty list for a report of a
    stateless batch)."""
    return [
        (json.loads(p.json) if hasattr(p, "json") else p).get("stateOperators")
        or []
        for p in q.recentProgress
    ]
