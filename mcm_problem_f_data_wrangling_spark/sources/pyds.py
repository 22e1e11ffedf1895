"""Python Data Source API connectors (Spark 4 `pyspark.sql.datasource`).

The reference's source surface is files + HTTP (SURVEY.md §2.1 S1-S4);
this module extends it with the engine's own *programmable* connector
surface — the public Python Data Source API — so users can plug
non-file feeds (an internal event service, a synthetic load
generator) into `spark.readStream.format(...)` exactly like a file
source.

Shipped source: ``synthetic_events`` — a bounded, deterministic event
stream (``s42_streaming_python_source`` drains it).  Every row is a
pure function of its event id, so a replay after restart regenerates
identical data — the property a production source must guarantee for
exactly-once semantics downstream — and the DuckDB oracle reproduces
the streamed rows with ``generate_series``.

Usage::

    from mcm_problem_f_data_wrangling_spark.sources.pyds import register_synthetic_events
    register_synthetic_events(spark)
    df = (spark.readStream.format("synthetic_events")
          .option("n_events", 10_000).option("rows_per_batch", 2_500).load())
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import LongType, StructField, StructType

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("user_id", LongType(), False),
        StructField("cents", LongType(), False),
    ]
)

# Knuth multiplicative constant: cents = (event_id * K) mod 10000 is
# pure 64-bit integer arithmetic, so the DuckDB oracle reproduces the
# STREAMED rows exactly with generate_series — no RNG, no numpy
_KNUTH = 2654435761


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Deterministic bounded event stream for the streaming engine.

    Offset = ``{"i": next_event_id}``; each ``read`` emits the next
    ``rows_per_batch`` events of ``(event_id, event_id % n_users,
    (event_id * KNUTH) % 10000)`` until ``n_events``, then returns
    empty batches at a fixed offset.  Rows are a pure function of
    event_id, so ``readBetweenOffsets`` (replay after restart — the
    exactly-once path) regenerates byte-identical data, and any
    batch-boundary placement yields the same order-insensitive
    aggregates downstream.
    """

    def __init__(self, options):
        self.n_events = int(options.get("n_events", 10_000))
        self.n_users = int(options.get("n_users", 97))
        self.rows_per_batch = int(options.get("rows_per_batch", 2_500))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def _rows(self, lo: int, hi: int):
        return [
            (i, i % self.n_users, (i * _KNUTH) % 10_000)
            for i in range(lo, hi)
        ]

    def read(self, start: dict):
        lo = int(start["i"])
        hi = min(lo + self.rows_per_batch, self.n_events)
        return iter(self._rows(lo, hi)), {"i": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(int(start["i"]), int(end["i"])))


class SyntheticEventsDataSource(DataSource):
    """``spark.readStream.format("synthetic_events")`` — a bounded,
    deterministic, pure-integer event stream (see
    ``SyntheticEventsStreamReader``).  The batch side reads the same
    rows through ``partitions()`` so stream and batch twins share one
    definition."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self):
        return EVENTS_SCHEMA

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return SyntheticEventsStreamReader(self.options)

    def reader(self, schema) -> DataSourceReader:
        return SyntheticEventsBatchReader(self.options)


class _EventsPartition(InputPartition):
    def __init__(self, start: int, end: int, n_users: int):
        self.start = start
        self.end = end
        self.n_users = n_users


class SyntheticEventsBatchReader(DataSourceReader):
    """Batch twin: same rows, partition-parallel."""

    def __init__(self, options):
        self.n_events = int(options.get("n_events", 10_000))
        self.n_users = int(options.get("n_users", 97))
        self.n_partitions = int(options.get("n_partitions", 8))

    def partitions(self):
        step = max(1, -(-self.n_events // self.n_partitions))
        return [
            _EventsPartition(lo, min(lo + step, self.n_events), self.n_users)
            for lo in range(0, self.n_events, step)
        ]

    def read(self, partition: _EventsPartition):
        for i in range(partition.start, partition.end):
            yield (i, i % partition.n_users, (i * _KNUTH) % 10_000)


def register_synthetic_events(spark) -> None:
    """Idempotently register the connector on a session.

    The DataSource class is cloudpickled *by reference* into the scan's
    Python workers, so the package must be importable there — same
    deploy contract as the applyInPandas stages (``session.ship_package``).
    """
    from ..session import ship_package

    ship_package(spark)
    spark.dataSource.register(SyntheticEventsDataSource)
