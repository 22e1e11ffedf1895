"""The package's one lineage cut: :func:`materialize` and the
:func:`barrier_scope` that releases what it made.

Every intermediate result that several plan branches or loop rounds
read goes through here, so this module alone decides two things
about a barrier:

- **medium**: with no ``path``, ``localCheckpoint(eager=True)`` — an
  eager job into executor-local blocks whose plan is a bare
  ``LogicalRDD``, no file I/O; an executor loss makes the truncated
  lineage unrecomputable (the single-node profile).  With a ``path``,
  a parquet write plus a read of that caller-owned path — durable
  rounds (on a cluster, a distributed-FS path).
- **lifetime**: :func:`barrier_scope` unpersists, at RDD level and
  blocking, every local barrier made inside it when it exits.  On
  Spark 4.1 ``DataFrame.unpersist()`` of a local checkpoint leaves its
  RDD in ``getPersistentRDDs()``; only ``RDD.unpersist`` frees the
  blocks.  An action on such a frame after its scope closed fails
  with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, so a scope encloses the
  build AND the actions of what is built inside it (the runners wrap
  each query in one).  With no scope open a barrier lives until
  Spark's ContextCleaner collects it, and no py4j call is spent on
  bookkeeping.  Parquet barriers are not released: the path is the
  caller's.

Scopes nest; each releases only the barriers made while it was the
innermost one.  The stack is process-wide, not per thread, so a
barrier made on a py4j callback thread (a streaming ``foreachBatch``)
joins the scope the driver thread holds open around the query.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

# open scopes, innermost last; each holds its barriers' JVM RDDs
_SCOPES: list[list] = []


def materialize(df: DataFrame, path: str | None = None) -> DataFrame:
    """Run ``df`` once and return a frame that reads the result instead
    of its lineage (module docstring: medium and lifetime)."""
    if path is not None:
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    out = df.localCheckpoint(eager=True)
    if _SCOPES:
        _SCOPES[-1].append(out._jdf.queryExecution().logical().rdd())
    return out


@contextmanager
def barrier_scope() -> Iterator[None]:
    """Release, on exit, every local barrier :func:`materialize` made
    inside this scope and not inside a nested one."""
    held: list = []
    _SCOPES.append(held)
    try:
        yield
    finally:
        _SCOPES.pop()
        for rdd in held:
            rdd.unpersist(True)
