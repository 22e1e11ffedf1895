"""Query registry assembling the full driver-facing suite.

The external correctness gate verifies queries in registry order on a
bounded budget, so the order is computed to rotate its window: the
flagship first, then the oracle-backed queries least recently
hash-verified (by the last committed ``CORRECTNESS_r<N>.json`` round
whose row for the query has ``hash_match: true``; never verified
first), then the rows-only queries, which have no hash to verify.
Ties keep suite order.  Without artifacts next to the package (e.g.
a worker importing the shipped zip) the order is suite order with the
flagship first.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time

# importing a suite registers its queries: this import order is the suite order
from . import suite_core, suite_ext, suite_more, suite_tpch, suite_nlp, suite_sources  # noqa: F401
from ..materialize import barrier_scope
from .base import QUERIES, Query

FLAGSHIP = "flagship_career_collapse"

_ARTIFACTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "CORRECTNESS_r*.json",
)


def last_verified_rounds() -> dict[str, int]:
    """Query name -> last round number whose artifact row hash-matched."""
    last: dict[str, int] = {}
    for path in glob.glob(_ARTIFACTS):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:  # e.g. a suffixed variant run
            continue
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if row.get("hash_match") is True:
                    last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def _order(queries: list[Query], last: dict[str, int]) -> list[Query]:
    def key(q: Query) -> tuple[int, int]:
        if q.name == FLAGSHIP:
            return (0, 0)
        if q.sql is None:
            return (2, 0)
        return (1, last.get(q.name, 0))

    return sorted(queries, key=key)


REGISTRY: dict[str, Query] = {q.name: q for q in _order(QUERIES, last_verified_rounds())}


def headline_queries() -> list[Query]:
    """The bench.py subset — one per major operator family."""
    return [q for q in QUERIES if q.headline]


def run_noop(spark, q: Query, sf_dir: str) -> float:
    """Wall seconds of one full run of ``q`` through the noop sink.

    Noop, not ``count()``: ``count()`` lets Catalyst prune every
    unaggregated output column, so projection-shaped queries
    (signatures, quality scores) would be timed WITHOUT their actual
    compute.  The noop v2 sink executes the full plan, all columns,
    and discards rows executor-side.  The query's barriers are
    released after the timer stops.
    """
    with barrier_scope():
        t0 = time.perf_counter()
        q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
