"""Z-order (Morton) interleaving for multi-dimensional data layout.

Range-clustering a table on ONE column gives tight parquet zone maps
on that column and useless ones on every other.  Interleaving the bits
of k columns into a single Morton key and range-clustering on THAT
gives every file a small k-dimensional rectangle, so min/max footer
pruning works for predicates on ANY of the k columns — the Delta
OPTIMIZE ZORDER BY / Iceberg sort-order primitive.  The package
computes the key (``x_zorder_locality`` buckets on it); it writes
no z-ordered tables.

The interleave is pure JVM bit arithmetic (shiftleft/and/or — stays
inside whole-stage codegen; no UDF), deterministic, and mirrored
bit-for-bit by the same arithmetic in the DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_value(cols: list[Column], bits: int = 16) -> Column:
    """Morton-interleave ``cols`` (each masked to ``bits`` low bits).

    Bit ``i`` of column ``j`` lands at position ``i * k + j``; with
    the default 16 bits and 2 columns the key fits in 32 bits.
    ``bits * len(cols)`` must stay <= 63 (BIGINT, sign bit unused).
    """
    k = len(cols)
    if bits * k > 63:
        raise ValueError(f"{bits} bits x {k} cols exceeds a signed 64-bit key")
    masked = [c.cast("long").bitwiseAND(F.lit((1 << bits) - 1)) for c in cols]
    terms = [
        F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * k + j)
        for j, c in enumerate(masked)
        for i in range(bits)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zorder_value_sql(cols: list[str], bits: int = 16) -> str:
    """The identical interleave as engine-portable SQL (oracle mirror)."""
    k = len(cols)
    mask = (1 << bits) - 1
    terms = [
        f"((({c} & {mask}) >> {i}) & 1) << {i * k + j}"
        for j, c in enumerate(cols)
        for i in range(bits)
    ]
    return "(" + " | ".join(f"({t})" for t in terms) + ")"
