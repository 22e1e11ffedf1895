"""Local mirror of the driver's t2 correctness gate.

Runs every REGISTRY query on Spark at the given sf dir AND its DuckDB
oracle on the same parquet, then compares row count, column names, and
(order-insensitively) values.  Usage::

    python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from mcm_problem_f_data_wrangling_spark.materialize import barrier_scope
from mcm_problem_f_data_wrangling_spark.plans import REGISTRY
from mcm_problem_f_data_wrangling_spark.schemas import TESTDATA_TABLES
from mcm_problem_f_data_wrangling_spark.session import get_spark


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canon(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, then rows — the driver's order-insensitive view."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return ("nan",)
            return round(v, 9)
        return v

    projected = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(projected, key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(REGISTRY)
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # the driver's actual surface: a bone-stock SparkSession —
        # ANSI on (4.x default), 200 shuffle partitions, none of the
        # engine's session tuning
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[32]").appName(
            "parity-vanilla"
        ).getOrCreate()
    else:
        spark = get_spark("parity-check")
    con = duck_con(sf_dir)
    failures = []
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        try:
            with barrier_scope():
                sdf = q.spark(spark, sf_dir)
                s_cols = [c.lower() for c in sdf.columns]
                s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if q.sql is None:
            print(f"ok    {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            if not s_rows:
                failures.append(name)
                print(f"FAIL  {name}: rows-only query returned 0 rows")
            continue
        try:
            res = con.execute(q.sql)
            d_cols = [d[0].lower() for d in res.description]
            d_rows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        elif len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        else:
            cs, cd = canon(s_rows, s_cols), canon(d_rows, d_cols)
            if cs != cd:
                diffs = [(a, b) for a, b in zip(cs, cd) if a != b]
                problems.append(f"{len(diffs)} differing rows; first: {diffs[0] if diffs else '?'}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name}: {len(s_rows)} rows match ({time.time()-t0:.1f}s)")
    n_rows_only = sum(1 for n in names if REGISTRY[n].sql is None)
    n_oracle = len(names) - n_rows_only
    print(
        f"\n{len(names) - len(failures)}/{len(names)} queries pass "
        f"({n_oracle} oracle-matched, {n_rows_only} rows-only by design)"
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
