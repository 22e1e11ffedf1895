"""Output check: Spark results against DuckDB oracle results.

Results are compared the way ``tools/check_parity.py`` compares them:
lower-cased column names as a set, row count, and the
order-insensitive canonical row list (``check_parity.canon``).  The
oracle side is computed by ``oracle_rows`` once per run, before the
measured passes; it takes about 0.1 s on the benchmark's inputs.

``x4_diagnostics`` has no SQL oracle (its ADF regression is not
SQL-expressible); ``oracle_rows`` stores the facts its property check
needs instead: the set of series and each series' month count.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_parity import canon, duck_con  # noqa: E402

X4_FACTS_SQL = """
SELECT l_returnflag, COUNT(DISTINCT date_trunc('month', l_shipdate))
FROM lineitem GROUP BY 1
"""


def oracle_rows(sf_dir: str, queries: list) -> dict[str, tuple]:
    """query name -> (sorted column names, canonical rows) from DuckDB."""
    con = duck_con(sf_dir)
    out = {}
    for q in queries:
        if q.name == "x4_diagnostics":
            out[q.name] = ("facts", dict(con.execute(X4_FACTS_SQL).fetchall()))
            continue
        res = con.execute(q.sql)
        cols = [d[0].lower() for d in res.description]
        out[q.name] = (sorted(cols), canon(res.fetchall(), cols))
    return out


def _x4_problems(rows: list, facts: dict) -> list[str]:
    """Property check: one row per series, the right observation count,
    p-values in [0, 1], finite statistics, a seasonal period >= 2."""
    problems = []
    got = {r["group"]: r for r in rows}
    if set(got) != set(facts):
        problems.append(f"groups {sorted(got)} != {sorted(facts)}")
    for g, r in got.items():
        if r["n_obs"] != facts.get(g):
            problems.append(f"{g}: n_obs {r['n_obs']} != {facts.get(g)}")
        for k in ("adf_pvalue", "kpss_pvalue"):
            if not 0.0 <= r[k] <= 1.0:
                problems.append(f"{g}: {k}={r[k]} outside [0, 1]")
        for k in ("adf_stat", "kpss_stat", "yj_lambda", "acf1"):
            if not math.isfinite(r[k]):
                problems.append(f"{g}: {k}={r[k]} not finite")
        if r["seasonal_period"] is not None and r["seasonal_period"] < 2:
            problems.append(f"{g}: seasonal_period={r['seasonal_period']}")
    return problems


def problems(df, expected: tuple) -> list[str]:
    """Empty when ``df`` (a Spark DataFrame) matches ``expected``."""
    cols = [c.lower() for c in df.columns]
    rows = df.collect()
    if expected[0] == "facts":
        return _x4_problems([r.asDict() for r in rows], expected[1])
    want_cols, want_rows = expected
    if sorted(cols) != want_cols:
        return [f"columns {sorted(cols)} != {want_cols}"]
    if len(rows) != len(want_rows):
        return [f"{len(rows)} rows != {len(want_rows)}"]
    got = canon([tuple(r) for r in rows], cols)
    bad = sum(a != b for a, b in zip(got, want_rows))
    return [f"{bad} differing rows"] if bad else []
