#!/usr/bin/env python
"""Dump the headline queries' formatted physical plans to PLANS.md.

The shuffle-count snapshot (tools/plan_shuffles.json) regression-gates
plan SHAPE; this artifact makes the actual plans reviewable without a
Spark session — scan pushdown, broadcast choices, codegen spans, and
exchange placement for every bench headliner.  Regenerate after plan
changes: ``python tools/dump_plans.py [sf_dir]``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mcm_problem_f_data_wrangling_spark.materialize import barrier_scope
from mcm_problem_f_data_wrangling_spark.plans import headline_queries
from mcm_problem_f_data_wrangling_spark.session import get_spark

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")


def formatted_plan(df) -> str:
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # strip volatile ids so regenerated dumps diff cleanly
    plan = re.sub(r"#\d+L?", "#_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    plan = re.sub(r"\[file:[^\]]*\]", "[file:...]", plan)
    plan = re.sub(r"Location: \S+", "Location: ...", plan)
    return plan


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    parts = [
        "# PLANS — headline-query physical plans\n",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}` (volatile ids\n"
        "stripped).  Read for: `PushedFilters`/`ReadSchema` on scans,\n"
        "`BroadcastHashJoin` on dimension joins, partial+final\n"
        "`HashAggregate` pairs, `WholeStageCodegen` spans, and where the\n"
        "`Exchange`s sit.\n",
    ]
    for q in headline_queries():
        with barrier_scope():
            plan = formatted_plan(q.spark(spark, sf_dir))
        parts.append(f"\n## {q.name}\n\n```\n{plan}\n```\n")
    with open(OUT, "w") as f:
        f.write("\n".join(parts))
    print(f"wrote {OUT} ({len(headline_queries())} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
