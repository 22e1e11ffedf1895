#!/usr/bin/env python
"""Time individual registry queries through the noop sink (guide §1.4).

Same methodology as bench.py (2 untimed warmup passes, then median of
N timed runs per query, job-description labels for UI readability) but
for an arbitrary subset — the isolate-and-A/B tool used while
optimizing, not the driver-facing bench.

Usage: python tools/time_queries.py [sf_dir] QUERY [QUERY...]
       SPARK_GRAFT_BENCH_RUNS=5 python tools/time_queries.py /root/testdata/sf0.1 x_sim_knn_join
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mcm_problem_f_data_wrangling_spark.plans import REGISTRY, run_noop
from mcm_problem_f_data_wrangling_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark("time_queries")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        for _ in range(2):
            run_noop(spark, q, sf_dir)
        spark.sparkContext.setJobDescription(f"timed: {name}")
        runs = sorted(run_noop(spark, q, sf_dir) for _ in range(n_runs))
        med = statistics.median(runs)
        print(
            f"{name}: median={med:.3f}s runs={[round(r, 3) for r in runs]}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
