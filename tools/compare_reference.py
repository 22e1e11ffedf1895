#!/usr/bin/env python
"""Head-to-head vs the reference's execution model: the SAME pipeline
shapes run in single-process pandas (the reference is pure pandas —
``bls_ces/prep_CES_pandas.py`` and ``EDA.ipynb`` run one thread, fully
materialized) and on this engine, same machine, same parquet input.

Stages (reference citations):

- **collapse**: the canonical filter → dict-join → per-group collapse →
  monthly weighted-mean pipeline (``prep_CES_pandas.py:69-102``; the
  engine's ``flagship_career_collapse``).
- **rolling**: nb c5 ``add_features`` — pct_change(1/12) + rolling
  mean/std(6/12) per series (the engine's W1-W3 layer over the same
  monthly frame).
- **dedup**: exact-duplicate grouping over the documents table
  (``drop_duplicates`` in the reference idiom vs the engine's
  fingerprint groupBy).

Prints one JSON line per stage: pandas seconds, spark seconds, ratio.
The reference publishes no numbers (BASELINE.md), so this harness IS
the single-node-throughput comparison the north star asks for.  Run:

    python tools/compare_reference.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from mcm_problem_f_data_wrangling_spark.materialize import barrier_scope
from mcm_problem_f_data_wrangling_spark.plans import REGISTRY
from mcm_problem_f_data_wrangling_spark.session import get_spark


def pandas_collapse(sf_dir: str) -> pd.DataFrame:
    """prep_CES_pandas.py:69-102 shape, pandas idiom (eager, one thread)."""
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    part = pd.read_parquet(f"{sf_dir}/part.parquet")[["p_partkey", "p_brand", "p_type"]]
    li = li[li["l_returnflag"].str.match("^[AR]$")]
    m = li.merge(part, left_on="l_partkey", right_on="p_partkey", how="inner")
    m = m[m["p_type"].isin(["PROMO", "ECONOMY", "STANDARD"])]
    m["month"] = m["l_shipdate"].dt.to_period("M").dt.to_timestamp()
    per_brand = (
        m.groupby(["month", "p_brand"])
        .agg(w=("l_quantity", "sum"), p=("l_extendedprice", "mean"))
        .reset_index()
    )
    out = per_brand.groupby("month").apply(
        lambda g: pd.Series(
            {
                "total_qty": g["w"].sum(),
                "avg_price_weighted": (g["p"] * g["w"]).sum() / g["w"].sum(),
            }
        ),
        include_groups=False,
    )
    return out.sort_index()


def pandas_rolling(sf_dir: str) -> pd.DataFrame:
    """The SAME workload as the engine's w02_rolling_mean (monthly
    revenue per returnflag → rolling(6)/rolling(12) means), pandas
    idiom — equal computations on both sides or the ratio is noise."""
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    li["month"] = li["l_shipdate"].dt.to_period("M").dt.to_timestamp()
    monthly = (
        li.groupby(["l_returnflag", "month"])["l_extendedprice"].sum().reset_index()
    )
    feats = []
    for _, g in monthly.groupby("l_returnflag"):
        g = g.sort_values("month").set_index("month")
        s = g["l_extendedprice"]
        g["roll6"] = s.rolling(6).mean()
        g["roll12"] = s.rolling(12).mean()
        feats.append(g)
    return pd.concat(feats)


def pandas_dedup(sf_dir: str) -> pd.DataFrame:
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    return docs.drop_duplicates(subset=["text"])


def replicate(spark, src: str, n: int) -> str:
    """Materialize an n×-replicated copy of the input (replica id
    appended to doc texts so exact-dedup stays non-degenerate) — the
    scale knob that shows the single-core/parallel crossover."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:8]
    dst = f"/tmp/compare_ref_{tag}_x{n}"
    if not os.path.exists(f"{dst}/_done"):
        from pyspark.sql import functions as F

        for t in ("lineitem", "part", "documents"):
            df = spark.read.parquet(f"{src}/{t}.parquet")
            if t == "part":
                df.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
                continue
            rep = df.crossJoin(
                spark.range(n).select(F.col("id").alias("__rep"))
            )
            if t == "documents":
                rep = rep.withColumn(
                    "text", F.concat_ws(" ", "text", F.col("__rep").cast("string"))
                ).withColumn(
                    "doc_id",
                    (F.col("doc_id") * n + F.col("__rep")).cast(
                        df.schema["doc_id"].dataType.simpleString()
                    ),
                )
            rep.drop("__rep").write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        open(f"{dst}/_done", "w").write("ok")
    return dst


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    spark = get_spark("compare-reference")
    spark.sparkContext.setLogLevel("ERROR")
    if mult > 1:
        sf_dir = replicate(spark, sf_dir, mult)

    spark_stage = {
        "collapse": "flagship_career_collapse",
        "rolling": "w02_rolling_mean",
        "dedup": "x_dedup_exact_fingerprint",
    }
    pandas_stage = {
        "collapse": pandas_collapse,
        "rolling": pandas_rolling,
        "dedup": pandas_dedup,
    }
    results = {}
    for name in spark_stage:
        q = REGISTRY[spark_stage[name]]
        # symmetric treatment: both engines get one untimed warm run
        # (Spark: codegen + parquet footers; pandas: page cache) and
        # are timed on the second; barriers are released untimed
        with barrier_scope():
            q.spark(spark, sf_dir).count()
        with barrier_scope():
            t0 = time.perf_counter()
            q.spark(spark, sf_dir).count()
            t_spark = time.perf_counter() - t0
        pandas_stage[name](sf_dir)
        t0 = time.perf_counter()
        pandas_stage[name](sf_dir)
        t_pandas = time.perf_counter() - t0
        results[name] = {
            "pandas_s": round(t_pandas, 3),
            "spark_s": round(t_spark, 3),
            "speedup_vs_reference": round(t_pandas / t_spark, 2),
        }
        print(json.dumps({"stage": name, **results[name]}))
    overall = sum(r["pandas_s"] for r in results.values()) / max(
        sum(r["spark_s"] for r in results.values()), 1e-9
    )
    print(json.dumps({"stage": "overall", "speedup_vs_reference": round(overall, 2), "sf_dir": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
