#!/usr/bin/env python
"""Scale smoke: run the headline operator shapes at 10-20× the sf0.1
row count on synthesized data, so scale-up behavior is measured, not
asserted.

Generates a lineitem-shaped fact (default 10M rows ≈ 17× sf0.1) and an
events-shaped stream (2M rows), entirely with JVM-side expressions
(``spark.range`` + column math — no Python row generation), writes
them to parquet under /tmp, then times:

- the flagship one-scan conditional aggregation;
- the broadcast fact⨝dim join + aggregate (J3 shape);
- plain vs salted group-sum over a 90%-hot key (skew path);
- batch sessionization over 2M events / 100k users;
- MinHash signatures over 200k synthetic docs.

Prints one JSON line per stage plus a summary.  Usage:

    python tools/scale_smoke.py [n_lineitem] [n_events]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from mcm_problem_f_data_wrangling_spark.operators.asof import asof_join  # noqa: E402
from mcm_problem_f_data_wrangling_spark.operators.dedup import (  # noqa: E402
    minhash_signatures,
)
from mcm_problem_f_data_wrangling_spark.operators.quality import (  # noqa: E402
    repetition_signals,
)
from mcm_problem_f_data_wrangling_spark.operators.range_join import (  # noqa: E402
    windowed_range_join,
)
from mcm_problem_f_data_wrangling_spark.operators.skew import (  # noqa: E402
    salted_group_agg,
)
from mcm_problem_f_data_wrangling_spark.session import get_spark  # noqa: E402
from mcm_problem_f_data_wrangling_spark.streaming.sessionize import (  # noqa: E402
    sessionize_batch,
)

MIX = 2654435761  # Knuth multiplicative hash constant


def synth(spark, n_li: int, n_ev: int, base: str) -> None:
    h = (F.col("id") * MIX) % 1_000_003
    li = spark.range(n_li).select(
        (F.col("id") / 4).cast("long").alias("l_orderkey"),
        (F.col("id") % 7 + 1).cast("int").alias("l_linenumber"),
        ((h % 5000) / 100.0 + 1.0).alias("l_quantity"),
        ((h % 90000) / 1.0 + 900.0).alias("l_extendedprice"),
        F.element_at(
            F.array(F.lit("R"), F.lit("A"), F.lit("N")), (F.col("id") % 3 + 1).cast("int")
        ).alias("l_returnflag"),
        # 90%-hot part key exercises the skew path
        F.when(h % 10 < 9, F.lit(7)).otherwise(h % 30_000).cast("long").alias("l_partkey"),
        F.date_add(F.lit("1992-01-01").cast("date"), (h % 2500).cast("int")).alias(
            "l_shipdate"
        ),
    )
    li.write.mode("overwrite").parquet(f"{base}/lineitem")
    part = spark.range(30_000).select(
        F.col("id").alias("p_partkey"),
        F.concat(F.lit("Brand#"), (F.col("id") % 25).cast("string")).alias("p_brand"),
        F.element_at(
            F.array(F.lit("PROMO X"), F.lit("ECONOMY Y"), F.lit("STANDARD Z")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("p_type"),
    )
    part.write.mode("overwrite").parquet(f"{base}/part")
    ev = spark.range(n_ev).select(
        F.col("id").alias("event_id"),
        ((F.col("id") * MIX) % 100_000).alias("user_id"),
        # ts must NOT be a linear function of id: user_id already is,
        # and any linear pair keeps same-user time deltas on a >=4000s
        # lattice (gcd(100000-user modulus, 30d in seconds) = 4000) —
        # the 1h range-join smoke would structurally find ZERO pairs.
        F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(F.xxhash64("id"), F.lit(30 * 86400))
        ).alias("ts"),
        ((F.col("id") % 97) / 7.0).alias("value"),
    )
    ev.write.mode("overwrite").parquet(f"{base}/events")
    docs = spark.range(200_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{i}_"), ((F.col("id") * (MIX + i)) % 5000).cast("string"))
                for i in range(30)
            ],
        ).alias("text"),
    )
    docs.write.mode("overwrite").parquet(f"{base}/documents")


def timed(label, fn):
    t0 = time.time()
    n = fn()
    dt = round(time.time() - t0, 2)
    print(json.dumps({"stage": label, "seconds": dt, "rows_out": n}))
    return dt


def main() -> None:
    n_li = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_ev = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    spark = get_spark("scale_smoke")
    base = tempfile.mkdtemp(prefix="scale_smoke_")
    try:
        t0 = time.time()
        synth(spark, n_li, n_ev, base)
        print(json.dumps({"stage": "synthesize+write", "seconds": round(time.time() - t0, 2)}))

        li = spark.read.parquet(f"{base}/lineitem")
        part = spark.read.parquet(f"{base}/part")
        ev = spark.read.parquet(f"{base}/events")
        docs = spark.read.parquet(f"{base}/documents")

        def flagship():
            per_brand = (
                li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
                .filter(F.col("p_type").startswith("PROMO"))
                .groupBy(F.trunc("l_shipdate", "month").alias("month"), "p_brand")
                .agg(
                    F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("w_dec"),
                    F.avg("l_extendedprice").alias("p"),
                )
            )
            w = F.col("w_dec").cast("double")
            return (
                per_brand.groupBy("month")
                .agg(
                    F.sum("w_dec").cast("double").alias("total_qty"),
                    (F.sum(F.col("p") * w) / F.sum(w)).alias("wavg"),
                )
                .count()
            )

        def j3():
            return (
                li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left")
                .groupBy("p_type")
                .agg(F.count("*"), F.sum("l_extendedprice"))
                .count()
            )

        def plain_agg():
            return li.groupBy("l_partkey").agg(F.sum("l_quantity")).count()

        def salted_agg():
            return salted_group_agg(
                li, ["l_partkey"], {"q": F.sum(F.col("l_quantity").cast("decimal(18,6)"))}
            ).count()

        def sessions():
            return sessionize_batch(ev, "user_id", "ts", "value", 1800).count()

        def minhash():
            return minhash_signatures(docs).count()

        # side split must be independent of user_id: the user modulus
        # (100000) is EVEN, so id-parity splits put every user entirely
        # on one side (user classes mod an even number preserve parity)
        # and both time joins would structurally find zero matches.
        side = F.pmod(F.xxhash64("event_id", F.lit(1)), F.lit(2))

        def asof():
            clicks = ev.filter(side == 1).select("event_id", "user_id", "ts")
            views = ev.filter(side == 0).select("user_id", "ts", "value")
            return asof_join(clicks, views, on=["user_id"], attach=("value",)).count()

        def range_join():
            errors = ev.filter(side == 1).select("event_id", "user_id", "ts")
            purch = ev.filter(side == 0).select(
                "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
            )
            return windowed_range_join(
                errors, purch, ["user_id"], "ts", "p_ts", 3600.0
            ).count()

        def repetition():
            return repetition_signals(docs).count()

        timed("flagship_conditional_agg", flagship)
        timed("j3_broadcast_join_agg", j3)
        t_plain = timed("group_sum_hot_key_plain", plain_agg)
        t_salted = timed("group_sum_hot_key_salted", salted_agg)
        timed("sessionize_batch_2m_events", sessions)
        def connected_comp():
            from mcm_problem_f_data_wrangling_spark.operators.graph import (
                connected_components,
            )

            n = 2_000_000
            ids = spark.range(n)
            # chain edges with geometric break points (~75% density -> avg
            # component ~4, with a heavy tail), plus sparse random
            # long-range edges so pointer jumping has real work
            chain = ids.filter(F.pmod(F.xxhash64("id"), F.lit(4)) != 0).select(
                F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
            )
            longr = ids.filter(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(50)) == 0).select(
                F.col("id").alias("src"),
                F.pmod(F.xxhash64("id", F.lit(9)), F.lit(n)).alias("dst"),
            )
            return connected_components(chain.unionByName(longr)).count()

        def knn_join_100k():
            from mcm_problem_f_data_wrangling_spark.operators.similarity import (
                ivf_knn_join,
            )

            vecs = spark.range(100_000).select(
                F.col("id").alias("vec_id"),
                F.array(
                    *[
                        (F.pmod(F.xxhash64("id", F.lit(i)), F.lit(1000)) / 500.0 - 1.0)
                        for i in range(16)
                    ]
                ).alias("embedding"),
                F.pmod(F.xxhash64("id", F.lit(99)), F.lit(1024)).cast("int").alias("label"),
            )
            return ivf_knn_join(vecs, vecs, k=5).count()

        def funnel_2m():
            from mcm_problem_f_data_wrangling_spark.operators.funnel import (
                funnel_conversion,
            )

            typed = ev.withColumn(
                "event_type",
                F.element_at(
                    F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                    (F.pmod(F.xxhash64("event_id", F.lit(3)), F.lit(3)) + 1).cast("int"),
                ),
            )
            return funnel_conversion(
                typed,
                [
                    ("view", F.col("event_type") == "view"),
                    ("click", F.col("event_type") == "click"),
                    ("purchase", F.col("event_type") == "purchase"),
                ],
                within_seconds=86400,
            ).count()

        def retention_2m():
            from mcm_problem_f_data_wrangling_spark.operators.retention import (
                retention_cohorts,
            )

            return retention_cohorts(ev).count()

        def cascade_2m():
            from mcm_problem_f_data_wrangling_spark.operators.rollup_cascade import (
                rollup_cascade,
            )

            typed = ev.withColumn("event_type", (F.pmod(F.xxhash64("event_id"), F.lit(5))).cast("string"))
            return rollup_cascade(typed, grains=("minute", "hour", "day")).count()

        def chunking_200k():
            from mcm_problem_f_data_wrangling_spark.operators.chunking import (
                chunk_documents,
            )

            return chunk_documents(docs, chunk_tokens=16, stride=12).count()

        def invindex_200k():
            from mcm_problem_f_data_wrangling_spark.functions.textfn import tokens
            from mcm_problem_f_data_wrangling_spark.operators.index import (
                inverted_index,
            )

            return inverted_index(docs, tokens("text"), "doc_id", min_df=2).count()

        def interpolate_100k_series():
            from mcm_problem_f_data_wrangling_spark.operators.grid import (
                interpolate_linear,
            )

            n_series, months = 100_000, 36
            s = spark.range(n_series * months).select(
                F.pmod(F.col("id"), F.lit(n_series)).alias("k"),
                (F.col("id") / n_series).cast("long").alias("mi"),
                F.when(
                    F.pmod(F.xxhash64("id", F.lit(5)), F.lit(4)) != 0,
                    F.pmod(F.xxhash64("id", F.lit(6)), F.lit(1000)) / 10.0,
                ).alias("y"),
            )
            return interpolate_linear(s, ["k"], "mi", "y").count()

        def semdedup_100k():
            from mcm_problem_f_data_wrangling_spark.operators.similarity import (
                semantic_dedup,
            )

            vecs = spark.range(100_000).select(
                F.col("id").alias("vec_id"),
                F.array(
                    *[
                        (F.pmod(F.xxhash64("id", F.lit(i)), F.lit(1000)) / 500.0 - 1.0)
                        for i in range(16)
                    ]
                ).alias("embedding"),
            )
            cents = [
                [((i * 31 + j * 17) % 97) / 48.5 - 1.0 for j in range(16)]
                for i in range(256)
            ]
            return semantic_dedup(vecs, cents, threshold=0.99).count()

        def jaccard_prefix_200k():
            # round-2 scale path: exact AllPairs prefix-filter Jaccard
            # replaced length-bucket banding — this measures its
            # candidate fan-out on a 200k-doc corpus
            from mcm_problem_f_data_wrangling_spark.operators.dedup import (
                ngram_jaccard_pairs,
            )

            return ngram_jaccard_pairs(docs, threshold=0.5).count()

        def srp_neardup_100k():
            # round-2 scale path: SRP-LSH banding (2^10 = 1024 bands
            # for 100k vectors) replaced fixed-cardinality banding
            from mcm_problem_f_data_wrangling_spark.operators.dedup import (
                embedding_neardup_pairs,
                srp_hyperplanes,
            )

            vecs = spark.range(100_000).select(
                F.col("id").alias("vec_id"),
                F.array(
                    *[
                        (F.pmod(F.xxhash64("id", F.lit(i)), F.lit(1000)) / 500.0 - 1.0)
                        for i in range(16)
                    ]
                ).alias("embedding"),
            )
            hp = srp_hyperplanes(16, n_bits=10, seed=7)
            return embedding_neardup_pairs(vecs, hp).count()

        def dup_spans_220k():
            # round-2 op: maximal duplicated spans.  Every 10th doc
            # gets a copy with a divergent tail, so 20k doc pairs share
            # a 30-token prefix -> real dup-gram runs to merge.
            from mcm_problem_f_data_wrangling_spark.operators.dedup import dup_spans

            copies = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" tail_a tail_b tail_c")).alias("text"),
            )
            return dup_spans(docs.unionByName(copies), k=8, min_run=3).count()

        def canonical_pick_220k():
            # round-2 op: bag-of-words grouping + keep-longest window
            from pyspark.sql import Window

            from mcm_problem_f_data_wrangling_spark.functions.textfn import (
                portable_hash64,
                tokens,
            )

            copies = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" "), F.col("text")).alias("text"),
            )
            alld = docs.unionByName(copies).withColumn("n_chars", F.length("text"))
            fp = alld.select(
                "doc_id",
                "n_chars",
                portable_hash64(
                    F.concat_ws(" ", F.sort_array(F.array_distinct(tokens("text"))))
                ).alias("fingerprint"),
            )
            wf = Window.partitionBy("fingerprint")
            return (
                fp.select(
                    "*",
                    F.row_number()
                    .over(wf.orderBy(F.desc("n_chars"), "doc_id"))
                    .alias("rk"),
                )
                .filter(F.col("rk") == 1)
                .count()
            )

        def boilerplate_200k():
            # round-2 op: corpus-level boilerplate removal.  Every 5th
            # doc carries a shared 6-token header (two aligned 3-token
            # segments with corpus-wide df = 40k >> max_df), so the
            # boilerplate set is non-empty but tiny — the op's design
            # point (heavy-tail lines, broadcast-able set).
            from mcm_problem_f_data_wrangling_spark.operators.quality import (
                boilerplate_removal,
            )

            hdr = docs.withColumn(
                "text",
                F.when(
                    F.pmod(F.col("doc_id"), F.lit(5)) == 0,
                    F.concat(F.lit("terms of service apply to all "), F.col("text")),
                ).otherwise(F.col("text")),
            )
            return boilerplate_removal(hdr, seg_tokens=3, max_df=10_000).count()

        def hamming_neardup_220k():
            # round-2 op: 64-bit fingerprint Hamming near-dup at
            # Manku's production setting (4 bands x 16 bits, d <= 3).
            # Every 10th doc gets a copy with 2 flipped bits -> 20k
            # planted pairs; bucket width stays O(n / 2^16) per band.
            from mcm_problem_f_data_wrangling_spark.functions.textfn import (
                portable_hash64,
            )
            from mcm_problem_f_data_wrangling_spark.operators.dedup import (
                hamming_neardup_pairs,
            )

            fp = docs.select("doc_id", portable_hash64(F.col("text")).alias("h"))
            flipped = fp.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.col("h").bitwiseXOR(F.lit(5)).alias("h"),
            )
            return hamming_neardup_pairs(
                fp.unionByName(flipped), "h", "doc_id", bits=64, max_hamming=3
            ).count()

        def _pareto(two_pass: bool):
            # a12 shape at 2.5M groups (l_orderkey as the "part" key —
            # l_partkey is deliberately 90%-hot for the skew stages):
            # cumulative-revenue ABC classification.  two_pass=False is
            # the round-3 plan (ONE unpartitioned window = single-task
            # sort over all groups); two_pass=True is the round-4
            # range-partitioned prefix sum.
            from pyspark.sql import Window

            pp = li.groupBy("l_orderkey").agg(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias("rev")
            )
            total = float(
                pp.agg(F.sum("rev").cast("double")).collect()[0][0]
            )
            if two_pass:
                # the PRODUCTION operator, not an inline re-derivation —
                # so this A/B stays pinned to what a12 actually ships
                from mcm_problem_f_data_wrangling_spark.operators.prefix import (
                    global_running_sum,
                )

                ranked = global_running_sum(
                    pp, [F.desc("rev"), F.col("l_orderkey")], "rev", out="cum"
                ).withColumn("cum_share", F.col("cum") / F.lit(total))
            else:
                w = Window.orderBy(F.desc("rev"), "l_orderkey").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
                ranked = pp.withColumn("cum_share", F.sum("rev").over(w) / F.lit(total))
            cls = (
                F.when(F.col("cum_share") <= 0.7, "A")
                .when(F.col("cum_share") <= 0.9, "B")
                .otherwise("C")
            )
            return ranked.groupBy(cls.alias("c")).count().count()

        timed("pareto_prefix_2m5_groups_single_window", lambda: _pareto(False))
        timed("pareto_prefix_2m5_groups_two_pass", lambda: _pareto(True))
        timed("minhash_200k_docs", minhash)
        timed("boilerplate_removal_200k_docs", boilerplate_200k)
        timed("hamming_neardup_220k_docs_64bit", hamming_neardup_220k)
        timed("dup_span_detection_220k_docs", dup_spans_220k)
        timed("canonical_pick_220k_docs", canonical_pick_220k)
        timed("jaccard_prefix_200k_docs", jaccard_prefix_200k)
        timed("srp_neardup_100k_vectors_1024bands", srp_neardup_100k)
        timed("asof_join_1m_x_1m", asof)
        timed("range_join_1h_window_1m_x_1m", range_join)
        timed("repetition_signals_200k_docs", repetition)
        timed("connected_components_2m_nodes", connected_comp)
        timed("ivf_knn_join_100k_x_1024cells", knn_join_100k)
        timed("chunking_200k_docs", chunking_200k)
        timed("inverted_index_200k_docs", invindex_200k)
        timed("interpolate_100k_series", interpolate_100k_series)
        timed("semdedup_100k_vectors_256cells", semdedup_100k)
        timed("event_funnel_2m", funnel_2m)
        timed("retention_cohorts_2m", retention_2m)
        timed("rollup_cascade_2m", cascade_2m)
        print(
            json.dumps(
                {
                    "stage": "summary",
                    "n_lineitem": n_li,
                    "n_events": n_ev,
                    "salted_vs_plain_hot_key": round(t_salted / max(t_plain, 1e-9), 2),
                }
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
