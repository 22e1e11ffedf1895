"""Repetition-signal tests: hand-computed fixtures + edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.operators.quality import (
    repetition_signals,
    word_ngrams_strict,
)


def _by_key(rows):
    return {(r["doc_id"], r["n"]): r for r in rows}


def test_repetition_signals_hand_computed(spark):
    df = spark.createDataFrame(
        [
            # bigrams: [a b, b a, a b, b a] -> top 2/4, distinct 2 -> dup 0.5
            # trigrams: [a b a, b a b, a b a] -> top 2/3, distinct 2 -> dup 1/3
            (1, "a b a b a"),
            # all-unique bigrams -> top 1/3, dup 0
            (2, "w x y z"),
            # single repeated token: bigrams [q q, q q] -> top 1.0, dup 0.5
            (3, "q q q"),
        ],
        "doc_id long, text string",
    )
    out = _by_key(repetition_signals(df).collect())
    r = out[(1, 2)]
    assert (r["top_gram_frac"], r["dup_gram_frac"], r["n_grams"]) == (0.5, 0.5, 4)
    r = out[(1, 3)]
    assert r["top_gram_frac"] == round(2 / 3, 6)
    assert r["dup_gram_frac"] == round(1 / 3, 6)
    r = out[(2, 2)]
    assert (r["top_gram_frac"], r["dup_gram_frac"], r["n_grams"]) == (
        round(1 / 3, 6),
        0.0,
        3,
    )
    r = out[(3, 2)]
    assert (r["top_gram_frac"], r["dup_gram_frac"], r["n_grams"]) == (1.0, 0.5, 2)
    # doc 3 has 3 tokens -> exactly one trigram
    assert out[(3, 3)]["n_grams"] == 1


def test_repetition_signals_short_docs_emit_no_row(spark):
    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words")], "doc_id long, text string"
    )
    out = _by_key(repetition_signals(df).collect())
    assert (1, 2) not in out and (1, 3) not in out  # 1 token: nothing
    assert out[(2, 2)]["n_grams"] == 1
    assert (2, 3) not in out  # 2 tokens: no trigram row


def test_word_ngrams_strict_empty_below_n(spark):
    df = spark.createDataFrame([("a b",)], "text string")
    row = df.select(
        word_ngrams_strict(F.split("text", " "), 3).alias("g")
    ).first()
    assert row["g"] == []


def test_redact_pii_fixtures(spark):
    from mcm_problem_f_data_wrangling_spark.functions.textfn import (
        pii_counts,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a.smith+x@sub.example.co.uk now"),
            (2, "call 415-555-0123 or 415.555.0199"),
            (3, "host 192.168.1.254 is up"),
            (4, "clean text, no pii at all"),
            (5, "both bob@x.io and 10.0.0.1"),
        ],
        "id long, text string",
    )
    c = pii_counts(F.col("text"))
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            redact_pii("text").alias("red"),
            c["email"].alias("ne"),
            c["phone"].alias("np"),
            c["ipv4"].alias("ni"),
        ).collect()
    }
    assert got[1]["red"] == "mail <EMAIL> now" and got[1]["ne"] == 1
    assert got[2]["red"] == "call <PHONE> or <PHONE>" and got[2]["np"] == 2
    assert got[3]["red"] == "host <IPV4> is up" and got[3]["ni"] == 1
    assert got[4]["red"] == "clean text, no pii at all"
    assert (got[4]["ne"], got[4]["np"], got[4]["ni"]) == (0, 0, 0)
    assert got[5]["red"] == "both <EMAIL> and <IPV4>"


def test_filter_funnel_single_scan_report(spark):
    from mcm_problem_f_data_wrangling_spark.operators.quality import filter_funnel

    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 30, "a"), (3, 30, "b"), (4, None, "b"), (5, 50, "a")],
        "id bigint, v int, cat string",
    )
    out = filter_funnel(
        df,
        [
            ("cat_a", F.col("cat") == "a"),
            ("v_big", F.col("v") >= 30),  # NULL v on id=4 must count as drop
        ],
    ).collect()
    rows = {r["stage"]: r for r in out}
    assert [r["stage_idx"] for r in sorted(out, key=lambda r: r["stage_idx"])] == [1, 2]
    assert rows["cat_a"]["n_in"] == 5 and rows["cat_a"]["n_kept"] == 3
    assert rows["v_big"]["n_in"] == 3 and rows["v_big"]["n_kept"] == 2
    assert rows["v_big"]["n_dropped"] == 1


def test_filter_funnel_null_predicate_drops(spark):
    from mcm_problem_f_data_wrangling_spark.operators.quality import filter_funnel

    df = spark.createDataFrame([(None,), (1,)], "v int")
    out = filter_funnel(df, [("nonnull_pass", F.col("v") > 0)]).collect()
    assert out[0]["n_kept"] == 1 and out[0]["n_dropped"] == 1


class TestBoilerplateRemoval:
    def _docs(self, spark):
        # "hdr foot" segment-aligned boilerplate in 6 of 7 docs (k=2);
        # doc 6 is PURE boilerplate; doc 7 shares nothing
        rows = [(i, "hdr foot uniq%d tok%d" % (i, i)) for i in range(6)]
        rows.append((6, "hdr foot hdr foot"))
        rows.append((7, "alpha beta gamma"))
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_removes_high_df_segments_and_keeps_order(self, spark):
        from mcm_problem_f_data_wrangling_spark.operators.quality import (
            boilerplate_removal,
        )

        out = {
            r["doc_id"]: r
            for r in boilerplate_removal(
                self._docs(spark), seg_tokens=2, max_df=4
            ).collect()
        }
        # "hdr foot" occurs in 7 docs > 4 → boiler; per-doc tails survive
        assert out[0]["cleaned_text"] == "uniq0 tok0"
        assert out[0]["n_segments"] == 2 and out[0]["n_boiler"] == 1
        assert out[0]["removed_frac"] == 0.5
        # pure-boilerplate doc survives as an EMPTY doc, not a dropped row
        assert out[6]["cleaned_text"] == "" and out[6]["n_boiler"] == 2
        # untouched doc: odd token count → short tail segment preserved
        assert out[7]["cleaned_text"] == "alpha beta gamma"
        assert out[7]["n_segments"] == 2 and out[7]["n_boiler"] == 0

    def test_empty_boiler_set_is_identity(self, spark):
        from mcm_problem_f_data_wrangling_spark.operators.quality import (
            boilerplate_removal,
        )

        df = spark.createDataFrame(
            [(0, "a b c d"), (1, "e f g h")], ["doc_id", "text"]
        )
        out = boilerplate_removal(df, seg_tokens=2, max_df=1).collect()
        assert all(r["n_boiler"] == 0 for r in out)
        assert {r["cleaned_text"] for r in out} == {"a b c d", "e f g h"}

    def test_auto_falls_back_to_anti_join_past_cap(self, spark):
        """A boilerplate set larger than max_boiler_set routes to the
        anti-join path; a set exactly at the cap stays on the broadcast
        path.  (The two paths' rows are compared in the next test.)"""
        from mcm_problem_f_data_wrangling_spark.operators.quality import (
            boilerplate_removal,
        )

        def takes_anti_join(cap):
            out = boilerplate_removal(
                self._docs(spark), seg_tokens=2, max_df=4, max_boiler_set=cap
            )
            return "LeftAnti" in out._jdf.queryExecution().executedPlan().toString()

        # the set is {"hdr foot"}: one segment
        assert not takes_anti_join(1)
        assert takes_anti_join(0)

    def test_anti_join_equivalence_with_pure_boiler_doc(self, spark):
        """The anti-join path (cap 0) produces the default broadcast
        path's exact rows, including the pure-boilerplate doc."""
        from mcm_problem_f_data_wrangling_spark.operators.quality import (
            boilerplate_removal,
        )

        docs = self._docs(spark)
        a = sorted(
            map(tuple, boilerplate_removal(docs, seg_tokens=2, max_df=4).collect())
        )
        b = sorted(
            map(
                tuple,
                boilerplate_removal(
                    docs, seg_tokens=2, max_df=4, max_boiler_set=0
                ).collect(),
            )
        )
        assert a == b
        # the pure-boilerplate doc survives the anti-join as an EMPTY doc
        pure = [r for r in b if r[0] == 6]
        assert pure == [(6, 2, 2, "", 1.0)]

    def test_auto_aggregates_segments_once(self, spark):
        """The boilerplate table must be materialized BEFORE the
        decision count — the returned plan (either path) reads the
        checkpointed table, not a second explode+groupBy.  Without the
        localCheckpoint the count() action and the removal path each
        run the full segment aggregation (the dominant shuffle)."""
        from mcm_problem_f_data_wrangling_spark.operators.quality import (
            boilerplate_removal,
        )

        docs = self._docs(spark)
        # force the anti-join route: the returned plan JOINS seg_df, so
        # a recomputed (non-checkpointed) seg_df would show up as a
        # count_distinct aggregate in the plan
        out = boilerplate_removal(docs, seg_tokens=2, max_df=4, max_boiler_set=0)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan, "anti-join side must be the checkpoint"
        assert "count(distinct" not in plan.lower().replace(" ", ""), (
            "segment df-count aggregate recomputed in the removal plan"
        )


def test_read_parquet_evolving_merges_schemas(spark, tmp_path):
    from mcm_problem_f_data_wrangling_spark.sources.readers import (
        read_parquet_evolving,
    )

    old = spark.range(5).select(F.col("id"), F.lit("en").alias("lang"))
    new = spark.range(5, 8).select(
        F.col("id"), F.lit("de").alias("lang"), F.lit(0.9).alias("quality")
    )
    old.write.parquet(str(tmp_path / "d"), mode="overwrite")
    new.write.parquet(str(tmp_path / "d"), mode="append")
    back = read_parquet_evolving(spark, str(tmp_path / "d"))
    assert set(back.columns) == {"id", "lang", "quality"}
    rows = {r["id"]: (r["lang"], r["quality"]) for r in back.collect()}
    assert rows[0] == ("en", None) and rows[7] == ("de", 0.9)
    # plain read keeps ONE footer's schema (whichever file wins) —
    # evolving read is the explicit opt-in
    assert len(back.columns) >= len(spark.read.parquet(str(tmp_path / "d")).columns)
