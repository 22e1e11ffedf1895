"""Scan-efficiency guarantees: filters reach the parquet reader and
projection prunes the read schema — the two properties that keep a
100 TB scan from reading 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _scan_node(plan: str) -> str:
    for chunk in plan.split("\n\n"):
        if "FileScan parquet" in chunk:
            return chunk
    return plan


def test_filter_pushed_to_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 45.0)
        .select("l_orderkey", "l_quantity")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = _scan_node(plan)
    assert "PushedFilters" in scan
    assert "GreaterThan(l_quantity,45.0)" in scan


def test_projection_prunes_read_schema(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = _scan_node(plan)
    i = scan.index("ReadSchema")
    read_schema = scan[i : i + 400]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    # the wide columns must NOT be read
    assert "l_extendedprice" not in read_schema
    assert "l_shipdate" not in read_schema


def test_partition_pruning_on_hive_layout(spark, tmp_path):
    path = str(tmp_path / "parts")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.write.partitionBy("lang").parquet(path)
    pruned = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = _scan_node(plan)
    # partition filter shows up as PartitionFilters, and only en/ dirs scan
    assert "PartitionFilters" in scan and "lang" in scan
    n_en = docs.filter(F.col("lang") == "en").count()
    assert pruned.count() == n_en


def test_text_pipeline_stays_jvm_side(spark):
    """The text-quality pipeline must not cross into Python.

    Note: it is NOT whole-stage-codegen'd either — higher-order
    functions (F.filter/F.transform lambdas) are CodegenFallback in
    Spark, so these expressions evaluate interpreted-but-JVM.  That's
    the documented cost of HOF-based tokenization; the boundary that
    actually matters at scale (JVM↔Python serialization) stays closed.
    """
    from mcm_problem_f_data_wrangling_spark.functions.textfn import (
        quality_score,
        token_count_ws,
    )

    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(
            "doc_id",
            token_count_ws("text").alias("n"),
            quality_score("text").alias("q"),
        )
        .filter(F.col("q") > 0.5)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # pure-scalar pipelines DO codegen — guard that baseline too
    scalar = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    # executedPlan toString marks codegen stages with a '*(n)' prefix
    assert "*(1)" in scalar._jdf.queryExecution().executedPlan().toString()


def test_q06_all_filters_reach_the_scan(spark):
    """TPC-H Q6 is the pure-pushdown benchmark: every range predicate
    must appear in PushedFilters, not a post-scan Filter."""
    from mcm_problem_f_data_wrangling_spark.plans import REGISTRY

    import contextlib
    import io

    df = REGISTRY["q06_revenue_delta"].spark(spark, SF)
    # toString() truncates long PushedFilters lists — formatted explain
    # prints them in full
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24",
    ):
        assert frag in plan, f"missing pushed filter: {frag}"
    # projection pruning: only the 4 referenced columns are read
    i = plan.index("ReadSchema")
    rs = plan[i : i + 400]
    assert "l_extendedprice" in rs and "l_tax" not in rs


def test_q10_topn_runs_as_take_ordered(spark):
    """The LIMIT 20 over ORDER BY revenue must be a TakeOrderedAndProject
    (per-partition heaps), never a global Sort + CollectLimit."""
    from mcm_problem_f_data_wrangling_spark.plans import REGISTRY

    df = REGISTRY["q10_returned_items"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_q05_q07_dimension_chain_broadcasts(spark):
    """Multi-join stars: every dimension-side join is a broadcast; no
    SortMergeJoin appears at test scale."""
    from mcm_problem_f_data_wrangling_spark.plans import REGISTRY

    for name in ("q05_star_join_revenue", "q07_volume_shipping", "q08_market_share"):
        df = REGISTRY[name].spark(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, name


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC sink/scan parity with parquet: values survive a roundtrip
    (incl. date/decimal/array types) and predicate + projection reach
    the ORC reader (PushedFilters / ReadSchema)."""
    from mcm_problem_f_data_wrangling_spark.sources.readers import read_orc
    from mcm_problem_f_data_wrangling_spark.sources.writers import write_orc

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.col("id").cast("decimal(18,6)").alias("amt"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int") % 30).alias("d"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
    )
    path = str(tmp_path / "orc_rt")
    write_orc(df, path, partition_by=["grp"])
    back = read_orc(spark, path)
    assert back.count() == 1000
    got = {r["id"]: (r["amt"], r["d"], list(r["arr"])) for r in back.collect()}
    want = {r["id"]: (r["amt"], r["d"], list(r["arr"])) for r in df.collect()}
    assert got == want

    q = back.filter(F.col("id") > 900).select("id", "amt")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "id" in plan
    # partition pruning on the hive layout
    p = back.filter(F.col("grp") == 3)
    pruned = p._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pruned and "grp" in pruned


def test_dynamic_partition_pruning_fires_on_hive_layout(spark, tmp_path):
    """At 100 TB the fact table is date/region partitioned and the
    filter usually arrives on the DIM side; dynamic partition pruning
    turns the dim predicate into a runtime partition filter on the
    fact scan (no full-fact read).  Assert Spark plans the DPP
    subquery against our hive-partitioned layout."""
    facts = spark.range(20_000).select(
        F.col("id").alias("v"), (F.col("id") % 10).alias("region_id")
    )
    dims = spark.range(10).select(
        F.col("id").alias("region_id"),
        F.concat(F.lit("R"), F.col("id")).alias("name"),
    )
    fdir, ddir = str(tmp_path / "facts"), str(tmp_path / "dims")
    facts.write.partitionBy("region_id").parquet(fdir, mode="overwrite")
    dims.write.parquet(ddir, mode="overwrite")
    f = spark.read.parquet(fdir)
    d = spark.read.parquet(ddir).filter(F.col("name") == "R3")
    joined = f.join(d, "region_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == 2_000
