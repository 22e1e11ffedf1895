"""Python Data Source connector (sources/pyds.py): the synthetic_events
stream and its batch twin generate the same rows, and a committed
offset range replays byte-identically (the exactly-once contract)."""

from __future__ import annotations


def test_synthetic_events_stream_equals_batch(spark):
    """The streaming reader and the batch twin generate the SAME rows
    from pure offset arithmetic — any batch-boundary placement yields
    identical order-insensitive aggregates (s42's premise), and
    readBetweenOffsets replays a committed range byte-identically
    (the exactly-once path)."""
    import time
    import uuid

    from pyspark.sql import functions as F

    from mcm_problem_f_data_wrangling_spark.sources.pyds import (
        SyntheticEventsStreamReader,
        register_synthetic_events,
    )

    register_synthetic_events(spark)
    n = 7_000
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n_events", n).option("n_users", 13)
        .option("rows_per_batch", 1_999)  # deliberately ragged
        .load()
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("cents").alias("total")
    )
    sink = "pyds_se_" + uuid.uuid4().hex[:6]
    q = (
        agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            exc = q.exception()
            if exc is not None:  # dead stream: surface the real error
                raise exc
            r = spark.sql(f"SELECT SUM(cnt) AS s FROM {sink}").first()
            if r and r["s"] == n:
                break
            time.sleep(1)
        else:
            raise TimeoutError("stream did not converge")
    finally:
        q.stop()
    got = {
        r["user_id"]: (r["cnt"], r["total"])
        for r in spark.sql(f"SELECT * FROM {sink}").collect()
    }
    spark.catalog.dropTempView(sink)
    batch = (
        spark.read.format("synthetic_events")
        .option("n_events", n).option("n_users", 13).load()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("cents").alias("total"))
    )
    want = {r["user_id"]: (r["cnt"], r["total"]) for r in batch.collect()}
    assert got == want
    # replay determinism: readBetweenOffsets == the original read
    rd = SyntheticEventsStreamReader({"n_events": 50, "rows_per_batch": 20})
    rows1, end1 = rd.read({"i": 0})
    assert list(rd.readBetweenOffsets({"i": 0}, end1)) == list(rows1)
    # bounded: past the end, empty batches at a fixed offset
    rows_end, off_end = rd.read({"i": 50})
    assert list(rows_end) == [] and off_end == {"i": 50}
