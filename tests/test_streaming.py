"""Structured Streaming rollup == its batch mirror (SURVEY.md §2.8
extension): same input, same aggregates, via availableNow trigger."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.streaming.rollup import tumbling_rollup_agg
from mcm_problem_f_data_wrangling_spark.streaming.replay import drain


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_stream"))
    rows = [
        (i, f"2024-01-{(i % 5) + 1:02d} 10:00:00", i % 7, ["click", "view"][i % 2], float(i))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "user_id", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def test_stream_matches_batch(spark, event_dir):
    batch_df = spark.read.parquet(event_dir)
    expected = {
        (str(r["day"]), r["event_type"]): (r["n"], r["total"])
        for r in batch_df.groupBy(
            F.window("ts", "1 day").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").cast("date").alias("day"), "event_type", "n", "total")
        .collect()
    }
    stream = tumbling_rollup_agg(
        spark.readStream.schema(batch_df.schema).parquet(event_dir)
    )
    assert stream.isStreaming
    drain(
        stream.writeStream.format("memory")
        .queryName("rollup_test").outputMode("complete"),
        "rollup_test",
    )
    got = {
        (str(r["day"]), r["event_type"]): (r["n"], r["total"])
        for r in spark.sql("SELECT * FROM rollup_test").collect()
    }
    assert got == expected
    assert len(got) == 10  # 5 days × 2 event types


def test_watermark_drops_late_rows(spark, tmp_path_factory):
    """Late-data semantics: an event arriving in a later micro-batch but
    timestamped behind the watermark must NOT create a window.

    One availableNow run with maxFilesPerTrigger=1 → one micro-batch
    per file in mtime order (the watermark only advances BETWEEN
    micro-batches of one query; separate queries don't share it):
      file0: 03-10 event     → watermark after batch: 03-09
      file1: 03-20 event     → watermark 03-19; 03-10 window finalized
      file2: 03-01 LATE row  → behind watermark, dropped
    """
    import time

    src = str(tmp_path_factory.mktemp("late_events"))
    cols = ["event_id", "user_id", "event_type", "value", "ts"]

    def write_file(rows):
        pdf = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "value", "ts_s"])
        pdf.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").select(*cols)\
            .coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes fix the file → micro-batch order

    write_file([(1, 1, "click", 1.0, "2024-03-10 00:00:00")])
    write_file([(2, 1, "click", 1.0, "2024-03-20 00:00:00")])
    write_file([(3, 1, "click", 99.0, "2024-03-01 00:00:00")])
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").cast("date").alias("day"), "event_type", "n", "total")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")  # append emits only watermark-finalized windows
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    days = {str(r["day"]): r["total"] for r in spark.sql("SELECT * FROM late_test").collect()}
    assert days.get("2024-03-10") == 1.0  # finalized once watermark passed it
    assert "2024-03-01" not in days       # late row dropped by the watermark


def test_stream_dedup_matches_batch_exact(spark, tmp_path_factory):
    """Streaming dedup-at-ingest: first occurrence per fingerprint
    survives; duplicates in the SAME and in LATER micro-batches (within
    the watermark horizon) are dropped.  Output set == batch
    exact-dedup keeper set."""
    import time

    from mcm_problem_f_data_wrangling_spark.streaming.dedup import dedup_stream

    src = str(tmp_path_factory.mktemp("dedup_stream"))

    def write_file(rows):
        (
            spark.createDataFrame(rows, ["doc_id", "text", "ts_s"])
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)  # distinct mtimes fix file → micro-batch order

    write_file(
        [
            (1, "alpha beta gamma", "2024-04-01 10:00:00"),
            (2, "delta epsilon", "2024-04-01 10:00:05"),
            (3, "alpha  beta   gamma", "2024-04-01 10:00:10"),  # ws-normalized dup of 1
        ]
    )
    write_file(
        [
            (4, "delta epsilon", "2024-04-01 11:00:00"),  # cross-batch dup of 2
            (5, "zeta eta theta", "2024-04-01 11:00:05"),
        ]
    )
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    deduped = dedup_stream(stream)
    assert deduped.isStreaming
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM dedup_stream_test").collect()
    assert len(got) == 3  # docs 3 and 4 dropped
    assert {r["text"] for r in got} == {
        "alpha beta gamma",
        "delta epsilon",
        "zeta eta theta",
    }
    # batch mirror keeps the same number of fingerprint groups
    from mcm_problem_f_data_wrangling_spark.operators.dedup import exact_dedup_groups

    batch = exact_dedup_groups(spark.read.parquet(src))
    assert batch.count() == 3


def test_stream_stream_interval_join_matches_batch(spark, tmp_path_factory):
    """Inner stream-stream join with time bound: full availableNow drain
    emits exactly the batch join's pairs."""
    from mcm_problem_f_data_wrangling_spark.streaming.dedup import (
        stream_stream_interval_join,
    )

    base = tmp_path_factory.mktemp("ssj")
    clicks_dir, views_dir = str(base / "clicks"), str(base / "views")
    clicks = spark.createDataFrame(
        [
            (1, "u1", "2024-05-01 10:30:00"),
            (2, "u1", "2024-05-01 12:00:00"),
            (3, "u2", "2024-05-01 10:30:00"),
        ],
        ["click_id", "c_user", "ts_s"],
    ).withColumn("c_ts", F.to_timestamp("ts_s")).drop("ts_s")
    views = spark.createDataFrame(
        [
            (10, "u1", "2024-05-01 10:00:00"),  # 30min before click 1 ✓
            (11, "u1", "2024-05-01 10:29:00"),  # 1min before click 1 ✓
            (12, "u1", "2024-05-01 11:45:00"),  # 15min before click 2 ✓
            (13, "u2", "2024-05-01 11:00:00"),  # AFTER u2's click ✗
            (14, "u3", "2024-05-01 10:00:00"),  # no clicks ✗
        ],
        ["view_id", "v_user", "ts_s"],
    ).withColumn("v_ts", F.to_timestamp("ts_s")).drop("ts_s")
    clicks.coalesce(1).write.parquet(clicks_dir)
    views.coalesce(1).write.parquet(views_dir)

    ls = spark.readStream.schema(clicks.schema).parquet(clicks_dir)
    rs = spark.readStream.schema(views.schema).parquet(views_dir)
    joined = stream_stream_interval_join(
        ls.withColumnRenamed("c_user", "user_id"),
        rs.withColumnRenamed("v_user", "user_id"),
        on=["user_id"],
        left_ts="c_ts",
        right_ts="v_ts",
        lookback_seconds=3600.0,
    ).select("click_id", "view_id")
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.sql("SELECT * FROM ssj_test").collect()
    }
    assert got == {(1, 10), (1, 11), (2, 12)}


def test_foreach_batch_sink_idempotent_on_redelivery(spark, tmp_path_factory):
    from mcm_problem_f_data_wrangling_spark.streaming.dedup import (
        foreach_batch_idempotent_parquet,
    )

    base = tmp_path_factory.mktemp("fbsink")
    src, out, ckpt = str(base / "src"), str(base / "out"), str(base / "ckpt")
    rows = [(i, float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, v double")
    df.repartition(2).write.parquet(src)

    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        foreach_batch_idempotent_parquet(stream, out, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.option("basePath", out).parquet(out)
    assert back.count() == 20
    assert {r["id"] for r in back.select("id").collect()} == set(range(20))

    # simulate epoch re-delivery: re-write epoch 0's content again —
    # overwrite semantics must leave the total unchanged
    import glob as _g

    epochs = sorted(_g.glob(out + "/epoch=*"))
    assert len(epochs) >= 2  # one per file micro-batch
    # materialize first: writing over the directory a lazy plan still
    # reads from would delete its own input mid-job
    rows0 = spark.read.parquet(epochs[0]).drop("epoch").collect()
    redelivered = spark.createDataFrame(rows0, "id long, v double")
    redelivered.write.mode("overwrite").parquet(epochs[0])
    again = spark.read.option("basePath", out).parquet(out)
    assert again.count() == 20  # no duplicates after re-delivery


def test_cusum_stream_matches_batch_closed_form(spark, tmp_path_factory):
    """streaming/drift.py: the O(1)-state streaming CUSUM and the
    closed-form batch CUSUM (S+ = C - min prefix C) produce identical
    statistics and alarms on ordered arrivals, including a planted
    mean shift that must raise the alarm."""
    import math

    from mcm_problem_f_data_wrangling_spark.streaming.drift import (
        cusum_batch,
        cusum_stream,
    )

    # key "a": mean 1.0 for 20 points, then shifts to 4.0 — alarm.
    # key "b": stationary around 0 — no alarm.
    rows = []
    for i in range(30):
        v = 1.0 + (0.1 if i % 2 else -0.1) + (3.0 if i >= 20 else 0.0)
        rows.append((i, "a", v, f"2024-01-01 00:{i:02d}:00"))
    for i in range(30):
        rows.append((100 + i, "b", (0.2 if i % 2 else -0.2), f"2024-01-01 00:{i:02d}:00"))
    df = (
        spark.createDataFrame(rows, ["event_id", "event_type", "value", "ts_s"])
        .withColumn("ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )
    mu0 = {"a": 1.0, "b": 0.0}
    h = 5.0

    batch = cusum_batch(
        df.withColumn("d", F.col("value") - F.when(F.col("event_type") == "a", 1.0).otherwise(0.0)),
        "event_type",
        ["ts", "event_id"],
        F.col("d"),
        h=h,
    ).collect()
    b_stats = {(r["event_type"], r["event_id"]): (r["s_plus"], r["s_minus"], r["alarm"]) for r in batch}
    assert any(a for (_, _, a) in b_stats.values())  # shift detected
    assert not any(a for (k, _), (_, _, a) in b_stats.items() if k == "b")

    src = str(tmp_path_factory.mktemp("cusum_events"))
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        cusum_stream(stream, mu0, h, key_col="event_type")
        .writeStream.format("memory")
        .queryName("cusum_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM cusum_test").collect()
    assert len(got) == 60
    # join streaming rows back to batch rows via (key, ts)
    ts_to_id = {(r["event_type"], r["ts"]): r["event_id"] for r in df.collect()}
    for r in got:
        eid = ts_to_id[(r["key"], r["ts"])]
        sp, sm, al = b_stats[(r["key"], eid)]
        assert math.isclose(r["s_plus"], sp, abs_tol=1e-9)
        assert math.isclose(r["s_minus"], sm, abs_tol=1e-9)
        assert r["alarm"] == al


def test_decontaminate_stream_matches_batch_anti_join(spark, tmp_path_factory):
    """streaming/enrich.py decontaminate_stream: one availableNow drain
    drops exactly the blocklisted keys a batch LEFT ANTI would."""
    from mcm_problem_f_data_wrangling_spark.streaming.enrich import (
        decontaminate_stream,
    )

    src = str(tmp_path_factory.mktemp("contam_events"))
    rows = [(i, f"u{i % 7}", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "value"])
    df.coalesce(2).write.mode("overwrite").parquet(src)
    block = spark.createDataFrame([("u1",), ("u4",), ("u4",)], ["user_id"])

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        decontaminate_stream(stream, block, ["user_id"])
        .writeStream.format("memory")
        .queryName("decontam_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_id"]
        for r in spark.sql("SELECT * FROM decontam_stream_test").collect()
    }
    want = {
        r["event_id"]
        for r in df.join(block.dropDuplicates(), "user_id", "left_anti").collect()
    }
    assert got == want
    assert all(i % 7 not in (1, 4) for i in got)


def test_transform_with_state_running_totals_matches_batch(
    spark, tmp_path_factory
):
    """Stateful per-key running (count,sum) converges to the batch
    aggregate; Update mode emits a refreshed row per key per
    micro-batch, so the LAST row per key is the total.  Two files
    force two micro-batches (maxFilesPerTrigger=1) to exercise state
    carry-over across batches."""
    from mcm_problem_f_data_wrangling_spark.streaming.running import (
        running_totals_stream,
    )

    d = tmp_path_factory.mktemp("tws")
    rows1 = [("a", 1.0), ("a", 2.0), ("b", 10.0), ("c", None)]
    rows2 = [("a", 4.0), ("b", None), ("b", 30.0)]
    schema = "src STRING, value DOUBLE"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(str(d / "f2"))

    # the batch twin: running totals start at 0.0, so an all-null key
    # converges to 0.0 (not SQL SUM's NULL-of-empty)
    both = spark.createDataFrame(rows1 + rows2, schema)
    want = {
        r["src"]: (r["cnt"], r["total"])
        for r in both.groupBy("src")
        .agg(
            F.count("value").alias("cnt"),
            F.coalesce(F.sum("value"), F.lit(0.0)).alias("total"),
        )
        .collect()
    }
    assert want["a"] == (3, 7.0) and want["b"] == (2, 40.0) and want["c"] == (0, 0.0)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )
    out = running_totals_stream(stream, "src", "value")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("gst_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM gst_totals").collect()
    assert len(emitted) >= 4
    last = {}
    for r in emitted:  # memory sink appends in batch order
        last[r["key"]] = (r["cnt"], r["total"])
    assert last == want


def test_session_window_stream_merges_across_microbatches(spark, tmp_path_factory):
    """Native session_window on the streaming engine must merge
    sessions that SPAN micro-batch boundaries (maxFilesPerTrigger=1
    forces one file per batch; file 2 continues file 1's sessions
    within the 1-hour gap) and match the batch result exactly."""
    import pyspark.sql.functions as F

    path = str(tmp_path_factory.mktemp("session_stream"))
    # user 1: 10:00, 10:30 (file A), 10:50 (file B)  -> ONE session
    # user 2: 10:00 (file A), 13:00 (file B)         -> TWO sessions
    file_a = [(1, "2024-03-01 10:00:00", 1.0), (1, "2024-03-01 10:30:00", 2.0),
              (2, "2024-03-01 10:00:00", 5.0)]
    file_b = [(1, "2024-03-01 10:50:00", 4.0), (2, "2024-03-01 13:00:00", 8.0)]
    for i, rows in enumerate([file_a, file_b]):
        spark.createDataFrame(rows, ["user_id", "ts_s", "value"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.mode("append").parquet(path)

    batch = spark.read.parquet(path)

    def sessions(df):
        return (
            df.groupBy("user_id", F.session_window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .select("user_id", F.col("w.start").alias("start"), "n", "total")
        )

    expected = {(r.user_id, str(r.start)): (r.n, r.total)
                for r in sessions(batch).collect()}
    assert len(expected) == 3  # 1 merged + 2 split

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    from mcm_problem_f_data_wrangling_spark.streaming.replay import drain

    drain(
        sessions(stream).writeStream.format("memory")
        .queryName("session_merge_test").outputMode("complete"),
        "session_merge_test",
    )
    got = {(r.user_id, str(r.start)): (r.n, r.total)
           for r in spark.sql("SELECT * FROM session_merge_test").collect()}
    spark.catalog.dropTempView("session_merge_test")
    assert got == expected


def test_interval_join_tuple_keys_match_across_micro_batches(
    spark, tmp_path_factory
):
    """(left_col, right_col) key pairs keep the joined row free of
    duplicate columns, and pairs whose two sides arrive in DIFFERENT
    micro-batches (maxFilesPerTrigger=1, one row per file) still match
    through the buffered join state."""
    from mcm_problem_f_data_wrangling_spark.streaming.dedup import (
        stream_stream_interval_join,
    )

    base = tmp_path_factory.mktemp("ssj_tuple")
    pdir, cdir = str(base / "purch"), str(base / "clicks")
    purchases = spark.createDataFrame(
        [(10, "u1", "2024-05-01 10:20:00"), (11, "u2", "2024-05-01 09:00:00")],
        ["purchase_id", "p_user", "ts_s"],
    ).withColumn("p_ts", F.to_timestamp("ts_s")).drop("ts_s")
    clicks = spark.createDataFrame(
        [
            (1, "u1", "2024-05-01 10:00:00"),  # 20 min before purchase ✓
            (2, "u2", "2024-05-01 09:30:00"),  # after u2's purchase ✗
        ],
        ["click_id", "user_id", "ts_s"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    # one row per file => the matching click and purchase land in
    # separate micro-batches
    purchases.repartition(2).write.parquet(pdir)
    clicks.repartition(2).write.parquet(cdir)

    ls = (
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pdir)
    )
    rs = (
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(cdir)
    )
    joined = stream_stream_interval_join(
        ls, rs,
        on=[("p_user", "user_id")],
        left_ts="p_ts",
        right_ts="ts",
        lookback_seconds=1800.0,
    ).select("click_id", "purchase_id", "user_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_tuple_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["click_id"], r["purchase_id"], r["user_id"])
        for r in spark.sql("SELECT * FROM ssj_tuple_test").collect()
    }
    assert got == {(1, 10, "u1")}


def test_write_ordered_replay_orders_files_and_sentinels(spark, tmp_path_factory):
    """Replay files must carry strictly increasing mtimes in event-time
    order (file k's max ts <= file k+1's min ts), with the sentinel
    copies stamped last — the contract the s36 watermark ladder rides."""
    import datetime
    import os

    import pyarrow.parquet as pq

    from mcm_problem_f_data_wrangling_spark.streaming.replay import (
        write_ordered_replay,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(minutes=7 * i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    sent = spark.createDataFrame(
        [(-1, t0 + datetime.timedelta(days=30))], "id long, ts timestamp"
    )
    path = str(tmp_path_factory.mktemp("replay"))
    files = write_ordered_replay(
        df, "ts", path, n_files=3, sentinel_df=sent, n_sentinels=2
    )
    assert len(files) == 5
    mtimes = [os.stat(f).st_mtime for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 5
    spans = []
    for f in files[:3]:
        ts = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
        assert ts, "data replay file unexpectedly empty"
        spans.append((min(ts), max(ts)))
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2
    for f in files[3:]:
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        assert ids == [-1]


def test_interval_join_rejects_bad_how_and_direction(spark):
    import pytest

    from mcm_problem_f_data_wrangling_spark.streaming.dedup import (
        stream_stream_interval_join,
    )

    df = spark.createDataFrame([(1, 1)], "a long, b long")
    with pytest.raises(ValueError):
        stream_stream_interval_join(
            df, df, on=["a"], left_ts="b", right_ts="b",
            lookback_seconds=1.0, how="cross",
        )
    with pytest.raises(ValueError):
        stream_stream_interval_join(
            df, df, on=["a"], left_ts="b", right_ts="b",
            lookback_seconds=1.0, direction="sideways",
        )


def _checkpoint_tmp_files(ckpt: str) -> list:
    import os

    return [
        os.path.join(d, f)
        for d, _dirs, files in os.walk(ckpt)
        for f in files
        if f.endswith(".tmp")
    ]


def test_checkpoint_resume_recovers_dedup_state(spark, tmp_path_factory):
    """The s37 gate's load-bearing mechanism, proven both ways: a
    restart FROM the checkpoint drops a duplicate of a pre-restart
    row (state recovered), while a restart with a FRESH checkpoint
    passes it into the sink (state lost) — so the gate genuinely
    fails if recovery breaks.  Runs under the session's local
    checkpoint-file manager, and a cleanly stopped resumed query
    leaves no temp file in its checkpoint."""
    import datetime
    import os
    import shutil

    from pyspark.sql import functions as F

    from mcm_problem_f_data_wrangling_spark.session import (
        LOCAL_CHECKPOINT_FILE_MANAGER,
    )
    from mcm_problem_f_data_wrangling_spark.streaming.dedup import (
        dedup_stream,
        foreach_batch_idempotent_parquet,
    )
    from mcm_problem_f_data_wrangling_spark.streaming.replay import (
        write_ordered_replay,
    )

    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == LOCAL_CHECKPOINT_FILE_MANAGER
    )
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, f"text {i}", t0 + datetime.timedelta(minutes=i)) for i in range(8)
    ] + [
        (100 + i, f"text {i}", t0 + datetime.timedelta(hours=1, minutes=i))
        for i in range(8)  # twins of every original, strictly later
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    base = str(tmp_path_factory.mktemp("resume"))
    files = write_ordered_replay(df, "ts", f"{base}/replay", n_files=2)

    def run(visible, sink, ckpt):
        src = f"{base}/src_{os.path.basename(sink)}"
        os.makedirs(src, exist_ok=True)
        for f in visible:
            dst = os.path.join(src, os.path.basename(f))
            if not os.path.exists(dst):
                shutil.copy2(f, dst)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = dedup_stream(stream, "text", "ts", "365 days").select("doc_id")
        q = (
            foreach_batch_idempotent_parquet(out, sink, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    # recovered state: twins dropped across the restart
    run(files[:1], f"{base}/sink_a", f"{base}/ckpt_a")
    run(files, f"{base}/sink_a", f"{base}/ckpt_a")
    kept = {r["doc_id"] for r in spark.read.parquet(f"{base}/sink_a/epoch=*").collect()}
    assert kept == set(range(8))
    assert _checkpoint_tmp_files(f"{base}/ckpt_a") == []

    # counterfactual: the twins WITHOUT the originals' state (twin
    # file only, fresh checkpoint) all pass into the sink — the drop
    # in part A can only have come from the recovered state store
    run(files[1:], f"{base}/sink_c", f"{base}/ckpt_c")
    kept_c = {r["doc_id"] for r in spark.read.parquet(f"{base}/sink_c/epoch=*").collect()}
    assert kept_c == {100 + i for i in range(8)}


def test_interval_join_full_outer_null_pads_both_sides(spark, tmp_path_factory):
    """full_outer: unmatched LEFT and RIGHT rows both null-pad out on
    watermark eviction — the remaining join type the s34/s36 gates
    don't cover, driven through the same ordered-replay + sentinel
    ladder."""
    import datetime
    import uuid

    from pyspark.sql import functions as F

    from mcm_problem_f_data_wrangling_spark.streaming.dedup import (
        stream_stream_interval_join,
    )
    from mcm_problem_f_data_wrangling_spark.streaming.replay import (
        write_ordered_replay,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # u1: click + purchase 10 min later -> the matched pair
        (1, 10, "click", t0),
        (2, 10, "purchase", t0 + datetime.timedelta(minutes=10)),
        # u2: click with no purchase -> unmatched LEFT
        (3, 20, "click", t0 + datetime.timedelta(minutes=5)),
        # u3: purchase with no click -> unmatched RIGHT
        (4, 30, "purchase", t0 + datetime.timedelta(minutes=7)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    sent = spark.createDataFrame(
        [(-1, -1, "click", t0 + datetime.timedelta(hours=12)),
         (-1, -1, "purchase", t0 + datetime.timedelta(hours=12))],
        df.schema,
    )
    path = str(tmp_path_factory.mktemp("foj"))
    write_ordered_replay(df, "ts", path, n_files=2, sentinel_df=sent, n_sentinels=2)
    src = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(path)
    )
    clicks = src.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = src.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = stream_stream_interval_join(
        clicks, purchases,
        on=[("user_id", "p_user")],
        left_ts="ts", right_ts="p_ts",
        lookback_seconds=1800.0, watermark="1 hour",
        how="full_outer", direction="lookforward",
    ).select("click_id", "purchase_id")
    sink = "foj_" + uuid.uuid4().hex[:6]
    q = (
        joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    q.stop()
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql(f"SELECT * FROM {sink}").collect()
        if r["click_id"] != -1 and r["purchase_id"] != -1  # sentinels
    }
    spark.catalog.dropTempView(sink)
    assert got == {(1, 2), (3, None), (None, 4)}


def test_outer_join_eviction_without_no_data_batches(spark, tmp_path_factory):
    """The s36 ladder sizes maxFilesPerTrigger = n_files + n_sentinels
    - 1 so the LAST sentinel forms its own micro-batch and the
    eviction runs in a REAL batch — null-padding must not depend on
    spark.sql.streaming.noDataMicroBatches.enabled (r10 advisor: with
    both sentinels in one trailing batch it silently did)."""
    import datetime
    import uuid

    from pyspark.sql import functions as F

    from mcm_problem_f_data_wrangling_spark.streaming.dedup import (
        stream_stream_interval_join,
    )
    from mcm_problem_f_data_wrangling_spark.streaming.replay import (
        write_ordered_replay,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, 10, "click", t0),
        (2, 10, "purchase", t0 + datetime.timedelta(minutes=10)),
        (3, 20, "click", t0 + datetime.timedelta(minutes=5)),  # unmatched
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    sent = spark.createDataFrame(
        [(-1, -1, "click", t0 + datetime.timedelta(hours=12)),
         (-1, -1, "purchase", t0 + datetime.timedelta(hours=12))],
        df.schema,
    )
    path = str(tmp_path_factory.mktemp("nodata"))
    write_ordered_replay(df, "ts", path, n_files=2, sentinel_df=sent,
                         n_sentinels=2)
    old = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        src = (
            spark.readStream.schema(df.schema)
            # 2 data files + 2 sentinels, mFPT=3: [data..., sentinel 1]
            # advances the watermark, [sentinel 2] performs eviction
            .option("maxFilesPerTrigger", "3")
            .parquet(path)
        )
        clicks = src.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", "ts"
        )
        purchases = src.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        joined = stream_stream_interval_join(
            clicks, purchases,
            on=[("user_id", "p_user")],
            left_ts="ts", right_ts="p_ts",
            lookback_seconds=1800.0, watermark="1 hour",
            how="left_outer", direction="lookforward",
        ).select("click_id", "purchase_id")
        sink = "nodata_" + uuid.uuid4().hex[:6]
        q = (
            joined.writeStream.format("memory").queryName(sink)
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        q.stop()
        got = {
            (r["click_id"], r["purchase_id"])
            for r in spark.sql(f"SELECT * FROM {sink}").collect()
            if r["click_id"] != -1
        }
        spark.catalog.dropTempView(sink)
        # the unmatched click null-pads even with no-data batches OFF
        assert got == {(1, 2), (3, None)}
    finally:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", old
        )


def test_join_state_checkpoint_resume_both_ways(spark, tmp_path_factory):
    """The s39 gate's mechanism, proven both ways like the dedup twin:
    a click buffered BEFORE a restart matches its purchase arriving
    AFTER the restart only when the new query resumes from the same
    checkpoint; with a fresh checkpoint the purchase orphans and the
    click never emits at all (its file is never re-read).  Runs under
    the session's local checkpoint-file manager, and a cleanly
    stopped resumed query leaves no temp file in its checkpoint."""
    import datetime
    import os
    import shutil

    from pyspark.sql import functions as F

    from mcm_problem_f_data_wrangling_spark.session import (
        LOCAL_CHECKPOINT_FILE_MANAGER,
    )
    from mcm_problem_f_data_wrangling_spark.streaming.dedup import (
        foreach_batch_idempotent_parquet,
        stream_stream_interval_join,
    )
    from mcm_problem_f_data_wrangling_spark.streaming.replay import (
        write_ordered_replay,
    )

    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == LOCAL_CHECKPOINT_FILE_MANAGER
    )
    t0 = datetime.datetime(2024, 1, 1)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    part_a = spark.createDataFrame(
        [(1, 10, "click", t0)], schema  # straddling click
    )
    part_b = spark.createDataFrame(
        [(2, 10, "purchase", t0 + datetime.timedelta(minutes=10))], schema
    )
    sent = spark.createDataFrame(
        [(-1, -1, "click", t0 + datetime.timedelta(hours=12)),
         (-1, -1, "purchase", t0 + datetime.timedelta(hours=12))],
        schema,
    )
    base = str(tmp_path_factory.mktemp("jsr"))
    files_a = write_ordered_replay(part_a, "ts", f"{base}/ra", n_files=1)
    files_b = write_ordered_replay(
        part_b, "ts", f"{base}/rb", n_files=1, sentinel_df=sent, n_sentinels=2
    )
    ordered = files_a + files_b
    m0 = os.stat(ordered[-1]).st_mtime - 10.0 * len(ordered)
    for i, f in enumerate(ordered):
        os.utime(f, (m0 + 10.0 * i, m0 + 10.0 * i))

    def run(visible, tag, ckpt):
        src = f"{base}/src_{tag}"
        os.makedirs(src, exist_ok=True)
        for f in visible:
            dst = os.path.join(src, os.path.basename(f))
            if not os.path.exists(dst):
                shutil.copy2(f, dst)
        stream = (
            spark.readStream.schema(part_a.schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(src)
        )
        clicks = stream.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", "ts"
        )
        purchases = stream.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        out = stream_stream_interval_join(
            clicks, purchases,
            on=[("user_id", "p_user")],
            left_ts="ts", right_ts="p_ts",
            lookback_seconds=1800.0, watermark="1 hour",
            how="left_outer", direction="lookforward",
        ).select("click_id", "purchase_id")
        q = (
            foreach_batch_idempotent_parquet(out, f"{base}/sink_{tag}", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()
        got = spark.read.parquet(f"{base}/sink_{tag}/epoch=*")
        return {
            (r["click_id"], r["purchase_id"])
            for r in got.where(F.col("click_id") >= 0).collect()
        }

    # resumed checkpoint: the straddling pair matches
    run(files_a, "a", f"{base}/ckpt_a")
    got = run(ordered, "a", f"{base}/ckpt_a")
    assert got == {(1, 2)}
    assert _checkpoint_tmp_files(f"{base}/ckpt_a") == []

    # fresh checkpoint over the post-restart files only: the purchase
    # orphans (left_outer emits nothing for it) and the click never
    # emits — the matched row above can only come from recovered state
    got_c = run(files_b, "c", f"{base}/ckpt_c")
    assert got_c == set()


def test_restamp_replay_sequence_orders_across_dirs(spark, tmp_path_factory):
    """Files from two write_ordered_replay dirs get one strictly
    increasing all-in-the-past mtime sequence — the s39/s40 resume
    gates split their replay at the restart point into two dirs and
    copy2 preserves these mtimes into the shared source dir."""
    import datetime
    import os
    import time

    from mcm_problem_f_data_wrangling_spark.streaming.replay import (
        restamp_replay_sequence,
        write_ordered_replay,
    )

    t0 = datetime.datetime(2024, 1, 1)
    base = str(tmp_path_factory.mktemp("restamp"))
    df1 = spark.createDataFrame(
        [(i, t0 + datetime.timedelta(minutes=i)) for i in range(4)],
        "i long, ts timestamp",
    )
    df2 = spark.createDataFrame(
        [(i, t0 + datetime.timedelta(hours=1, minutes=i)) for i in range(4)],
        "i long, ts timestamp",
    )
    fa = write_ordered_replay(df1, "ts", f"{base}/a", n_files=2)
    fb = write_ordered_replay(df2, "ts", f"{base}/b", n_files=2)
    got = restamp_replay_sequence(fa + fb)
    assert got == fa + fb
    mtimes = [os.stat(f).st_mtime for f in got]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    assert mtimes[-1] <= time.time()  # all in the past


def test_restamp_replay_sequence_rejects_empty():
    """An empty file list is a caller bug (forgot to concatenate the
    write_ordered_replay returns) — fail with a descriptive ValueError,
    not a bare IndexError (ADVICE r11)."""
    import pytest as _pytest

    from mcm_problem_f_data_wrangling_spark.streaming.replay import (
        restamp_replay_sequence,
    )

    with _pytest.raises(ValueError, match="ordered is empty"):
        restamp_replay_sequence([])


def test_agg_state_checkpoint_resume_both_ways(spark, tmp_path_factory):
    """The s40 gate's mechanism, proven both ways like the dedup and
    join twins: a GroupState running total resumed from the same
    checkpoint folds phase-2 rows into the recovered (cnt, total)
    state; a fresh checkpoint over the same phase-2 files restarts
    every key at zero."""
    import datetime
    import os
    import shutil

    from pyspark.sql import functions as F

    from mcm_problem_f_data_wrangling_spark.streaming.dedup import (
        foreach_batch_idempotent_parquet,
    )
    from mcm_problem_f_data_wrangling_spark.streaming.replay import (
        write_ordered_replay,
    )
    from mcm_problem_f_data_wrangling_spark.streaming.running import (
        running_totals_stream,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", 10, t0 + datetime.timedelta(minutes=i)) for i in range(4)
    ] + [
        ("a", 1, t0 + datetime.timedelta(hours=1, minutes=i)) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "source string, v long, ts timestamp")
    base = str(tmp_path_factory.mktemp("aggres"))
    files = write_ordered_replay(df, "ts", f"{base}/replay", n_files=2)

    def run(visible, tag, ckpt):
        src = f"{base}/src_{tag}"
        os.makedirs(src, exist_ok=True)
        for f in visible:
            dst = os.path.join(src, os.path.basename(f))
            if not os.path.exists(dst):
                shutil.copy2(f, dst)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(src)
        )
        out = running_totals_stream(stream, "source", "v")
        sink = f"{base}/sink_{tag}"
        q = (
            foreach_batch_idempotent_parquet(
                out, sink, ckpt, output_mode="update"
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()
        got = (
            spark.read.option("basePath", sink).parquet(f"{sink}/epoch=*")
            .groupBy("key")
            .agg(F.max(F.struct("epoch", "cnt", "total")).alias("m"))
            .select("key", F.col("m.cnt").alias("cnt"),
                    F.col("m.total").alias("total"))
        )
        return {r["key"]: (r["cnt"], r["total"]) for r in got.collect()}

    # resumed checkpoint: phase 2 folds into recovered state
    run(files[:1], "a", f"{base}/ckpt_a")
    got = run(files, "a", f"{base}/ckpt_a")
    assert got == {"a": (8, 44.0)}

    # fresh checkpoint over the phase-2 file only: counts restart
    got_c = run(files[1:], "c", f"{base}/ckpt_c")
    assert got_c == {"a": (4, 4.0)}


def test_memory_sink_rows_drops_view_when_check_raises(spark, event_dir):
    """A post-drain check that fails still drops the memory sink's view,
    so a failing gate leaves no table in the shared session."""
    from mcm_problem_f_data_wrangling_spark.streaming.replay import memory_sink_rows

    schema = spark.read.parquet(event_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_dir)

    def sink_tables():
        return [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("sinkleak")
        ]

    def check(q):
        raise AssertionError("post-drain check failed")

    with pytest.raises(AssertionError, match="post-drain check failed"):
        memory_sink_rows(stream, "sinkleak", check=check)
    assert sink_tables() == []
    rows = memory_sink_rows(stream.select("event_id"), "sinkleak")
    assert sorted(r["event_id"] for r in rows) == list(range(200))
    assert sink_tables() == []


def test_restart_drain_rejects_phase2_without_new_epoch(spark, tmp_path_factory):
    """Handing both phases the same files means phase 2 writes no new
    epoch: the restart helper raises and removes its work directory."""
    import os

    from mcm_problem_f_data_wrangling_spark.streaming.replay import restart_drain

    df = spark.range(20).withColumn("ts", F.timestamp_micros("id"))
    path = str(tmp_path_factory.mktemp("restart_same"))
    df.coalesce(1).write.mode("overwrite").parquet(path)
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )
    work_dirs = []

    def replay(root):
        work_dirs.append(os.path.dirname(root))
        return files, files

    with pytest.raises(AssertionError, match="must EXTEND phase-1 batches"):
        restart_drain(spark, "same_files", df.schema, 1, "append", replay, lambda s: s)
    assert work_dirs and not os.path.exists(work_dirs[0])
