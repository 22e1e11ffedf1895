"""Session defaults: the local streaming checkpoint-file manager.

A local master checkpoints through Spark's FileSystem-based manager
(no forked ``readlink`` per rename); cluster masters keep Spark's
FileContext default, and a caller's ``extra_conf`` always wins.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from mcm_problem_f_data_wrangling_spark.session import (
    LOCAL_CHECKPOINT_FILE_MANAGER,
    get_spark,
)

KEY = "spark.sql.streaming.checkpointFileManagerClass"


def test_local_session_uses_filesystem_checkpoint_manager(spark):
    assert spark.conf.get(KEY) == LOCAL_CHECKPOINT_FILE_MANAGER


def test_extra_conf_overrides_checkpoint_manager(spark):
    other = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    # get_spark re-applies every default to the shared session: restore
    # each runtime conf it changes, not only the one under test
    before = dict(spark.conf.getAll)
    try:
        again = get_spark("pytest", extra_conf={KEY: other})
        assert again is spark
        assert spark.conf.get(KEY) == other
    finally:
        after = dict(spark.conf.getAll)
        for k, v in after.items():
            if before.get(k) == v:
                continue
            if k in before:
                spark.conf.set(k, before[k])
            else:
                spark.conf.unset(k)
    assert spark.conf.get(KEY) == LOCAL_CHECKPOINT_FILE_MANAGER


def test_cluster_master_keeps_spark_default(monkeypatch):
    # no session is built: the builder's options are returned instead
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    cluster = get_spark(master="spark://head:7077")
    local = get_spark(master="local[2]")
    assert KEY not in cluster
    assert local[KEY] == LOCAL_CHECKPOINT_FILE_MANAGER
    assert get_spark(master="local[2]", extra_conf={KEY: "x"})[KEY] == "x"
