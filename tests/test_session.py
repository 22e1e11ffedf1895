"""Session defaults: the local streaming checkpoint-file manager and
the fork-free local file system.

A local master checkpoints through Spark's FileSystem-based manager
(no forked ``readlink`` per rename) and runs ``file:`` on
``NioLocalFileSystem`` (no forked ``chmod`` per created file); cluster
masters keep Spark's and Hadoop's defaults, and a caller's
``extra_conf`` always wins.
"""

from __future__ import annotations

import os

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from mcm_problem_f_data_wrangling_spark import session
from mcm_problem_f_data_wrangling_spark.session import (
    LOCAL_CHECKPOINT_FILE_MANAGER,
    LOCAL_FILE_SYSTEM,
    LOCAL_FILE_SYSTEM_JAR,
    get_spark,
)

KEY = "spark.sql.streaming.checkpointFileManagerClass"
CP = "spark.driver.extraClassPath"
FS = "spark.hadoop.fs.file.impl"


@pytest.fixture
def options(monkeypatch):
    """``get_spark`` returning its builder's options instead of a session."""
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    return get_spark


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


def test_cluster_master_keeps_spark_default(spark, options):
    # the shared session's JVM was launched with the jar, so it loads
    cluster = options(master="spark://head:7077")
    local = options(master="local[2]")
    assert KEY not in cluster and CP not in cluster and FS not in cluster
    assert local[KEY] == LOCAL_CHECKPOINT_FILE_MANAGER
    assert local[CP] == LOCAL_FILE_SYSTEM_JAR
    assert local[FS] == LOCAL_FILE_SYSTEM
    assert options(master="local[2]", extra_conf={KEY: "x"})[KEY] == "x"


def test_extra_conf_class_path_is_joined_and_file_system_wins(spark, options):
    joined = options(master="local[2]", extra_conf={CP: "/x.jar"})
    assert joined[CP] == f"/x.jar{os.pathsep}{LOCAL_FILE_SYSTEM_JAR}"
    assert joined[FS] == LOCAL_FILE_SYSTEM
    assert options(master="local[2]", extra_conf={FS: "x"})[FS] == "x"


def test_file_system_unnamed_when_the_running_jvm_cannot_load_it(
    spark, options, monkeypatch
):
    # extraClassPath is read only at JVM launch: a running JVM without
    # the class must not be pointed at it
    monkeypatch.setattr(session, "LOCAL_FILE_SYSTEM", "no.such.FileSystem")
    assert FS not in options(master="local[2]")


def test_file_system_named_when_this_call_launches_the_jvm(options, monkeypatch):
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert options(master="local[2]")[FS] == LOCAL_FILE_SYSTEM
    # a gateway to a JVM launched elsewhere (spark-submit) is not ours
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert FS not in options(master="local[2]")
