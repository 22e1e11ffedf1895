"""The fork-free local file system a local session runs ``file:`` on.

``sparkgraft.fs.NioLocalFileSystem`` (``jvm/``) sets Hadoop file
permissions in-process instead of forking ``chmod``; everything else
must behave as the stock ``file:`` class of this Spark install, Hive's
``ProxyLocalFileSystem`` (the ``session`` module docstring).
"""

from __future__ import annotations

import functools
import os
import shutil
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.session import LOCAL_FILE_SYSTEM

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STOCK_FILE_SYSTEM = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK's javac")
def test_committed_jar_matches_its_source():
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "build_jvm.py"), "--check"],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_shared_session_runs_the_fork_free_class(spark):
    hconf = spark._jsc.hadoopConfiguration()
    local = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf)
    assert local.getClass().getName() == LOCAL_FILE_SYSTEM


def test_writes_spawn_no_process(spark, tmp_path):
    """A parquet write, a single-file CSV export and a stateful
    checkpoint restart, recorded with JFR's ``jdk.ProcessStart``."""
    from mcm_problem_f_data_wrangling_spark.sources.writers import write_csv_single
    from mcm_problem_f_data_wrangling_spark.streaming.replay import restart_drain

    jvm = spark._jvm
    df = spark.range(40).select(
        (F.col("id") % 4).alias("k"), F.timestamp_micros("id").alias("ts")
    )
    src = str(tmp_path / "src")
    df.repartition(2, "k").write.parquet(src)
    files = sorted(
        os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
    )

    def replay(_root):
        return files[:1], files

    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        df.write.parquet(str(tmp_path / "parquet"))
        write_csv_single(df, str(tmp_path / "out.csv"))
        restart_drain(
            spark, "no_spawn", df.schema, 1, "update", replay,
            lambda s: s.groupBy("k").count(),
        )
    finally:
        rec.stop()
    jfr = jvm.java.io.File(str(tmp_path / "writes.jfr")).toPath()
    rec.dump(jfr)
    rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(jfr)
    spawned = [
        (e.getString("command"), e.getThread().getJavaName())
        for e in (events.get(i) for i in range(events.size()))
    ]
    # the first driver and executor heartbeats of a JVM each read the
    # page size for Spark's procfs metrics once; and when a GC lands in
    # the recording, Spark's ArtifactManager deletes a collected
    # session's artifact directory with a forked ``rm -rf`` on the JVM's
    # Cleaner thread.  None of them is a write
    heartbeats = {("getconf PAGESIZE", f"{w}-heartbeater") for w in ("driver", "executor")}
    tmpdir = jvm.java.lang.System.getProperty("java.io.tmpdir")
    artifacts = "rm -rf " + os.path.join(tmpdir, "artifacts-")

    def expected(cmd: str, thread: str) -> bool:
        return (cmd, thread) in heartbeats or (
            cmd.startswith(artifacts) and thread == "Cleaner-0"
        )

    assert [s for s in spawned if not expected(*s)] == []


def _operations(spark, cls, root) -> dict:
    """The modes and outcomes of the same operations through ``cls``."""
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    os.makedirs(root)

    def path(name):
        return jvm.org.apache.hadoop.fs.Path(os.path.join(root, name))

    def mode(name):
        return oct(os.stat(os.path.join(root, name)).st_mode & 0o7777)

    def read(name):
        with open(os.path.join(root, name), "rb") as f:
            return f.read()

    def write(name, data, permission=None):
        if permission is None:
            out = fs.create(path(name))
        else:
            out = fs.create(path(name), perm(permission), True, 4096, 1, 1 << 20, None)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    fs = functools.reduce(getattr, cls.split("."), jvm)()
    fs.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    seen = {}
    try:
        write("default", b"d" * 1500)
        write("p640", b"p", 0o640)
        seen["create default"] = (mode("default"), mode(".default.crc"))
        seen["create 0640"] = (mode("p640"), mode(".p640.crc"))
        seen["mkdirs 0750"] = (fs.mkdirs(path("d750"), perm(0o750)), mode("d750"))
        fs.setPermission(path("default"), perm(0o600))
        seen["setPermission 0600"] = (mode("default"), mode(".default.crc"))
        fs.mkdirs(path("sticky"))
        fs.setPermission(path("sticky"), perm(0o1777))
        seen["setPermission 01777"] = mode("sticky")
        renamed = fs.rename(path("p640"), path("default"))
        seen["rename onto a file"] = (renamed, read("p640"), read("default"))
        with open(os.path.join(root, "default"), "r+b") as f:
            f.seek(1000)
            f.write(b"x")
        stream = fs.open(path("default"))
        try:
            stream.readAllBytes()
            seen["read behind a bad .crc"] = "read"
        except Py4JJavaError as e:
            seen["read behind a bad .crc"] = e.java_exception.getClass().getName()
        finally:
            stream.close()
    finally:
        fs.close()
    return seen


def test_same_behaviour_as_the_stock_file_system(spark, tmp_path):
    ours = _operations(spark, LOCAL_FILE_SYSTEM, str(tmp_path / "ours"))
    stock = _operations(spark, STOCK_FILE_SYSTEM, str(tmp_path / "stock"))
    assert ours == stock
    assert ours["create 0640"] == ("0o640", "0o640")
    assert ours["mkdirs 0750"] == (True, "0o750")
    assert ours["setPermission 0600"] == ("0o600", "0o600")
    assert ours["setPermission 01777"] == "0o1777"
    assert ours["rename onto a file"] == (False, b"p", b"d" * 1500)
    assert ours["read behind a bad .crc"] == "org.apache.hadoop.fs.ChecksumException"
