"""Session defaults: the local streaming checkpoint-file manager, the
fork-free local file system and the driver JVM's AppCDS archive.

A local master checkpoints through Spark's FileSystem-based manager
(no forked ``readlink`` per rename) and runs ``file:`` on
``NioLocalFileSystem`` (no forked ``chmod`` per created file); cluster
masters keep Spark's and Hadoop's defaults, and a caller's
``extra_conf`` always wins.  A local call that launches the JVM maps
the class-data-sharing archive, or records it for publication at exit,
and raises the C2 thresholds ahead of the caller's JVM options.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import subprocess
import sys
import textwrap

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
JOPT = "spark.driver.extraJavaOptions"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# session.LATE_C2, spelled out
TIER4 = {
    "Tier4InvocationThreshold": "40000",
    "Tier4MinInvocationThreshold": "4800",
    "Tier4CompileThreshold": "120000",
    "Tier4BackEdgeThreshold": "320000",
}


@pytest.fixture
def options(monkeypatch, tmp_path):
    """``get_spark`` returning its builder's options instead of a session
    (with the archive directory under ``tmp_path``)."""
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    monkeypatch.setattr(session, "CDS_DIR", str(tmp_path / "cds"))
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


@pytest.fixture
def launch(monkeypatch, tmp_path):
    """A call that launches the JVM, from a conf directory of templates."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setattr(SparkContext, "_jvm", None)
    # the shared session's JVM may be recording this process's archive
    monkeypatch.setattr(session, "_recording", [])
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    for name in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(name, raising=False)
    return conf


def _flag(opts: str, name: str) -> str | None:
    """The value HotSpot takes for ``-XX:<name>=`` in JVM options (the
    last one), or None."""
    values = [o.split("=", 1)[1] for o in opts.split() if o.startswith(f"-XX:{name}=")]
    return values[-1] if values else None


def test_cds_flags_only_when_a_local_call_launches_the_jvm(
    spark, options, launch, monkeypatch
):
    tmp = _flag(options(master="local[2]")[JOPT], "ArchiveClassesAtExit")
    assert os.path.dirname(tmp) == session.CDS_DIR
    assert tmp.endswith(f".{os.getpid()}.tmp")
    # no JVM option at all below: neither the archive's nor the late C2's
    assert JOPT not in options(master="spark://head:7077")
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert JOPT not in options(master="local[2]")
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setattr(SparkContext, "_jvm", spark._jvm)  # a running JVM
    assert JOPT not in options(master="local[2]")


def test_cds_flags_append_to_the_caller_options(options, launch):
    opts = options(master="local[2]", extra_conf={JOPT: "-Dx=1"})[JOPT].split()
    tmp = next(o for o in opts if o.startswith("-XX:ArchiveClassesAtExit="))
    assert opts.index("-Dx=1") < opts.index(tmp)
    # a caller's own class-data-sharing choice is left alone
    opts = options(master="local[2]", extra_conf={JOPT: "-Xshare:off"})[JOPT]
    assert opts.endswith(" -Xshare:off")
    assert not any(_flag(opts, f) for f in ("ArchiveClassesAtExit", "SharedArchiveFile"))


def test_caller_tier4_value_wins(options, launch):
    opts = options(
        master="local[2]", extra_conf={JOPT: "-XX:Tier4InvocationThreshold=5000"}
    )[JOPT]
    # HotSpot takes a flag's last occurrence: the caller's comes later
    assert _flag(opts, "Tier4InvocationThreshold") == "5000"
    assert _flag(opts, "Tier4CompileThreshold") == TIER4["Tier4CompileThreshold"]


def test_published_archive_is_mapped_never_a_tmp(options, launch):
    tmp = _flag(options(master="local[2]")[JOPT], "ArchiveClassesAtExit")
    key = os.path.basename(tmp).split(".")[0]
    # another live process's recording is not an archive to map
    with open(os.path.join(session.CDS_DIR, f"{key}.1.tmp"), "wb"):
        pass
    opts = options(master="local[2]")[JOPT]
    assert _flag(opts, "SharedArchiveFile") is None
    jsa = os.path.join(session.CDS_DIR, f"{key}.jsa")
    with open(jsa, "wb"):
        pass
    opts = options(master="local[2]")[JOPT]
    assert _flag(opts, "SharedArchiveFile") == jsa
    assert "-Xshare:auto" in opts.split() and _flag(opts, "ArchiveClassesAtExit") is None


def test_cds_key_follows_class_path_and_heap_class(tmp_path):
    jar = tmp_path / "x.jar"
    jar.write_bytes(b"1")
    home = session._find_spark_home()
    key = session._cds_key(str(jar), home, "8g")
    assert session._cds_key(str(jar), home, "16384m") == key
    assert session._cds_key(str(jar), home, "32g") != key  # no compressed oops
    jar.write_bytes(b"22")
    assert session._cds_key(str(jar), home, "8g") != key


def test_conf_directory_with_a_real_file_leaves_the_launch_unchanged(
    options, launch, monkeypatch
):
    seen = {}

    def get_or_create(self):
        seen["env"] = {k: os.environ.get(k) for k in session._LAUNCH_ENV}
        return dict(self._options)

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    monkeypatch.setenv("HADOOP_CONF_DIR", str(launch))
    opts = options(master="local[2]")[JOPT]
    assert _flag(opts, "ArchiveClassesAtExit")
    assert {f: _flag(opts, f) for f in TIER4} == TIER4
    # the launch alone sees the empty conf directory; the caller's
    # environment is back afterwards
    assert seen["env"] == dict.fromkeys(session._LAUNCH_ENV) | {
        "SPARK_CONF_DIR": os.path.join(session.CDS_DIR, "empty")
    }
    assert os.environ["SPARK_CONF_DIR"] == str(launch)
    assert os.environ["HADOOP_CONF_DIR"] == str(launch)
    (launch / "spark-defaults.conf").write_text("spark.x 1\n")
    opts = options(master="local[2]")[JOPT]
    assert seen["env"]["SPARK_CONF_DIR"] == str(launch)
    # no archive, but C2 still compiles later
    assert not any(_flag(opts, f) for f in ("ArchiveClassesAtExit", "SharedArchiveFile"))
    assert {f: _flag(opts, f) for f in TIER4} == TIER4


@pytest.mark.parametrize("code, published", [(0, True), (3, False)])
def test_recording_is_published_only_after_a_clean_exit(tmp_path, code, published):
    tmp, jsa = str(tmp_path / "k.1.tmp"), str(tmp_path / "k.jsa")
    with open(tmp, "wb") as f:
        f.write(b"archive")
    # like the gateway JVM: runs until stdin closes, then exits
    proc = subprocess.Popen(
        [sys.executable, "-c", f"import sys; sys.stdin.read(); sys.exit({code})"],
        stdin=subprocess.PIPE,
    )
    session._publish(proc, tmp, jsa)
    assert proc.returncode == code
    assert not os.path.exists(tmp)
    assert os.path.exists(jsa) == published


def _run_session(script: str, cwd, **env) -> subprocess.CompletedProcess:
    """Run ``script`` in a fresh interpreter in ``cwd``; only the driver
    gets the package on its path, not the JVM or its Python workers."""
    script = f"import sys\nsys.path.insert(0, {REPO!r})\n" + textwrap.dedent(script)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"} | env
    return subprocess.run(
        [sys.executable, "-c", script],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.skipif(shutil.which("java") is None, reason="needs a JDK's java")
def test_stale_archive_falls_back_silently(tmp_path):
    # a complete archive of application classes recorded on another
    # class path: Spark's launcher jar, run alone (it fails without a
    # Spark build to describe, and the JVM still dumps at exit)
    home = session._find_spark_home()
    launcher = tmp_path / "launcher.jar"
    shutil.copy(next((pathlib.Path(home) / "jars").glob("spark-launcher_*.jar")), launcher)
    cds = tmp_path / "cds"
    cds.mkdir()
    stale = cds / "stale.jsa"
    subprocess.run(
        ["java", f"-XX:ArchiveClassesAtExit={stale}", "-Xlog:cds*=off", "-cp", str(launcher),
         "org.apache.spark.launcher.Main", "org.apache.spark.deploy.SparkSubmit", "--version"],
        capture_output=True,
    )
    assert stale.stat().st_size > 0
    loads = tmp_path / "class-load.txt"
    r = _run_session(
        f"""
        from mcm_problem_f_data_wrangling_spark import session
        session.CDS_DIR = {str(cds)!r}
        session._cds_key = lambda *a: "stale"
        spark = session.get_spark(
            "stale",
            master="local[2]",
            extra_conf={{{JOPT!r}: "-Xlog:class+load=info:file={loads}"}},
        )
        spark.sparkContext.setLogLevel("ERROR")
        opts = spark.sparkContext.getConf().get({JOPT!r})
        assert "-XX:SharedArchiveFile={stale}" in opts.split(), opts
        print(spark.range(10).selectExpr("sum(id) AS s").first().s)
        """,
        tmp_path,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout == "45\n"  # the JVM printed nothing about the archive
    assert "archive" not in r.stderr.lower()
    loaded = loads.read_text()
    assert "org.apache.spark.SparkContext source: file:" in loaded
    assert "shared objects file (top)" not in loaded


def test_package_zip_is_removed_at_exit(tmp_path):
    r = _run_session(
        """
        from pyspark.sql import functions as F
        from mcm_problem_f_data_wrangling_spark.session import (
            default_parallelism, get_spark, ship_package,
        )
        spark = get_spark("zip", master="local[2]")
        ship_package(spark)
        # the UDF pickles default_parallelism by reference: the worker
        # imports the package from the shipped zip
        one = F.udf(lambda i: default_parallelism() * 0 + 1, "long")
        print(spark.range(4).select(F.sum(one("id")).alias("n")).first().n)
        # the value the launched JVM runs with: Spark's own driver
        # options carry -XX:+IgnoreUnrecognizedVMOptions, so a
        # misspelled flag would be dropped without a word
        jvm = spark._jvm
        bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
            jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
        )
        print(bean.getVMOption("Tier4InvocationThreshold").getValue())
        """,
        tmp_path,
        TMPDIR=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.splitlines()[-2:] == ["4", TIER4["Tier4InvocationThreshold"]]
    assert not list(tmp_path.glob("mcm_problem_f_data_wrangling_spark_*.zip"))
