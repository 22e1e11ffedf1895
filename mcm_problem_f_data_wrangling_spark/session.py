"""SparkSession factory tuned for both local testing and cluster scale.

The reference runs single-process pandas (SURVEY.md §3: no physical
layer).  Here every knob is chosen for the 100 TB north star while
remaining correct on ``local[32]``:

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion replace the reference's
  hand-applied "small dims first" ordering
  (``bls_ces/load_CES_pandas.py:136-139``).
- Arrow on: every pandas-UDF boundary (model fitting, multimodal
  decode) moves batches, not rows.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this is expected to be overridden (or left to AQE
  with a high initial partition number).
- On a local master, streaming checkpoints go through Spark's
  ``FileSystemBasedCheckpointFileManager`` instead of the FileContext
  default.  Without libhadoop, Hadoop's local FileContext forks a
  ``readlink`` process for every checkpoint-file rename — hundreds of
  short-lived processes per streaming gate.  The FileSystem manager
  renames through ``File.renameTo``, with no process.  What the
  FileContext manager adds is rename-without-overwrite, which catches
  two writers racing on one checkpoint on shared storage.  On a local
  disk ``rename(2)`` is atomic, and a session already refuses two
  active queries on one checkpoint, so the default is only changed
  when the master is local; cluster masters keep FileContext.  An
  ``extra_conf`` value still wins.
- On a local master, ``file:`` paths go through
  ``sparkgraft.fs.NioLocalFileSystem`` (``jvm/``: its Java source and
  the jar ``tools/build_jvm.py`` builds from it).  Without libhadoop,
  Hadoop's local file system sets permissions by forking ``chmod``
  for every file, ``.crc`` sidecar and directory it creates — every
  CSV export, parquet write and streaming checkpoint commit.  The
  class is Hadoop's checksummed ``LocalFileSystem`` over a raw layer
  whose ``setPermission`` makes the same ``chmod(2)`` call through
  ``java.nio``, in-process.  It falls back to the stock call when
  libhadoop is loaded (which forks nothing) and for a sticky, setuid
  or setgid bit, which ``java.nio`` cannot set.  Spark's bundled
  ``hive-exec`` registers Hive's ``ProxyLocalFileSystem`` for
  ``file:``; its one change, a ``rename`` that returns false onto an
  existing file, is kept, so only how permissions are set differs.
  The jar joins ``spark.driver.extraClassPath`` (after a caller's
  entries), which only takes effect when the JVM is launched, so
  ``spark.hadoop.fs.file.impl`` names the class only when this call
  launches the JVM or the running JVM already loads it; a caller's
  ``spark.hadoop.fs.file.impl`` still wins.  Cluster masters keep
  Hadoop's default.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "mcm_problem_f_data_wrangling_spark"
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
LOCAL_FILE_SYSTEM = "sparkgraft.fs.NioLocalFileSystem"
LOCAL_FILE_SYSTEM_JAR = os.path.join(_PKG_DIR, "jvm", "spark-graft-fs.jar")
_shipped_apps: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Python-UDF stages (``applyInPandas`` in diagnostics/forecast/
    multimodal) pickle their closures *by reference* to this module, so
    every worker must be able to ``import mcm_problem_f_data_wrangling_spark``.
    That holds implicitly when the driver's cwd is the repo root, but
    not when an external driver imports ``__spark_entry__`` from
    elsewhere — and on a real cluster the package must be shipped
    anyway.  ``addPyFile`` with a source zip is the standard deploy
    path for both cases (workers prepend SparkFiles entries to
    ``sys.path``).  Idempotent per application.
    """
    app = spark.sparkContext.applicationId
    if app in _shipped_apps:
        return
    zpath = os.path.join(
        tempfile.gettempdir(), f"mcm_problem_f_data_wrangling_spark_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(_PKG_DIR):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, os.path.dirname(_PKG_DIR)))
    spark.sparkContext.addPyFile(zpath)
    _shipped_apps.add(app)


def default_parallelism() -> int:
    """Local core budget; honors the driver's SPARK_GRAFT_CPUS."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env and env.isdigit():
        return int(env)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.session.timeZone", "UTC")
        # The external driver's gate runs a VANILLA Spark 4 session,
        # where ANSI defaults ON — so the engine's own sessions pin
        # ANSI ON to make local green imply driver green.  Every
        # coerce-to-NaN cast (bls_ces/load_CES_pandas.py:171) uses
        # try_cast and every nullable division uses try_divide, so the
        # suite is ANSI-neutral by construction.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        # no forked readlink per checkpoint rename, no forked chmod per
        # created file (module docstring)
        conf.setdefault(
            "spark.sql.streaming.checkpointFileManagerClass",
            LOCAL_CHECKPOINT_FILE_MANAGER,
        )
        cp = conf.get("spark.driver.extraClassPath")
        conf["spark.driver.extraClassPath"] = (
            f"{cp}{os.pathsep}{LOCAL_FILE_SYSTEM_JAR}" if cp else LOCAL_FILE_SYSTEM_JAR
        )
        if "spark.hadoop.fs.file.impl" not in conf and _jvm_loads(LOCAL_FILE_SYSTEM):
            conf["spark.hadoop.fs.file.impl"] = LOCAL_FILE_SYSTEM
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _jvm_loads(cls: str) -> bool:
    """Whether the driver JVM ``getOrCreate`` will run on can load
    ``cls``: true when that call launches the JVM (with the
    ``extraClassPath`` just set), else asked of the running JVM.  A
    JVM launched before this process (``spark-submit``) counts as
    unable."""
    jvm = SparkContext._jvm
    if jvm is None:
        return "PYSPARK_GATEWAY_PORT" not in os.environ
    return jvm.org.apache.spark.util.Utils.classIsLoadable(cls)
