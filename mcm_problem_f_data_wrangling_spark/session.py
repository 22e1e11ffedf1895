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
- On a local master, a call that launches the driver JVM runs it on a
  JDK dynamic class-data-sharing (AppCDS) archive in ``.cds/`` at the
  checkout root.  Starting a Spark driver loads and JIT-compiles some
  ten thousand classes; mapping them parsed and verified from the
  archive cuts session start-up by about a third.  The archive is
  keyed by the JDK, the launch class path (paths, sizes, mtimes) and
  whether the driver heap is below 32 GB (compressed oops).  When the
  key has no archive yet, the JVM records one with
  ``-XX:ArchiveClassesAtExit`` into ``<key>.<pid>.tmp``, so it holds
  every class the whole session loaded; at interpreter exit this
  module closes the gateway's stdin, waits for the JVM, and renames
  the file to ``<key>.jsa`` only if the JVM exited 0, else deletes
  it.  Publishing is atomic because a JDK 17 JVM that maps a
  truncated archive under ``-Xshare:auto`` dies of SIGBUS; with a
  complete archive whose class path no longer matches it falls back
  silently.  CDS refuses a non-empty directory on the class path,
  and the launcher puts ``$SPARK_CONF_DIR`` there, so the launch
  alone points it at an empty directory, and drops
  ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` and ``SPARK_DIST_CLASSPATH``
  -- only when each holds nothing but ``*.template`` files; otherwise,
  and for a caller's own CDS flags, a read-only checkout, a cluster
  master or a JVM launched elsewhere, the launch maps no archive.
- On a local master, a call that launches the driver JVM also makes
  C2 compile later, archive or not: ``LATE_C2`` sets
  ``-XX:Tier4InvocationThreshold=40000``,
  ``Tier4MinInvocationThreshold=4800``, ``Tier4CompileThreshold=120000``
  and ``Tier4BackEdgeThreshold=320000``, 8x JDK 17's defaults
  (5000/600/15000/40000).  Even on the archive, JIT compiler threads
  took some 60% of a short session's first-pass CPU, much of it C2
  compiling start-up and one-off code that never pays the compile
  back; code that stays hot still reaches C2.  C1 only
  (``-XX:TieredStopAtLevel=1``) halved that CPU too, but made the
  warm ``bench.py`` suite 57-71% slower, so C2 stays.  Why 8x
  (perfbench, 4 cores, order-alternated pairs, medians): 8x cut
  ``ces_pipeline``'s cold-pass CPU by 27% and set-up CPU by 37% for
  +3% warm CPU (``stream_replay``: -24%, -27%, +10%); 4x cut the
  cold pass by only 18%; 16x by 36%, but warm CPU rose 11-14%.  The
  price is paid by code timed soon after start-up: ``bench.py``'s
  sf0.1 suite, which warms each query twice, read +8.5% (median of
  four runs, inside the default's run-to-run range).  The flags go
  before the caller's ``spark.driver.extraJavaOptions``:
  HotSpot takes a flag's last occurrence, so a caller's own value
  wins.  Cluster masters, executors and a JVM launched elsewhere are
  untouched.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "mcm_problem_f_data_wrangling_spark"
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
LOCAL_FILE_SYSTEM = "sparkgraft.fs.NioLocalFileSystem"
LOCAL_FILE_SYSTEM_JAR = os.path.join(_PKG_DIR, "jvm", "spark-graft-fs.jar")
CDS_DIR = os.path.join(os.path.dirname(_PKG_DIR), ".cds")
# C2 compiles 8x later than JDK 17's defaults (module docstring)
LATE_C2 = (
    "-XX:Tier4InvocationThreshold=40000 -XX:Tier4MinInvocationThreshold=4800 "
    "-XX:Tier4CompileThreshold=120000 -XX:Tier4BackEdgeThreshold=320000"
)
# the class-path entries the launcher takes from the environment
_LAUNCH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_shipped_apps: set[str] = set()
# what the exit hook finishes: package zips to delete, and the JVM
# recording an archive with the ``.tmp`` it writes
_shipped_zips: set[str] = set()
_recording: list[tuple[subprocess.Popen, str, str]] = []


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
    ``sys.path``).  Idempotent per application.  The zip is deleted at
    interpreter exit: the driver serves it to executors from this path
    for as long as the SparkContext runs.
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
    _shipped_zips.add(zpath)


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
    memory = os.environ.get("SPARK_DRIVER_MEM", "8g")
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
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    cds = None
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
        if _launches_jvm():
            # before the caller's options: HotSpot takes a flag's last value
            opts = conf.get("spark.driver.extraJavaOptions")
            conf["spark.driver.extraJavaOptions"] = f"{LATE_C2} {opts}" if opts else LATE_C2
            cds = _cds_launch(conf, conf.get("spark.driver.memory", memory))
    for k, v in conf.items():
        builder = builder.config(k, v)
    if cds is None:
        return builder.getOrCreate()
    env, archive = cds
    saved = {k: os.environ.get(k) for k in env}
    try:
        _set_environ(env)
        spark = builder.getOrCreate()
    finally:
        _set_environ(saved)
    proc = getattr(SparkContext._gateway, "proc", None)
    if archive is not None and SparkContext._jvm is not None and proc is not None:
        _recording.append((proc, *archive))
    return spark


def _launches_jvm() -> bool:
    """Whether ``getOrCreate`` launches the driver JVM: none runs yet,
    and none was launched before this process (``spark-submit``)."""
    return SparkContext._jvm is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def _jvm_loads(cls: str) -> bool:
    """Whether the driver JVM ``getOrCreate`` will run on can load
    ``cls``: true when that call launches the JVM (with the
    ``extraClassPath`` just set), else asked of the running JVM.  A
    JVM launched before this process (``spark-submit``) counts as
    unable."""
    if _launches_jvm():
        return True
    jvm = SparkContext._jvm
    return jvm is not None and jvm.org.apache.spark.util.Utils.classIsLoadable(cls)


def _cds_launch(
    conf: dict[str, str], memory: str
) -> tuple[dict[str, str | None], tuple[str, str] | None] | None:
    """Put a local launch on the AppCDS archive (module docstring): add
    the JVM flags to ``conf`` and return the launch environment and,
    when the JVM records, its ``.tmp`` and the archive to publish it
    as; None, with ``conf`` untouched, for an unchanged launch."""
    opts = conf.get("spark.driver.extraJavaOptions", "")
    if re.search(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit", opts):
        return None
    spark_home = _find_spark_home()
    entries = [
        os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf"),
        os.environ.get("HADOOP_CONF_DIR", ""),
        os.environ.get("YARN_CONF_DIR", ""),
        *os.environ.get("SPARK_DIST_CLASSPATH", "").split(os.pathsep),
    ]
    if not all(_adds_no_class(e) for e in entries if e):
        return None
    empty = os.path.join(CDS_DIR, "empty")
    try:
        os.makedirs(empty, exist_ok=True)
        key = _cds_key(conf.get("spark.driver.extraClassPath", ""), spark_home, memory)
    except OSError:
        return None
    if key is None or not os.access(CDS_DIR, os.W_OK):
        return None
    env = dict.fromkeys(_LAUNCH_ENV, None) | {"SPARK_CONF_DIR": empty}
    jsa = os.path.join(CDS_DIR, f"{key}.jsa")
    if os.path.exists(jsa):
        flags, archive = f"-XX:SharedArchiveFile={jsa} -Xshare:auto", None
    elif _recording:  # this process's earlier JVM holds the recording
        return None
    else:
        _remove_orphan_recordings()
        tmp = os.path.join(CDS_DIR, f"{key}.{os.getpid()}.tmp")
        flags, archive = f"-XX:ArchiveClassesAtExit={tmp}", (tmp, jsa)
    conf["spark.driver.extraJavaOptions"] = f"{opts} {flags} -Xlog:cds*=off".lstrip()
    return env, archive


def _adds_no_class(entry: str) -> bool:
    """Whether a launcher class-path entry is missing or a directory of
    ``*.template`` files only (a ``dir/*`` entry stands for its jars)."""
    path = entry.rstrip("*")
    if not os.path.exists(path):
        return True
    return os.path.isdir(path) and all(n.endswith(".template") for n in os.listdir(path))


def _cds_key(extra_class_path: str, spark_home: str, memory: str) -> str | None:
    """A digest of the JDK, the launch class path and the heap's
    compressed-oops class; None without a ``java`` to launch."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java:
        return None
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    jars = os.path.join(spark_home, "jars")
    paths = [
        java,
        os.path.join(jdk, "lib", "modules"),
        os.path.join(jdk, "lib", "server", "libjvm.so"),
        *extra_class_path.split(os.pathsep),
        *(os.path.join(jars, n) for n in sorted(os.listdir(jars))),
    ]
    stamps = []
    for p in paths:
        try:
            st = os.stat(p)
            stamps.append((p, st.st_size, st.st_mtime_ns))
        except OSError:
            stamps.append((p,))
    return hashlib.sha256(repr((stamps, _heap_class(memory))).encode()).hexdigest()[:16]


def _heap_class(memory: str) -> str:
    """``coops`` for a heap below 32 GB, where the JVM compresses object
    pointers and so maps a different base archive, else ``wide``."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", memory.strip().lower())
    if m is None:
        return memory
    # a bare number is MiB, as Spark reads spark.driver.memory
    mib = int(m[1]) * {"k": 1 / 1024, "": 1, "m": 1, "g": 1024, "t": 1024**2}[m[2]]
    return "coops" if mib < 32 * 1024 else "wide"


def _set_environ(env: dict[str, str | None]) -> None:
    for k, v in env.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


def _remove_orphan_recordings() -> None:
    """Delete ``<key>.<pid>.tmp`` files whose process is gone (killed
    before its exit hook ran)."""
    for name in os.listdir(CDS_DIR):
        parts = name.split(".")
        if len(parts) == 3 and parts[2] == "tmp" and parts[1].isdigit():
            try:
                os.kill(int(parts[1]), 0)
            except ProcessLookupError:
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(CDS_DIR, name))
            except OSError:
                pass


def _publish(proc: subprocess.Popen, tmp: str, jsa: str) -> None:
    """End the recording JVM (it exits on stdin EOF, dumping the archive
    on the way) and publish its archive only after a clean exit."""
    if proc.poll() is None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        with contextlib.suppress(subprocess.TimeoutExpired):
            proc.wait(120)
    if proc.returncode == 0 and os.path.exists(tmp):
        os.replace(tmp, jsa)
    else:
        with contextlib.suppress(OSError):
            os.remove(tmp)


@atexit.register
def _at_exit() -> None:
    for proc, tmp, jsa in _recording:
        _publish(proc, tmp, jsa)
    for z in _shipped_zips:
        with contextlib.suppress(OSError):
            os.remove(z)
