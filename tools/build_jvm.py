#!/usr/bin/env python
"""Rebuild the engine's local-FileSystem jar from its Java source.

``session.get_spark`` puts ``jvm/spark-graft-fs.jar`` on the driver
class path of a local master (see the ``session`` module docstring).
The jar is committed, so a checkout needs no JDK to run; this script
keeps it reproducible: ``javac --release 17`` against Spark's
``hadoop-client-api`` jar, packed with fixed zip timestamps and entry
order, so the same source and compiler give the same bytes.

Usage (from anywhere):
    python tools/build_jvm.py           # rewrite the committed jar
    python tools/build_jvm.py --check   # exit 1 if its classes differ
                                        # from a fresh build

Spark's jars are found through ``SPARK_HOME`` (or the pip-installed
pyspark's bundled jars when it is unset).
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(REPO, "mcm_problem_f_data_wrangling_spark", "jvm")
SOURCE = os.path.join(JVM_DIR, "NioLocalFileSystem.java")
JAR = os.path.join(JVM_DIR, "spark-graft-fs.jar")
MANIFEST = b"Manifest-Version: 1.0\r\nCreated-By: tools/build_jvm.py\r\n\r\n"
ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def hadoop_api_jar() -> str:
    from pyspark.find_spark_home import _find_spark_home

    found = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if len(found) != 1:
        raise SystemExit(f"want one hadoop-client-api jar under Spark's jars, found {found}")
    return found[0]


def compile_classes() -> dict[str, bytes]:
    """``{entry name: class bytes}`` of a fresh compile of SOURCE."""
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-cp", hadoop_api_jar(), "-d", out, SOURCE],
            check=True,
        )
        classes = {}
        for path in glob.glob(os.path.join(out, "**", "*.class"), recursive=True):
            with open(path, "rb") as f:
                classes[os.path.relpath(path, out).replace(os.sep, "/")] = f.read()
    return classes


def write_jar(path: str, classes: dict[str, bytes]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in [("META-INF/MANIFEST.MF", MANIFEST), *sorted(classes.items())]:
            info = zipfile.ZipInfo(name, ZIP_EPOCH)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, data)


def jar_classes(path: str) -> dict[str, bytes]:
    with zipfile.ZipFile(path) as z:
        return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--check", action="store_true",
                    help="compare the committed jar with a fresh build; write nothing")
    args = ap.parse_args()
    fresh = compile_classes()
    if not args.check:
        write_jar(JAR, fresh)
        print(f"wrote {os.path.relpath(JAR, REPO)}: {sorted(fresh)}")
        return 0
    committed = jar_classes(JAR)
    stale = sorted(n for n in committed.keys() | fresh.keys() if committed.get(n) != fresh.get(n))
    if stale:
        print(f"{os.path.relpath(JAR, REPO)} is stale against its source: {stale}; "
              "rebuild with python tools/build_jvm.py", file=sys.stderr)
        return 1
    print(f"{os.path.relpath(JAR, REPO)} matches a fresh build ({len(fresh)} classes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
