"""Rebuild ``fink_broker_spark/core/jvm/nio-local-fs.jar`` from its source.

Usage (needs a JDK 17 or newer on ``PATH``):

    python tools/build_jvm.py

Compiles ``fink_broker_spark/core/jvm/*.java`` with ``javac --release 17``
against the ``hadoop-client-api`` jar of the installed PySpark and writes
the class files into the jar with a fixed entry order and timestamp, so
the jar's entries depend on the source and the compiler only.
``tests/test_local_fs.py`` compiles the source again and compares.
"""

from __future__ import annotations

import glob
import os
import subprocess
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "fink_broker_spark", "core", "jvm")
JAR = os.path.join(JVM_DIR, "nio-local-fs.jar")
MANIFEST = "META-INF/MANIFEST.MF"


def hadoop_api_jar() -> str:
    import pyspark

    pattern = os.path.join(
        os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"
    )
    jars = glob.glob(pattern)
    if len(jars) != 1:
        raise SystemExit(f"expected one jar matching {pattern}, found {jars}")
    return jars[0]


def javac_version() -> str:
    """``javac -version``'s version string, e.g. ``17.0.20``."""
    proc = subprocess.run(
        ["javac", "-version"], capture_output=True, text=True, check=True
    )
    return (proc.stdout or proc.stderr).split()[-1]


def compile_classes(out_dir: str) -> dict[str, bytes]:
    """Compile the sources into *out_dir*; class files by jar entry name."""
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))
    subprocess.run(
        ["javac", "--release", "17", "-cp", hadoop_api_jar(),
         "-d", out_dir, *sources],
        check=True,
    )
    classes = {}
    for dirpath, _dirs, files in os.walk(out_dir):
        for fn in files:
            full = os.path.join(dirpath, fn)
            with open(full, "rb") as f:
                classes[os.path.relpath(full, out_dir).replace(os.sep, "/")] = f.read()
    return classes


def jar_entries(path: str = JAR) -> dict[str, bytes]:
    with zipfile.ZipFile(path) as zf:
        return {name: zf.read(name) for name in zf.namelist()}


def write_jar(classes: dict[str, bytes], path: str, javac: str) -> None:
    manifest = f"Manifest-Version: 1.0\r\nCreated-By: javac {javac}\r\n\r\n"
    entries = [(MANIFEST, manifest.encode())] + sorted(classes.items())
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in entries:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, data, compress_type=zipfile.ZIP_DEFLATED)


def main() -> None:
    with tempfile.TemporaryDirectory() as out_dir:
        classes = compile_classes(out_dir)
    write_jar(classes, JAR, javac_version())
    print(f"{JAR}: {len(classes)} classes, {os.path.getsize(JAR)} bytes")


if __name__ == "__main__":
    main()
