"""The local file system that engine-launched sessions put under Spark
(``core/jvm``): same files, bytes, checksums and modes as Hadoop's
default, without a forked ``chmod`` per file."""

from __future__ import annotations

import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

import pytest

from fink_broker_spark.core import session as fsession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUCKETS = 300

# One write of each kind Spark makes to a local lake: a partitionBy
# parquet of BUCKETS directories (FileSystem) and an AvailableNow stream
# to parquet, whose checkpoint and _spark_metadata go through FileContext.
# argv: output dir, "engine" (get_session launches the JVM) or "default"
# (a plain builder launches it, then get_session reuses the session),
# bucket count.
_SCRIPT = """
import json, os, sys
os.umask(0o022)
import pyarrow as pa, pyarrow.parquet as pq
from pyspark.sql import SparkSession, functions as F
from fink_broker_spark.core.session import LOCAL_FS_JAR, get_session

out, kind, buckets = sys.argv[1], sys.argv[2], int(sys.argv[3])
if kind == "engine":
    spark = get_session(
        master="local[2]", shuffle_partitions=2,
        extra_confs={"spark.driver.extraClassPath": "/nonexistent/caller.jar",
                     "spark.ui.enabled": "false"},
    )
else:
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
(spark.range(2 * buckets)
    .withColumn("bucket", F.format_string("%03d", F.col("id") % buckets))
    .repartition("bucket")
    .write.partitionBy("bucket").parquet(os.path.join(out, "table")))
src = os.path.join(out, "in")
os.makedirs(src)
pq.write_table(pa.table({"x": list(range(50))}), os.path.join(src, "a.parquet"))
q = (spark.readStream.schema("x long").parquet(src)
     .writeStream.format("parquet")
     .option("checkpointLocation", os.path.join(out, "ckpt"))
     .trigger(availableNow=True).start(os.path.join(out, "stream")))
q.awaitTermination()
jvm, hconf = spark._jvm, spark._jsc.hadoopConfiguration()
fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf)
res = {
    "fs": fs.getClass().getName(),
    "fc": jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(hconf)
          .getDefaultFileSystem().getClass().getName(),
    "classpath": spark.sparkContext.getConf().get("spark.driver.extraClassPath", ""),
    "jar": LOCAL_FS_JAR,
}
if kind == "engine":
    res["rows"] = [spark.read.parquet(os.path.join(out, d)).count()
                   for d in ("table", "stream")]
    # setPermission's own two paths, after the writes' calls were logged
    res["writes_logged"] = len(open(os.environ["CHMOD_LOG"]).readlines())
    for mode in ("0751", "1755"):
        d = os.path.join(out, "perm" + mode)
        os.mkdir(d)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(d),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
        res[mode] = oct(os.stat(d).st_mode & 0o7777)
    a, b = os.path.join(out, "a.txt"), os.path.join(out, "b.txt")
    for path in (a, b):
        open(path, "w").write(path)
    res["rename_onto_file"] = fs.rename(jvm.org.apache.hadoop.fs.Path(a),
                                        jvm.org.apache.hadoop.fs.Path(b))
    res["rename_kept"] = open(b).read() == b
else:
    again = get_session(master="local[2]")
    res["reused_file_impl"] = [
        again.conf.get("spark.hadoop.fs.file.impl", None),
        again.sparkContext.getConf().get("spark.hadoop.fs.file.impl"),
        again.sparkContext.getConf().get("spark.hadoop.fs.AbstractFileSystem.file.impl"),
    ]
    again.range(3).write.parquet(os.path.join(out, "reused"))
print("RESULT " + json.dumps(res))
spark.stop()
"""

_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _modes(root: str) -> dict[str, set[int]]:
    """Permission bits under each written tree, by path with UUIDs masked.

    Contents are not compared across the two JVMs: parquet-mr lists a
    column's encodings in hash-set order, which can differ between JVMs
    with different classes loaded; the engine session reads its files
    back through the checksummed file system instead."""
    out: dict[str, set[int]] = {}
    for sub in ("table", "stream", "ckpt"):
        base = os.path.join(root, sub)
        for dirpath, _dirs, filenames in os.walk(base):
            for full in [dirpath] + [os.path.join(dirpath, f) for f in filenames]:
                key = _UUID.sub("U", os.path.relpath(full, root))
                out.setdefault(key, set()).add(os.stat(full).st_mode & 0o7777)
    return out


def _launch(tmp_path, kind: str):
    out, bindir = tmp_path / kind, tmp_path / f"bin_{kind}"
    out.mkdir()
    bindir.mkdir()
    log = tmp_path / f"chmod_{kind}.log"
    log.write_text("")
    recorder = bindir / "chmod"
    recorder.write_text(
        f'#!/bin/sh\necho "$*" >> "$CHMOD_LOG"\nexec {shutil.which("chmod")} "$@"\n'
    )
    recorder.chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{bindir}{os.pathsep}{os.environ['PATH']}",
        CHMOD_LOG=str(log),
        PYTHONPATH=REPO,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.Popen(
        [sys.executable, "-c", _SCRIPT, str(out), kind, str(BUCKETS)], cwd=out, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    return proc, str(out), log


def _result(proc) -> dict:
    stdout, stderr = proc.communicate(timeout=600)
    assert proc.returncode == 0, stderr[-3000:]
    line = [ln for ln in stdout.splitlines() if ln.startswith("RESULT ")][-1]
    return json.loads(line[len("RESULT "):])


def _calls(log, start: int = 0, stop: int | None = None) -> list[str]:
    # Spark core makes its userFiles executable with `chmod a+x`; those
    # forks are not the file system's and stay
    lines = log.read_text().splitlines()[start:stop]
    return [ln for ln in lines if not ln.startswith("a+x ")]


def test_engine_session_writes_without_forking_chmod(tmp_path):
    engine = _launch(tmp_path, "engine")
    default = _launch(tmp_path, "default")
    try:
        eng, dflt = _result(engine[0]), _result(default[0])
    finally:
        for proc, _, _ in (engine, default):
            if proc.poll() is None:
                proc.kill()
                proc.wait()

    assert eng["fs"] == "fink_broker_spark.core.jvm.NioLocalFileSystem"
    assert eng["fc"] == "fink_broker_spark.core.jvm.NioLocalFs"
    # a caller's class path is extended, not replaced
    assert eng["classpath"] == "/nonexistent/caller.jar" + os.pathsep + eng["jar"]
    assert _calls(engine[2], stop=eng["writes_logged"]) == []
    # the default file system forks per directory, data file and .crc
    assert len(_calls(default[2])) > 3 * BUCKETS
    # unset, the file scheme goes to whichever LocalFileSystem the service
    # loader lists last (Hive's ProxyLocalFileSystem in the pip wheel)
    assert not dflt["fs"].startswith("fink_broker_spark")
    assert dflt["fc"] == "org.apache.hadoop.fs.local.LocalFs"

    modes = _modes(engine[1])
    assert modes == _modes(default[1])
    assert set().union(*modes.values()) == {0o644, 0o755}
    names = [os.path.basename(k) for k in modes]
    assert sum(n.endswith(".parquet") for n in names) == BUCKETS + 1
    assert sum(n.endswith(".parquet.crc") for n in names) == BUCKETS + 1
    assert "ckpt/offsets/.0.crc" in modes
    # read back with checksum verification
    assert eng["rows"] == [2 * BUCKETS, 50]

    # plain bits in-process; a sticky bit falls back to Hadoop's chmod
    assert eng["0751"] == oct(0o751)
    assert eng["1755"] == oct(0o1755)
    tail = _calls(engine[2], start=eng["writes_logged"])
    assert len(tail) == 1 and tail[0].startswith("1755 ")
    # the FileSystem contract: no rename onto an existing file
    assert eng["rename_onto_file"] is False and eng["rename_kept"]

    # a session reused from a JVM this process did not launch here
    assert dflt["reused_file_impl"] == [None, None, None]
    assert fsession.LOCAL_FS_JAR not in dflt["classpath"]


def test_local_fs_confs_only_for_a_local_jvm_launched_here():
    local = {"spark.master": "local[2]"}
    confs = fsession.local_fs_confs(local, jvm_running=False)
    assert confs["spark.driver.extraClassPath"] == fsession.LOCAL_FS_JAR
    for key, cls in fsession.LOCAL_FS_CLASSES.items():
        assert confs[key] == cls
    assert fsession.local_fs_confs(local, jvm_running=True) == {}
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]", ""):
        assert fsession.local_fs_confs(
            {"spark.master": master}, jvm_running=False
        ) == {}
    # a caller's own file-system class stays
    mine = dict(local, **{"spark.hadoop.fs.file.impl": "my.Fs"})
    assert fsession.local_fs_confs(mine, False)["spark.hadoop.fs.file.impl"] == "my.Fs"


def test_shipped_package_zip_holds_python_only(spark):
    fsession.configure_session(spark)
    zip_path = os.path.join(fsession._process_tmp(), "fink_broker_spark.zip")
    with zipfile.ZipFile(zip_path) as zf:
        names = zf.namelist()
    assert names and all(n.endswith(".py") for n in names)


def _build_tool():
    spec = importlib.util.spec_from_file_location(
        "build_jvm", os.path.join(REPO, "tools", "build_jvm.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_committed_jar_matches_its_source(tmp_path):
    if shutil.which("javac") is None:
        pytest.skip("no javac on PATH: the jar cannot be rebuilt here")
    tool = _build_tool()
    entries = tool.jar_entries()
    built_with = entries.pop(tool.MANIFEST).decode().split("javac ")[1].split()[0]
    here = tool.javac_version()
    if here.split(".")[0] != built_with.split(".")[0]:
        pytest.skip(f"javac {here} here, the jar was built by javac {built_with}")
    assert tool.compile_classes(str(tmp_path)) == entries
