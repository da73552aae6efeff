"""Session factory: what it leaves on disk, its heap default, its confs."""

from __future__ import annotations

import os
import subprocess
import sys

from fink_broker_spark.core.session import default_driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
from fink_broker_spark.core.session import configure_session, get_session

spark = get_session(master="local[1]", shuffle_partitions=1)
configure_session(spark)  # ships the package zip
spark.sql("CREATE TABLE t USING parquet AS SELECT 1 AS i")
assert spark.table("t").count() == 1
spark.stop()
"""


def test_session_leaves_no_files(tmp_path):
    """The shipped package zip and the SQL warehouse land in one
    per-process temporary directory that is gone once the process
    exits: neither the temporary directory nor the cwd keeps a file."""
    tmp, cwd = tmp_path / "tmp", tmp_path / "cwd"
    tmp.mkdir()
    cwd.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert os.listdir(tmp) == []
    assert os.listdir(cwd) == []


def test_default_driver_memory_is_half_of_ram_capped():
    gib = 1 << 30
    assert default_driver_memory(15 * gib) == "7680m"
    assert default_driver_memory(64 * gib) == "32768m"
    assert default_driver_memory(256 * gib) == "32768m"


def test_session_cleans_reliable_checkpoints(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
