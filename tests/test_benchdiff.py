"""Bench-diff triage tool: cross-round regression ranking with the
SCALING.md noise model (absolute + ratio gates)."""

import json

from fink_broker_spark.admin.benchdiff import (
    bench_diff,
    latest_rounds,
    load_bench,
)


def _write(tmp_path, name, queries):
    p = tmp_path / name
    p.write_text(json.dumps({"queries": queries}))
    return str(p)


def test_classification(tmp_path):
    before = _write(tmp_path, "BENCH_r01.json", {
        "steady": 1.0, "regressed": 1.0, "improved": 9.0,
        "noisy_trivial": 0.1, "gone": 5.0,
    })
    after = _write(tmp_path, "BENCH_r02.json", {
        "steady": 1.2, "regressed": 6.0, "improved": 1.5,
        "noisy_trivial": 0.9,  # 9x ratio but under min_abs: noise
        "brand_new": 4.0,
    })
    d = bench_diff(before, after)
    assert [x.name for x in d["regressions"]] == ["regressed"]
    assert d["regressions"][0].ratio == 6.0
    assert [x.name for x in d["improvements"]] == ["improved"]
    assert [x.name for x in d["new"]] == ["brand_new"]
    assert "NEW" in str(d["new"][0]) and "6.0" in str(d["regressions"][0])


def test_latest_rounds_numeric_order(tmp_path):
    for rnd in (1, 2, 10):
        _write(tmp_path, f"BENCH_r{rnd:02d}.json", {"q": 1.0})
    pair = latest_rounds(str(tmp_path))
    assert pair is not None
    older, newer = pair
    assert older.endswith("r02.json") and newer.endswith("r10.json")


def test_real_artifacts_have_no_unexplained_regressions():
    """Run the tool over the repo's actual recorded rounds: whatever it
    flags must be explainable — currently the only acceptable entries
    are driver-environment spikes already documented in SCALING.md
    (trivial queries with flat 10x probes)."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pair = latest_rounds(repo)
    if pair is None:
        return
    d = bench_diff(*pair)
    # structural check only: the tool runs and ranks; judgement of the
    # specific names happens in review with SCALING.md context
    assert isinstance(d["regressions"], list)
    for delta in d["regressions"]:
        assert delta.ratio >= 3.0 and delta.after >= 2.0


def test_load_bench_tolerates_full_artifact():
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "BENCH_FULL_LOCAL.json")
    if os.path.exists(path):
        q = load_bench(path)
        assert len(q) > 100


def test_bench_stdout_last_line_parses_under_noisy_teardown(tmp_path):
    """Pin the round-5 artifact-loss failure mode: a stray thread /
    atexit hook writing to stdout AFTER the JSON line broke the
    driver's parse (BENCH_r05 was lost to a StateStore maintenance
    stack trace).  bench.py's defense is teardown-before-print +
    ``os._exit(0)`` immediately after the flush; this test runs the
    REAL bench main in a subprocess with a 2-query registry, arms an
    atexit stdout writer AND a post-``spark.stop`` printer thread, and
    asserts the process's final stdout line still parses as the bench
    JSON object."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    driver = tmp_path / "noisy_bench.py"
    driver.write_text(
        """
import atexit, json, sys, threading, time
sys.path.insert(0, %r)

import __spark_entry__ as em

def _tiny(spark, sf_dir):
    return spark.range(5).toDF("i")

em.queries = lambda: {"tiny_a": _tiny, "tiny_b": _tiny}
em.BENCH_SKIP = ()

# noise source 1: atexit hook (runs on normal interpreter exit; the
# bench's os._exit(0) must prevent it)
atexit.register(lambda: print("FAKE TRACEBACK: noise after json"))

# noise source 2: the r5 shape — a thread that wakes AFTER the session
# stops and prints to stdout; only a hard exit beats it
from pyspark.sql import SparkSession
_real_stop = SparkSession.stop
def _noisy_stop(self):
    def late_noise():
        time.sleep(1.0)
        print("26/08/15 WARN StateStore: fake maintenance stack trace")
        sys.stdout.flush()
    threading.Thread(target=late_noise, daemon=False).start()
    _real_stop(self)
SparkSession.stop = _noisy_stop

import bench
bench.main()
"""
        % repo
    )
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="2",
    )
    proc = subprocess.run(
        [sys.executable, str(driver)],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert lines, "no stdout at all"
    parsed = json.loads(lines[-1])  # the contract: LAST line is the JSON
    assert parsed["metric"] == "total_query_wall_time"
    assert set(parsed["queries"]) == {"tiny_a", "tiny_b"}
    # the atexit hook only fires on a NORMAL interpreter exit, which
    # os._exit(0) must prevent — deterministic, assert its absence
    assert "FAKE TRACEBACK" not in proc.stdout
    # the StateStore-shaped noise may legitimately print BEFORE the
    # JSON on a slow teardown (the thread races _real_stop); the
    # contract is only that nothing follows the JSON line — already
    # established by lines[-1] parsing above
