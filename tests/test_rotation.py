"""Rotation ledger: the driver-sampling order is DERIVED from the
recorded CORRECTNESS_r*.json artifacts (VERDICT r3 item 7), so it can
never go stale by hand.  Pin the tier semantics and the live wiring."""

import json
import os

import pytest

from fink_broker_spark.admin.rotation import driver_priority, read_ledger

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(tmp_path, rnd, rows):
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
         "spark_rows": 5, "oracle_rows": 5, "err": None}
ROWS_ONLY = {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": 5, "oracle_rows": None, "err": "no_oracle"}
CRASH = {"rows_match": None, "schema_match": None, "hash_match": None,
         "spark_rows": None, "oracle_rows": None, "err": "TypeError: boom"}
MISMATCH = {"rows_match": True, "schema_match": True, "hash_match": False,
            "spark_rows": 5, "oracle_rows": 5, "err": None}


def test_tier_order(tmp_path):
    _write(tmp_path, 1, {"a": GREEN, "b": GREEN, "crash": CRASH})
    _write(tmp_path, 2, {"b": GREEN, "wrong": MISMATCH, "ro": ROWS_ONLY})
    names = ["a", "b", "crash", "wrong", "ro", "never1", "never2"]
    got = driver_priority(names, str(tmp_path))
    # failures first (registration order), then never-checked, then
    # green stalest-first (a: r1, ro: r2, b: r2; ties by registration)
    assert got == ["crash", "wrong", "never1", "never2", "a", "b", "ro"]


def test_later_green_clears_failure(tmp_path):
    _write(tmp_path, 1, {"a": CRASH})
    _write(tmp_path, 2, {"a": GREEN, "b": GREEN})
    _, failed = read_ledger(str(tmp_path))
    assert failed == set()
    assert driver_priority(["a", "b", "c"], str(tmp_path)) == ["c", "a", "b"]


def test_rows_only_counts_as_checked(tmp_path):
    _write(tmp_path, 1, {"ro": ROWS_ONLY})
    last, failed = read_ledger(str(tmp_path))
    assert last == {"ro": 1} and failed == set()


def test_rows_only_crash_is_failure(tmp_path):
    # the embedding_pca r03 shape: err=no_oracle would be fine, but an
    # actual canonicalizer crash records a traceback in err
    _write(tmp_path, 1, {"pca": CRASH})
    last, failed = read_ledger(str(tmp_path))
    assert failed == {"pca"} and "pca" not in last


def test_rounds_ordered_numerically_not_lexicographically(tmp_path):
    """r10 must process AFTER r4/r5 even though it sorts before them as
    a filename — otherwise a stale green clears a newer failure."""
    _write(tmp_path, 4, {"q": CRASH})
    _write(tmp_path, 5, {"q": GREEN})
    _write(tmp_path, 10, {"q": CRASH})
    last, failed = read_ledger(str(tmp_path))
    assert failed == {"q"}  # the r10 failure is the most recent signal
    assert last == {"q": 5}


def test_pinned_tier_ignores_ledger_state(tmp_path):
    """Probes are DESIGNED to go red (that's the telemetry): a recorded
    probe failure or green must never reorder the pinned tier away from
    registration order — the r6 review caught that the ledger's
    last_green secondary key would have reshuffled it."""
    _write(
        tmp_path, 6,
        {"p2": MISMATCH, "p3": GREEN, "q": GREEN},
    )
    got = driver_priority(
        ["p1", "p2", "p3", "q", "r"], str(tmp_path), pinned=["p1", "p2", "p3"]
    )
    assert got == ["p1", "p2", "p3", "r", "q"]


def test_missing_dir_harmless(tmp_path):
    assert driver_priority(["x", "y"], str(tmp_path / "nope")) == ["x", "y"]


def test_never_checked_orders_by_registration_round(tmp_path):
    """VERDICT r7 What's-wrong #1: tier-1 used to sort by dict
    position, so 16 brand-new queries inserted mid-literal jumped a
    2-round-old backlog.  With the add-round ledger, an old survivor
    beats a newer addition regardless of dict position, and a name
    MISSING from the ledger (unsynced) sorts dead last in the tier."""
    _write(tmp_path, 1, {"green": GREEN})
    add = {"new_r8": 8, "old_r5": 5, "mid_r7": 7, "green": 1}
    got = driver_priority(
        ["new_r8", "unsynced", "old_r5", "green", "mid_r7"],
        str(tmp_path),
        add_rounds=add,
    )
    assert got == ["old_r5", "mid_r7", "new_r8", "unsynced", "green"]


def test_registry_ledger_covers_live_registry():
    """Every registered query must carry a first-registration round in
    the persistent ledger — adding a query without syncing the ledger
    is the exact failure mode that let r7's additions jump the queue
    (they'd now sort last, but the ledger must still be kept honest)."""
    import __spark_entry__  # noqa: F401  (registers every query)
    from fink_broker_spark.admin.rotation import load_add_rounds
    from fink_broker_spark.queries.registry import QUERIES

    ledger = load_add_rounds()
    missing = set(QUERIES) - set(ledger)
    assert not missing, (
        f"sync registry_rounds.json (admin.rotation.sync_add_rounds): {missing}"
    )
    # and the ledger never claims a round newer than the artifacts show:
    # a name first seen in CORRECTNESS_rN must have add_round <= N
    last, _ = read_ledger(REPO)
    late = {n for n, r in last.items() if n in ledger and ledger[n] > r}
    assert not late, f"ledger claims later registration than first green: {late}"


def test_sync_add_rounds_first_registration_wins(tmp_path):
    from fink_broker_spark.admin.rotation import load_add_rounds, sync_add_rounds

    path = str(tmp_path / "ledger.json")
    sync_add_rounds(["a", "b"], 7, path)
    sync_add_rounds(["b", "c"], 8, path)  # b must keep round 7
    assert load_add_rounds(path) == {"a": 7, "b": 7, "c": 8}


def test_live_wiring():
    """queries() order == ledger order over the real artifacts, and
    every query that appears in NO recorded CORRECTNESS artifact —
    computed here by parsing the JSON files directly, independent of
    read_ledger, so a ledger bug cannot satisfy its own test — sits
    inside the driver's 50-row sample window (or, if there are more
    never-checked queries than the window holds, fills it entirely)."""
    import glob
    import json

    import __spark_entry__ as entry
    from fink_broker_spark.queries import probes
    from fink_broker_spark.queries.registry import QUERIES

    names = list(entry.queries().keys())
    pinned = [
        n for n, fn in QUERIES.items() if fn.__module__ == probes.__name__
    ]

    expect = driver_priority(QUERIES.keys(), REPO, pinned=pinned)
    assert names == expect
    # the fingerprint-probe tier leads the rotation unconditionally
    assert names[: len(pinned)] == list(pinned)

    ever_checked: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            ever_checked.update(json.load(fh).keys())
    never = [n for n in QUERIES if n not in ever_checked]
    window = set(names[:50])
    # urgent = artifact-failed first, then never-checked; the window
    # holds BOTH tiers, so the fit test must count their union.  The
    # pinned probe tier is EXEMPT on both sides of the comparison: probes
    # occupy their head slots by design even once green (their row counts
    # are standing telemetry), and the r6 round proved the old invariant
    # breaks the moment a driver artifact lands after commit — a green
    # probe is pinned, not urgent (VERDICT r6, What's wrong #1).
    # intersect with the REGISTERED names: a retired query (e.g. the
    # r7-retired hugeint canary) can leave a permanent failed row in
    # the ledger that no window could ever contain
    urgent = (
        (set(never) | set(read_ledger(REPO)[1])) & set(QUERIES)
    ) - set(pinned)
    free = [n for n in names[:50] if n not in pinned]
    if len(urgent) <= len(free):
        missing = urgent - window
        assert not missing, f"outside 50-row driver window: {missing}"
    else:
        # more urgent work than the non-pinned window holds: every
        # non-pinned slot must go to an urgent query
        assert all(n in urgent for n in free)
    # the pinned tier must stay small — sample slots are the scarcest
    # resource in the whole verification loop (VERDICT r6 #1: the
    # 10-probe tier taxed the drain 20% per round).  Budget: the two
    # standing sentinels + at most ONE active canary (the r9
    # probe_type_decimal38 canary answered in CORRECTNESS_r9 and
    # retired in r10, exactly as probe_type_hugeint retired after r6)
    assert len(pinned) <= 3
