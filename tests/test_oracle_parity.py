"""Oracle-differential tests: every registered query with an oracle must
hash-match DuckDB at sf0.01 — the same gate the driver applies.

r19 (verdict item 1 — the driver's verify outran its budget at ~94%):
the ~118 oracle comparisons and the 97-query smoke counts used to run
SERIALLY, one Spark action at a time, leaving the session idle between
job tails. They are independent queries, so a session-scoped fixture
now precomputes them once through a small thread pool (guide §2.6 —
overlap independent jobs; Spark's scheduler runs concurrent jobs in one
application). Every test still executes and asserts its own query's
result — only the wall-clock overlaps. Each worker thread runs its
query on ``spark.newSession()`` so per-session conf (the streaming
wrappers' scoped shuffle-partition/timezone swaps, the parquet loader's
nanosAsLong pin) stays thread-isolated; the shared lakehouse build memo
takes a lock (queries_lakehouse._MERGE_TABLES_LOCK)."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from tests.conftest import _INFRA_RETRY_SIGNATURES, SF_ORACLE, TEST_CPUS
from tests.oracle import compare

_POOL_THREADS = int(os.environ.get("SPARK_GRAFT_TEST_THREADS") or TEST_CPUS)


def _retry_worker_spawn(name, compute):
    """``compute() -> (ok, msg)``, re-run once when it raises the
    worker-spawn signature (the fixture memoizes its result, so
    conftest's per-test rerun could not recompute it); any other error
    becomes ``(False, msg)`` at once."""
    for attempt in (0, 1):
        try:
            return compute()
        except Exception as e:  # surfaced by the owning test
            if attempt == 0 and any(s in str(e) for s in _INFRA_RETRY_SIGNATURES):
                sys.stderr.write(
                    f"\n[parity] INFRA FLAKE (worker spawn) in {name}; rerunning once\n"
                )
                continue
            return False, f"raised {e!r}"


def _cases():
    from data_finder_comparator_spark.plans.catalog import ORACLES, QUERIES

    return [(name, QUERIES[name], ORACLES[name]) for name in sorted(ORACLES)]


def _retired_cases():
    from data_finder_comparator_spark.plans.catalog import RETIRED_ORACLES

    return sorted(RETIRED_ORACLES)


@pytest.fixture(scope="session")
def parity_results(spark):
    """name -> (ok, msg) for every registered AND retired oracle,
    computed concurrently. Retired names are prefixed 'retired:'."""
    from data_finder_comparator_spark.plans.catalog import (
        ORACLES,
        QUERIES,
        RETIRED,
        RETIRED_ORACLES,
    )

    jobs = [(n, QUERIES[n], ORACLES[n]) for n in sorted(ORACLES)]
    jobs += [
        ("retired:" + n, RETIRED[n], RETIRED_ORACLES[n])
        for n in sorted(RETIRED_ORACLES)
    ]

    def one(item):
        name, fn, sql = item
        return name, _retry_worker_spawn(
            name, lambda: compare(fn(spark.newSession(), SF_ORACLE), sql, SF_ORACLE)
        )

    with ThreadPoolExecutor(max_workers=_POOL_THREADS) as pool:
        return dict(pool.map(one, jobs))


@pytest.mark.parametrize("name", [c[0] for c in _cases()])
def test_oracle_parity(parity_results, name):
    ok, msg = parity_results[name]
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", _retired_cases())
def test_retired_oracle_parity(parity_results, name):
    """Queries retired from the driver registry (r12: the registry's
    sustainable capacity is 99 — see catalog.py) keep the exact same
    hash-vs-DuckDB gate here, every pytest run."""
    ok, msg = parity_results["retired:" + name]
    assert ok, f"{name}: {msg}"


def test_retired_names_absent_from_driver_registry():
    """Retirement is a MOVE, not a duplicate registration: a name in
    RETIRED must not also occupy a driver slot, and retirement must
    never orphan an oracle."""
    from data_finder_comparator_spark.plans.catalog import (
        QUERIES,
        RETIRED,
        RETIRED_ORACLES,
    )

    assert not set(RETIRED) & set(QUERIES)
    assert set(RETIRED_ORACLES) <= set(RETIRED)


def test_parity_retries_worker_spawn_failure_once():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("Python worker failed to connect back.")
        return True, "ok"

    assert _retry_worker_spawn("q", flaky) == (True, "ok")
    assert len(calls) == 2

    def always():
        calls.append(1)
        raise RuntimeError("Python worker failed to connect back.")

    calls.clear()
    ok, msg = _retry_worker_spawn("q", always)
    assert not ok and "connect back" in msg
    assert len(calls) == 2


def test_parity_does_not_retry_other_errors():
    calls = []

    def broken():
        calls.append(1)
        raise ValueError("wrong column")

    ok, msg = _retry_worker_spawn("q", broken)
    assert not ok and "wrong column" in msg
    assert len(calls) == 1


def test_all_queries_return_rows(spark):
    from data_finder_comparator_spark.plans.catalog import QUERIES

    def count_one(item):
        name, fn = item
        return name, fn(spark.newSession(), SF_ORACLE).count()

    with ThreadPoolExecutor(max_workers=_POOL_THREADS) as pool:
        for name, n in pool.map(count_one, list(QUERIES.items())):
            assert n >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_golden_literal_oracles_stay_exceptional_and_pinned():
    """Governance for the GOLDEN-oracle precedent (r15 verdict item 4):
    a ``SELECT * FROM (VALUES ...)`` oracle pins determinism, not
    independent correctness — DuckDB is restating literals, not
    recomputing. That is acceptable ONLY for measurements SQL cannot
    express (the ann_audit_lifecycle recall audit), so (a) at most TWO
    registered/retired oracles may be golden literals, and (b) every
    golden oracle must carry a convention-named semantic pytest pin
    (``test_<name>_driver_row``) that re-derives its constants from
    the operators — so the literal can never be the cheap path to a
    green driver row."""
    import glob

    from data_finder_comparator_spark.plans.catalog import (
        ORACLES,
        RETIRED_ORACLES,
    )

    golden = sorted(
        name
        for name, sql in {**RETIRED_ORACLES, **ORACLES}.items()
        if sql.lstrip().upper().startswith("SELECT * FROM (VALUES")
    )
    assert len(golden) <= 2, (
        f"golden literal oracles must stay exceptional (<=2), got {golden}"
    )
    test_dir = os.path.dirname(os.path.abspath(__file__))
    suite_src = "".join(
        open(f).read() for f in glob.glob(os.path.join(test_dir, "test_*.py"))
    )
    unpinned = [
        name for name in golden if f"def test_{name}_driver_row(" not in suite_src
    ]
    assert not unpinned, (
        f"golden oracles without a test_<name>_driver_row semantic pin: {unpinned}"
    )


def test_rotation_invariant_parked_queries_have_driver_rows():
    """Every parked query must have at least one green driver
    CORRECTNESS row from a previous round (parking is only for
    already-driver-verified queries), and the registry must leave
    exactly 50 queries inside the driver's verified window."""
    import glob
    import json

    from data_finder_comparator_spark.plans.catalog import (
        _PARKED_MULTI_GREEN,
        QUERIES,
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(
        glob.glob(os.path.join(root, "CORRECTNESS_r*.json")),
        key=lambda f: int("".join(ch for ch in os.path.basename(f) if ch.isdigit())),
    )
    if not files:
        return  # fresh clone without driver artifacts
    # The invariant is two-round freshness: a parked query must have a
    # driver-green row within the LAST TWO correctness files. Checking
    # only the newest file would fail by construction the moment the
    # current round's own artifact lands (parked queries are exactly
    # the ones outside that round's 50-query driver window — advisor
    # finding, round 7), so the check matches the documented invariant:
    # green in round N-1 or N, i.e. never more than one round old.
    recent_green: set[str] = set()
    for f in files[-2:]:
        recent_green |= {
            name
            for name, row in json.load(open(f)).items()
            if row.get("hash_match")
        }
    stale = [n for n in _PARKED_MULTI_GREEN if n not in recent_green]
    assert not stale, f"parked without a driver-green row in the last two rounds: {stale}"
    # A parked query that DID run in the newest round must not have
    # regressed there — an older green row never excuses a fresh red.
    latest = json.load(open(files[-1]))
    regressed = [
        n
        for n in _PARKED_MULTI_GREEN
        if n in latest and not latest[n].get("hash_match")
    ]
    assert not regressed, f"parked but red in the newest driver round: {regressed}"
    assert len(QUERIES) - len(_PARKED_MULTI_GREEN) == 50
