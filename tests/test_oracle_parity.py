"""Oracle-differential tests: every registered query with an oracle,
driven or not, must hash-match DuckDB at sf0.01 — the same gate the
driver applies.

The oracle comparisons are independent queries, so a session-scoped
fixture precomputes them once through a small thread pool (Spark's
scheduler runs concurrent jobs in one application). Every test still
asserts its own query's result — only the wall-clock overlaps. Each
worker thread runs its query on ``spark.newSession()`` so per-session
conf (the streaming wrappers' scoped shuffle-partition/timezone swaps,
the parquet loader's nanosAsLong pin) stays thread-isolated; the shared
lakehouse build memo takes a lock
(queries_lakehouse._MERGE_TABLES_LOCK)."""

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


def _oracle_names():
    from data_finder_comparator_spark.plans.catalog import ORACLES

    return sorted(ORACLES)


@pytest.fixture(scope="session")
def parity_results(spark):
    """name -> (ok, msg) for every registered oracle, driver or not,
    computed concurrently."""
    from data_finder_comparator_spark.plans.catalog import ORACLES, QUERIES

    jobs = [(n, QUERIES[n], ORACLES[n]) for n in _oracle_names()]

    def one(item):
        name, fn, sql = item
        return name, _retry_worker_spawn(
            name, lambda: compare(fn(spark.newSession(), SF_ORACLE), sql, SF_ORACLE)
        )

    with ThreadPoolExecutor(max_workers=_POOL_THREADS) as pool:
        return dict(pool.map(one, jobs))


@pytest.mark.parametrize("name", _oracle_names())
def test_oracle_parity(parity_results, name):
    ok, msg = parity_results[name]
    assert ok, f"{name}: {msg}"


def test_registry_consistency():
    """One registry: no oracle without its query, 118 queries of which
    97 are driven, and the driver contract exposes exactly the driven
    names (with oracles only for those)."""
    import __spark_entry__ as e
    from data_finder_comparator_spark.plans.catalog import (
        ORACLES,
        QUERIES,
        driver_names,
    )

    assert set(ORACLES) <= set(QUERIES)
    assert len(QUERIES) == 118
    assert len(driver_names()) == 97
    assert list(e.queries()) == driver_names()
    assert set(e.oracle_sql()) <= set(driver_names())


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
    """Smoke-run the queries without an oracle; ``test_oracle_parity``
    already runs every oracled one on the same data."""
    from data_finder_comparator_spark.plans.catalog import ORACLES, QUERIES

    unoracled = [n for n in QUERIES if n not in ORACLES]
    assert unoracled
    for name in unoracled:
        assert QUERIES[name](spark, SF_ORACLE).count() >= 0, name


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
    registered oracles may be golden literals, and (b) every
    golden oracle must carry a convention-named semantic pytest pin
    (``test_<name>_driver_row``) that re-derives its constants from
    the operators — so the literal can never be the cheap path to a
    green driver row."""
    import glob

    from data_finder_comparator_spark.plans.catalog import ORACLES

    golden = sorted(
        name
        for name, sql in ORACLES.items()
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
