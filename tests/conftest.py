from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# Known HOST-INFRA failure signatures, retried ONCE per test (r19,
# verdict item 1 hardening). "Python worker failed to connect back" is
# the sandbox's page-cache-pressure worker-spawn failure (root-caused
# by the r18 DSv2 probe, bench_history/dsv2_regime_probe_r18.*): a
# fresh Python worker fork stalls past the JVM's accept timeout under
# memory pressure. It struck twice in r19 profiling runs on
# byte-identical code that passes alone, and a single strike fails the
# driver's `-x` verify. The retry is deliberately NARROW — only this
# exact environmental signature, never assertion failures — and every
# retried test still executes fully and must genuinely pass; the rerun
# is logged loudly so flake frequency stays visible.
_INFRA_RETRY_SIGNATURES = ("Python worker failed to connect back",)


def pytest_runtest_protocol(item, nextitem):
    from _pytest.runner import runtestprotocol

    item.ihook.pytest_runtest_logstart(nodeid=item.nodeid, location=item.location)
    reports = runtestprotocol(item, nextitem=nextitem, log=False)
    if any(
        r.failed
        and any(s in str(getattr(r, "longrepr", "")) for s in _INFRA_RETRY_SIGNATURES)
        for r in reports
    ):
        sys.stderr.write(
            f"\n[conftest] INFRA FLAKE (worker spawn) in {item.nodeid}; "
            f"rerunning once\n"
        )
        reports = runtestprotocol(item, nextitem=nextitem, log=False)
    for r in reports:
        item.ihook.pytest_runtest_logreport(report=r)
    item.ihook.pytest_runtest_logfinish(nodeid=item.nodeid, location=item.location)
    return True


def _host_cpus() -> int:
    return len(os.sched_getaffinity(0))


# Test-session size: SPARK_GRAFT_CPUS cores (default 8, the session
# shape the suite was written against), never more than the host has;
# the oracle-parity pool uses the same count.
TEST_CPUS = min(int(os.environ.get("SPARK_GRAFT_CPUS") or 8), _host_cpus())


def _driver_mem() -> str:
    """SPARK_GRAFT_DRIVER_MEM, else a quarter of physical memory within
    [2g, 16g]: the package's 48g default lets the heap grow past a
    small host's RAM, and the kernel then kills the test JVM."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(2048, min(16384, phys_mb // 4))}m"


def _jobs_launched(spark, call) -> int:
    """Spark jobs launched while ``call()`` runs, by job-id range in the
    status store (streaming epochs run under the query's own job group,
    so a count by group would miss them)."""
    sc = spark.sparkContext._jsc.sc()

    def last_job() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return max(jobs.apply(i).jobId() for i in range(jobs.size())) if jobs.size() else -1

    first = last_job()
    call()
    return last_job() - first


@pytest.fixture(scope="session")
def spark():
    from data_finder_comparator_spark.session import get_spark

    spark = get_spark(
        app_name="tests",
        cpus=TEST_CPUS,
        shuffle_partitions=TEST_CPUS,
        extra_conf={"spark.driver.memory": _driver_mem()},
    )
    yield spark
    spark.stop()
