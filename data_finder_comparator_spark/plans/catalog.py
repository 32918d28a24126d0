"""Query catalog: the one query registry behind ``__spark_entry__``,
``bench.py`` and the oracle tests.

Every implemented operator from SURVEY.md §2 (plus the large-scale
extensions) registers here as a named query with, where SQL-expressible,
a DuckDB oracle producing identical columns/values. The driver runs the
``driver_names`` subset and compares row-count + schema +
order-insensitive value-hash at sf0.01; the test suite checks every
oracle the same way.

Convention: every computed column is explicitly aliased AND cast the
same way on both sides (Spark and DuckDB) so value-hashes line up.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Caches persisted while building registered queries. A long-lived
# caller (the driver's 40+-query correctness loop, a notebook session)
# would otherwise accumulate cached blocks query after query;
# ``__spark_entry__`` releases the previous query's caches at each next
# query call, and harnesses can call ``release_caches`` directly.
CACHES: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for a later ``release_caches``."""
    df = df.persist()
    CACHES.append(df)
    return df


def release_caches() -> None:
    for df in CACHES:
        df.unpersist()
    CACHES.clear()


def query(name: str, oracle: str | None = None, driver: bool = True):
    """Register a (spark, sf_dir) -> DataFrame query, optionally with a
    DuckDB oracle SQL string. ``driver=False`` marks a variant whose
    operator other registered queries already cover: it stays in the
    registry and its oracle is hash-checked by the test suite, but
    ``driver_names`` leaves it out."""

    def deco(fn):
        fn.driver = driver
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def driver_names() -> list[str]:
    """Registered query names the driver and ``bench.py`` run, in
    registration order."""
    return [name for name, fn in QUERIES.items() if fn.driver]


# Importing the query modules populates the registry.
from . import queries_udf  # noqa: E402,F401
from . import queries_text  # noqa: E402,F401
from . import queries_fuzzy  # noqa: E402,F401
from . import queries_curation  # noqa: E402,F401
from . import queries_dedup  # noqa: E402,F401
from . import queries_similarity  # noqa: E402,F401
from . import queries_lakehouse  # noqa: E402,F401
from . import queries_relational  # noqa: E402,F401
