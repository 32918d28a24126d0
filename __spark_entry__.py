"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``data_finder_comparator_spark``; this module
is the thin registry adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_finder_comparator_spark.plans.catalog import (  # noqa: E402
    ORACLES,
    QUERIES,
    driver_names,
    release_caches,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (tiered fuzzy similarity join, SURVEY.md §2.3) on
    /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["fuzzy_join_tiers"](spark, "/root/testdata/sf0.001")


def _released(fn: Callable[[SparkSession, str], DataFrame]):
    """Sequential-caller hygiene: drop the PREVIOUS query's tracked
    caches when the next query is requested (its action has completed
    by then), so a 40+-query loop never accumulates cached blocks."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_caches()
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _released(QUERIES[name]) for name in driver_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted for genuinely
    non-SQL-expressible ops → driver falls back to rows-only check)."""
    return {name: ORACLES[name] for name in driver_names() if name in ORACLES}
