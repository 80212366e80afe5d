"""Driver contract (PySpark target).

``entry(spark)`` is a smoke check; each ``queries()[name]`` is compared
against the matching ``oracle_sql()[name]`` run in DuckDB (row count,
schema and order-insensitive values — ``tests/test_registry.py`` runs
the same check for every query at sf0.001). Both dicts list the whole
registry in registration order.

Implementation lives in ``streambench_spark/`` — this file only adapts
the registry (streambench_spark/plans/queries.py) to the contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from streambench_spark.plans import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (YSB: filter→project→broadcast join→windowed
    count+max) on /root/testdata/sf0.001; driver checks rows>0."""
    return Q.REGISTRY["ysb"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents, same column names."""
    return Q.oracles()
