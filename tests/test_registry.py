"""Every registered query with an oracle must match DuckDB on sf0.001 —
this mirrors the driver's CORRECTNESS gate (row count + columns + values).
"""

from __future__ import annotations

import pytest

from streambench_spark.plans.queries import REGISTRY
from tests.conftest import SF_DIR, assert_matches_oracle

ORACLE_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_DIR)
    assert_matches_oracle(df, duck, q.oracle)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    # the contract lists the whole registry, in registration order
    assert list(e.queries()) == list(REGISTRY)
    assert list(e.oracle_sql()) == [n for n in REGISTRY if REGISTRY[n].oracle]


def test_every_query_function_is_registered():
    """Every top-level q_* function in the plan modules must be in the
    REGISTRY — guards against an edit dropping a @register decorator
    (this happened to lang_id in round 2)."""
    import inspect

    from streambench_spark.plans import (
        analytics_queries, llm_queries, queries, tpch_queries, ysb,
    )

    registered = {q.fn for q in REGISTRY.values()}
    for mod in (analytics_queries, llm_queries, queries, tpch_queries, ysb):
        for name, fn in vars(mod).items():
            if name.startswith("q_") and inspect.isfunction(fn):
                assert fn in registered, f"{mod.__name__}.{name} not registered"

