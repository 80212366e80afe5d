"""Custom stateful streaming operators via ``applyInPandasWithState``
(T5 beyond the built-in state store: arbitrary per-key state with the
GroupState API — the Spark-idiomatic home for stateful logic the built-in
windowed/dedup operators can't express).

Scale posture: state lives in the executor state store partitioned by the
grouping key (same sharding as the built-in aggregates); each micro-batch
touches only the keys present in that batch, Arrow-batched per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout


def running_counts(
    stream: DataFrame, keys: list[str], out_schema: str
) -> DataFrame:
    """Per-key cumulative row count across micro-batches.

    Emits one row per (key, batch-with-arrivals) carrying the cumulative
    total so far — the running-counter shape the reference's Flink trigger
    keeps in ValueState (YahooBenchmark.scala:80-85). The closure is
    self-contained (no module globals) so executors need no package on
    their PYTHONPATH.
    """

    def _count(key, pdfs, state):
        import pandas as _pd

        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield _pd.DataFrame([{**dict(zip([f"k{i}" for i in range(len(key))], key)),
                              "n": total}]).rename(
            columns={f"k{i}": k for i, k in enumerate(keys)}
        )

    return stream.groupBy(*keys).applyInPandasWithState(
        _count,
        outputStructType=out_schema,
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_value_stats(
    stream: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Per-key running (sum_cents, n, max_cents) over a value column —
    the multi-accumulator GroupState shape (running sum + count + max in
    one state tuple). Cents are derived JVM-side before the Arrow
    boundary (CAST(round(value*100))), so float rounding is identical to
    the batch/oracle path. Batch-aggregate semantics: n counts ALL rows
    (count(*)), sum/max skip NULL values, max over zero non-null values
    is NULL — so all-negative and NULL-bearing streams agree with the
    batch oracle. n is strictly increasing across a key's emissions, so
    the batch-boundary-insensitive final answer is max_by(col, n) per
    key (NOT max(col): a sum over negative values is non-monotonic).
    """

    def _agg(key, pdfs, state):
        import pandas as _pd

        # nn = non-null value count; mx is only meaningful when nn > 0
        # (seeding mx with 0 would beat any all-negative stream's true max)
        s, n, nn, mx = state.get if state.exists else (0, 0, 0, 0)
        for pdf in pdfs:
            c = pdf["_cents"].dropna()
            s += int(c.sum())
            n += len(pdf)
            if len(c):
                bmx = int(c.max())
                mx = bmx if nn == 0 else max(mx, bmx)
                nn += len(c)
        state.update((s, n, nn, mx))
        yield _pd.DataFrame(
            [{key_col: key[0], "sum_cents": s, "n": n,
              "max_cents": mx if nn > 0 else None}]
        )

    pre = stream.select(
        key_col,
        F.expr(f"CAST(round({value_col} * 100) AS BIGINT)").alias("_cents"),
    )
    return pre.groupBy(key_col).applyInPandasWithState(
        _agg,
        outputStructType=f"{key_col} long, sum_cents long, n long, max_cents long",
        stateStructType="sum_cents long, n long, nn long, max_cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
