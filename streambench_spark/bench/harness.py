"""M3 metric assembly: the reference's latency composition and report.

``latency_analysis`` is SparkYahooRunner.scala:119-145 (grouped max →
diff → percentiles, distributed); ``latency_report`` is the
min/avg/p95/p99/max tuple of YahooBenchmark.scala:63-73 over
driver-side samples. In this Kafka-free engine the arrival clock is
taken after a micro-batch is collected (``sinks.latency_marking_sink``,
and ``perfbench/ysb_live``, which runs the YSB throughput and latency
trials and reports through ``latency_report``): the broker
LogAppendTime analog, SURVEY.md §7.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def latency_analysis(captured: DataFrame, group_keys: list[str],
                     arrival_col: str, event_col: str) -> DataFrame:
    """M3, the reference's exact composition (SparkYahooRunner.scala:
    119-145): per group take max(arrival) and max(event last-update),
    diff them, then the one-row min/avg/p95/p99/max report.

    ``captured`` is the output capture (Kafka read-back in the reference,
    any sink capture here) with an arrival-clock column and the event-time
    column, both epoch millis. Runs fully distributed: grouped max →
    projection → global aggregate; only the 1-row report reaches the
    driver."""
    from pyspark.sql import functions as F

    from streambench_spark.operators.aggregates import global_percentiles

    diffs = (
        captured.groupBy(*group_keys)
        .agg(
            F.max(arrival_col).alias("_arr"),
            F.max(event_col).alias("_ev"),
        )
        .select((F.col("_arr") - F.col("_ev")).alias("diff"))
    )
    return global_percentiles(diffs, "diff", exact=False)


def latency_report(samples_ms: list[float]) -> dict[str, float]:
    """min/avg/p95/p99/max over latency samples — the exact aggregate the
    reference computes driver-side (SparkYahooRunner.scala:139-144).
    Nearest-rank percentiles on the sorted samples (driver-side: the
    sample count is O(number of micro-batches), tiny by construction —
    the per-row work happened distributed in the sink's agg)."""
    if not samples_ms:
        return {k: 0.0 for k in ("min", "avg", "p95", "p99", "max")}
    s = sorted(samples_ms)
    n = len(s)

    def pct(p: float) -> float:
        import math

        return s[min(n - 1, max(0, math.ceil(p * n) - 1))]

    return {
        "min": float(s[0]),
        "avg": float(sum(s) / n),
        "p95": float(pct(0.95)),
        "p99": float(pct(0.99)),
        "max": float(s[-1]),
    }

