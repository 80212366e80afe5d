"""The latency half of the reference suite's metric tuple (M3): the
grouped-max composition over an output capture, and the min/avg/p95/
p99/max report (YahooBenchmark.scala:63-73, SparkYahooRunner.scala:
119-145). The YSB throughput and latency trials run in
``perfbench/ysb_live``, which reports through ``latency_report``.
"""

from streambench_spark.bench.harness import latency_analysis, latency_report

__all__ = ["latency_analysis", "latency_report"]
