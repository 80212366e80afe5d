"""Engine lifecycle and output checks shared by the workloads.

The session comes from the program's own factory
(``streambench_spark.session.get_spark``) on ``local[4]``. The benchmark
adds settings for measurement only: no console progress bar, every file
the JVM writes inside the run's scratch directory, a fixed pre-touched
heap and a status store that keeps every job of the run. It launches
the JVM itself, before set-up is timed.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys
import time

CPUS = 4
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _java_opts(scratch: str) -> tuple[str, str]:
    """(driver, executor) JVM options."""
    java_opts = (
        "-Duser.language=en -Duser.country=US -XX:-UsePerfData "
        f"-Djava.io.tmpdir={scratch}"
    )
    # The heap is committed and touched up front, so resident memory does
    # not depend on when the collector decides to grow it.
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return f"{java_opts} -Xms{heap} -XX:+AlwaysPreTouch", java_opts


def launch(scratch: str, master: str = f"local[{CPUS}]") -> None:
    """Launch the JVM with the benchmark's flags, if it is not running.
    Untimed: the flags, and so the heap pre-touch, are the benchmark's,
    not the program's."""
    from pyspark import SparkConf, SparkContext

    driver_opts, executor_opts = _java_opts(scratch)
    SparkContext._ensure_initialized(conf=(
        SparkConf().setMaster(master)
        .set("spark.driver.memory", os.environ["SPARK_GRAFT_DRIVER_MEM"])
        .set("spark.driver.extraJavaOptions", driver_opts)
        .set("spark.executor.extraJavaOptions", executor_opts)))


def start(scratch: str, master: str = f"local[{CPUS}]"):
    from streambench_spark.session import get_spark

    driver_opts, executor_opts = _java_opts(scratch)
    spark = get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": driver_opts,
            "spark.executor.extraJavaOptions": executor_opts,
            # keep every job of a run readable by SparkCounters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    for q in spark.streams.active:
        q.stop()
    spark.stop()


def shutdown_jvm() -> None:
    """End the JVM the session launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def setup(scratch: str, warm, tracer):
    """Launch the JVM, then start the session and warm it; return
    (spark, seconds the session start and warm-up took)."""
    launch(scratch)
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = start(scratch)
    with tracer.span("session.warmup"):
        warm(spark)
    return spark, time.perf_counter() - t0


def normalize(rows, columns):
    """The oracle gate's normalisation, from scripts/oracle_check.py."""
    scripts = os.path.join(ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from oracle_check import normalize as gate_normalize

    return gate_normalize(rows, columns)


class Oracles:
    """Normalised DuckDB oracle answers over one data directory, cached
    under it: the data set is fixed, so only a checkout's first run
    computes them."""

    def __init__(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.cache = os.path.join(data_dir, "_oracles")
        self._con = None

    def _query(self, sql: str):
        if self._con is None:
            import duckdb

            from streambench_spark.schemas import TESTDATA_TABLES

            self._con = duckdb.connect()
            for t in TESTDATA_TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        res = self._con.execute(sql)
        columns = [d[0] for d in res.description]
        return sorted(columns), normalize(res.fetchall(), columns)

    def expected(self, sql: str):
        path = os.path.join(self.cache, hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        answer = self._query(sql)
        os.makedirs(self.cache, exist_ok=True)
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(answer, fh)
        os.replace(path + ".tmp", path)
        return answer

    def matches(self, columns: list[str], rows: list[tuple], sql: str) -> bool:
        want_columns, want_rows = self.expected(sql)
        return sorted(columns) == want_columns and normalize(rows, columns) == want_rows
