"""M5: the benchmark parameter registry.

The reference keeps a string→string param map consulted by every runner
(ysb/benchmark/yahoo/Benchmark.scala:12-17 `initializeYahooBenchmark`,
YahooBenchmarkRunner.scala:21-38). Typed dataclass here; ``from_env`` maps
the same SPARK_GRAFT_* environment surface the driver uses, and ``to_map``
round-trips to the reference's string-map shape for logging.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, fields
import os


@dataclass
class BenchParams:
    # trial loop (M4)
    trials: int = 3
    warmup_trials: int = 1
    # generation (S1): reference defaults — 100 campaigns × 10 ads,
    # YahooBenchmark.scala:40-43; rate + ramp YahooBenchmarkRunner.scala:84-90
    num_campaigns: int = 100
    ads_per_campaign: int = 10
    rows_per_second: int = 100_000
    ramp_up_seconds: int = 0
    num_partitions: int = 8
    # query (A1/W1): reference window is 10 s (SparkYahooRunner.scala:75)
    window: str = "10 seconds"
    watermark: str | None = "1 second"
    # policy knob (T4)
    trigger_interval_ms: int | None = None  # ≙ flinkTriggerIntervalMillis
    # trial duration for unbounded sources
    duration_s: int = 20

    def to_map(self) -> dict[str, str]:
        return {k: str(v) for k, v in asdict(self).items()}

    @classmethod
    def from_env(cls, **overrides) -> "BenchParams":
        """Read SPARK_GRAFT_BENCH_<FIELD> overrides from the environment."""
        kwargs = dict(overrides)
        for f in fields(cls):
            env = os.environ.get(f"SPARK_GRAFT_BENCH_{f.name.upper()}")
            if env is None or f.name in kwargs:
                continue
            if env == "":
                # set-but-empty (common in CI templates) = unset: int('')
                # would raise, and '' is never a valid window/watermark
                continue
            if env.lower() == "none" and "None" in str(f.type):
                kwargs[f.name] = None
            elif f.type in ("int", "int | None"):
                kwargs[f.name] = int(env)
            else:
                kwargs[f.name] = env
        return cls(**kwargs)
