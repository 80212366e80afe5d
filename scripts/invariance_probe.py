"""Partition-invariance audit: every registry query, same data, two
physical layouts — are the RESULTS bit-identical under the driver's
9dp hash gate? Five variant axes as of r13: partition layout, Arrow
batch size, codegen off, auto-broadcast off (join-strategy), and
vectorized readers off (scan-path).

    python scripts/invariance_probe.py [sf_dir] [query ...]   # default sf0.01

Why this matters at 100 TB: on a real cluster the physical partitioning
of every stage is NOT a constant — AQE re-plans post-shuffle partition
counts at runtime, input splits follow file layout, and executor counts
drift under dynamic allocation. Any query whose OUTPUT depends on the
partitioning (float sums accumulated in a partition-dependent order
drifting past the 9dp gate, top-k selections breaking ties by arrival
order, window functions over under-specified orderings) is a latent
flake: green today, red after an innocuous re-plan. The engine's stated
posture (integer-cents / decimal ledgers for money, hash-derived draws
for sampling, total orderings under every row_number) claims this class
is designed out — this probe MEASURES the claim across the whole
registry instead of trusting it.

Method: one bare-shaped session (local[N] at the host's core count,
UI off — the oracle_check shape); each query is collected once per layout:

  pass A: session defaults (AQE on, 200 shuffle partitions, 128m splits)
  variant "partition": spark.sql.shuffle.partitions=7,
          files.maxPartitionBytes=1m, adaptive.enabled=false — fewer
          reducers, MANY more scan splits, no runtime coalescing:
          maximally different partition boundaries and therefore
          maximally different floating-point accumulation orders and
          tie-arrival orders.
  variant "arrow": spark.sql.execution.arrow.maxRecordsPerBatch=100
          (default 10000) — every mapInPandas/applyInPandas/pandas_udf
          receives 100× more, 100× smaller Arrow batches. An output
          that shifts is Python-side logic accidentally computed per
          BATCH instead of per group/partition contract — invisible to
          the oracle gate at one batch size, wrong at any other (and
          batch sizing is exactly what changes on a differently-tuned
          cluster).

All results are normalized exactly like the driver gate (columns
sorted by name, rows sorted, floats rounded to 9dp) and hashed; any
variant-vs-A hash mismatch is a layout-dependent result — a real
defect under this repo's determinism contract, reported with the first
differing normalized row for diagnosis.

Prints one JSON object; exit 1 iff any query mismatches (or errors).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from scripts.oracle_check import normalize  # noqa: E402  (driver-identical)

_VARIANTS = {
    "partition": {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.files.maxPartitionBytes": "1m",
        "spark.sql.adaptive.enabled": "false",
    },
    "arrow": {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "100",
    },
    # r12 axis: interpreted expression path. A real cluster hits this
    # WITHOUT any conf change — whole-stage codegen silently falls back
    # to interpreted evaluation when a generated method exceeds the JVM
    # 64KB/8KB-JIT limits (common on wide aggregates), so any query
    # whose result differs between the generated-Java and interpreted
    # evaluators is a latent flake that appears only on wide plans.
    # NO_CODEGEN additionally forces the expression-factory interpreted
    # mode so both tiers of codegen are exercised off.
    "codegen": {
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    },
    # r13 axis: join-strategy invariance. At 100 TB the planner's
    # broadcast decisions flip with dim size, AQE runtime stats, and
    # executor memory — the SAME query runs as broadcast-hash on one
    # day and sort-merge the next. Disabling auto-broadcast forces the
    # sort-merge/shuffled-hash path everywhere the engine did not pin
    # an explicit broadcast() hint (hints override the threshold, so
    # the hinted dims are exercised as written); any result drift is a
    # join-order/tie dependency the strategy switch would surface in
    # production re-plans.
    "joins": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    },
    # r13 axis: scan-path invariance. The vectorized columnar readers
    # silently fall back to the row-based path on schema corners
    # (nested types, some decimals, schema evolution) — per FILE, so a
    # mixed dataset reads through BOTH decoders in one query. Forcing
    # the row path end-to-end pins that results don't depend on which
    # decoder produced the rows.
    "scan": {
        "spark.sql.parquet.enableVectorizedReader": "false",
        "spark.sql.orc.enableVectorizedReader": "false",
    },
}


class _conf:
    """Scoped conf set/restore — pass B must not leak into pass A of the
    next query."""

    def __init__(self, spark, kv):
        self.spark = spark
        self.kv = kv
        self.prev: dict[str, str | None] = {}

    def __enter__(self):
        for k, v in self.kv.items():
            try:
                self.prev[k] = self.spark.conf.get(k)
            except Exception:
                self.prev[k] = None
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, prev in self.prev.items():
            if prev is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, prev)


def _collect_normalized(fn, spark, sf_dir):
    df = fn(spark, sf_dir)
    return normalize([tuple(r) for r in df.collect()], df.columns)


def main() -> None:
    args = sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sf_dir, only = args[0], set(args[1:])
    else:
        sf_dir, only = "/root/testdata/sf0.01", set(args)

    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    qs = E.queries()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}")
        sys.exit(2)

    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName("invariance-probe")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    out = {"sf_dir": sf_dir, "variants": _VARIANTS, "mismatch": [], "error": []}
    n_ok = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            rows_a = _collect_normalized(fn, spark, sf_dir)
            rows_v = {}
            for vname, confs in _VARIANTS.items():
                with _conf(spark, confs):
                    rows_v[vname] = _collect_normalized(fn, spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — audit must keep going
            out["error"].append({"query": name, "err": repr(exc)[:300]})
            print(f"  {name}: ERROR {exc!r}", flush=True)
            continue
        bad = []
        for vname, rows_b in rows_v.items():
            if rows_a != rows_b:
                first_diff = next(
                    (
                        {"a": repr(a)[:200], "b": repr(b)[:200]}
                        for a, b in zip(rows_a, rows_b)
                        if a != b
                    ),
                    {"a": f"{len(rows_a)} rows", "b": f"{len(rows_b)} rows"},
                )
                bad.append({"query": name, "variant": vname, "first_diff": first_diff})
        if not bad:
            n_ok += 1
            print(f"  {name}: INVARIANT ({len(rows_a)} rows)", flush=True)
        else:
            out["mismatch"].extend(bad)
            for b in bad:
                print(f"  {name}: MISMATCH [{b['variant']}] {b['first_diff']}", flush=True)
    out["n_invariant"] = n_ok
    print(json.dumps(out))
    sys.exit(1 if (out["mismatch"] or out["error"]) else 0)


if __name__ == "__main__":
    main()
