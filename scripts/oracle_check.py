"""Driver-simulating correctness gate (run locally before every commit).

Mimics the driver: a BARE SparkSession (no engine configs — the round-1
failure mode), each registry query executed at sf0.01, and the matching
DuckDB oracle over the same parquet files. Compares row count, sorted
column names, and an order-insensitive value comparison with the same
normalizations the driver applies (columns sorted by name, rows sorted,
floats rounded).

Usage: python scripts/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from streambench_spark.schemas import TESTDATA_TABLES  # noqa: E402


def _norm_val(v):
    if isinstance(v, float):
        # 9dp matches the driver gate's rounding exactly (VERDICT r10
        # item 4 tightened tests/conftest.py the same way; this script
        # claims to SIMULATE the driver, so it must not be weaker)
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (list, tuple)):
        # recurse: NaN/last-ulp jitter inside (nested) arrays must get
        # the same treatment as top-level cells
        return tuple(_norm_val(x) for x in v)
    return v


def normalize(rows, colnames):
    """Sort columns by name, normalize cell values, sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm_val(row[i]) for i in order) for row in rows]
    out.sort(key=repr)
    return out


def main():
    args = sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sf_dir, only = args[0], set(args[1:])
    else:
        # a query name in position 1 must not be silently eaten as sf_dir
        sf_dir, only = "/root/testdata/sf0.01", set(args)

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    qs = E.queries()
    oracles = E.oracle_sql()

    # a typo'd filter name silently checking NOTHING is a false-green
    # gate — fail fast instead
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}")
        sys.exit(2)

    # BARE session — exactly what the driver hands us, one thread per
    # core this process may run on (what nproc prints). The driver's
    # contract is sf0.01, where the default 1g heap suffices; a FULL
    # sf0.1 sweep needs more executor headroom (measured r07:
    # copurchase_triangles' join buffers OOM a 1g/8-thread heap at
    # sf0.1 — deterministically, 115 queries in), so the heap is the
    # one knob exposed: SPARK_GRAFT_ORACLE_MEM=8g for sf0.1 sweeps,
    # unset = bare 1g default, the driver-sim shape.
    builder = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName("oracle-check")
        .config("spark.ui.enabled", "false")
    )
    mem = os.environ.get("SPARK_GRAFT_ORACLE_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = normalize([tuple(r) for r in sdf.collect()], sdf.columns)
            if name not in oracles:
                # the driver's rows-only check requires rows to exist;
                # an empty result must not pass the local gate either
                if srows:
                    print(f"  {name}: rows-only check, spark_rows={len(srows)} OK")
                    n_pass += 1
                else:
                    print(f"  {name}: FAIL rows-only check returned 0 rows")
                    n_fail += 1
                continue
            res = con.execute(oracles[name])
            ocols_raw = [d[0] for d in res.description]
            orows = normalize(res.fetchall(), ocols_raw)
            ocols = sorted(ocols_raw)
            ok_rows = len(srows) == len(orows)
            ok_schema = scols == ocols
            ok_vals = srows == orows
            if ok_rows and ok_schema and ok_vals:
                print(f"  {name}: PASS ({len(srows)} rows)")
                n_pass += 1
            else:
                n_fail += 1
                print(f"  {name}: FAIL rows={ok_rows} ({len(srows)} vs {len(orows)}) schema={ok_schema} vals={ok_vals}")
                if not ok_schema:
                    print(f"    spark cols:  {scols}")
                    print(f"    oracle cols: {ocols}")
                if ok_schema and not ok_vals:
                    for a, b in zip(srows[:50], orows[:50]):
                        if a != b:
                            print(f"    spark:  {a}")
                            print(f"    oracle: {b}")
                            break
        except Exception:
            n_fail += 1
            print(f"  {name}: ERROR")
            traceback.print_exc(limit=3)

    if n_pass + n_fail == 0:
        print("no queries matched the filter — nothing was checked")
        sys.exit(2)
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
