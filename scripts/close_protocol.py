"""Round-close gate runner: every close check, one command.

Institutionalizes the close protocol the round records have converged
on (SURVEY §2.10 round amendments). Runs, in order:

  1. full pytest            python -m pytest tests/ -q
                            (STREAMBENCH_FUZZ_FULL=1 — the full fuzz
                            profile is part of the close, not the
                            default dev loop)
  2. sf0.01 oracle sweep    scripts/oracle_check.py (driver SF, bare
                            session — the driver-gate simulation)
  3. sf0.1 oracle sweep     same, SPARK_GRAFT_ORACLE_MEM=8g (bench SF)
  4. universe closure       scripts/universe_fuzz.py (all universes)
  5. TZ sweep               scripts/tz_sweep.py (full registry,
                            Asia/Kolkata — OS-level TZ axis)
  6. locale sweep           scripts/locale_sweep.py (full registry,
                            tr_TR JVM locale — Turkish-I axis)
  7. extreme-value probe    scripts/extreme_value_probe.py (domain-cap
                            power-sum headroom)
  8. bench artifact         the committed BENCH_FULL.json may be
                            published: a total, no errors, neither
                            noise stamp, and cpus equal to this host's
                            core count (totals at other counts do not
                            compare)

The bench run itself is NOT here: `python bench.py` rewrites
BENCH_FULL.json, and stage 8 checks the result.

Each stage streams to its own log under --logdir (default
/tmp/close_r<N>/); a stage failure is recorded and the run CONTINUES
(a close needs the full picture, not the first red). Exit 0 only if
every stage passed.

Usage: python scripts/close_protocol.py [--logdir DIR] [--skip N,M]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


def stages() -> list[tuple[str, list[str], dict[str, str]]]:
    py = sys.executable
    s = os.path.join(REPO, "scripts")
    return [
        ("pytest_full", [py, "-m", "pytest", os.path.join(REPO, "tests"),
                         "-q"], {"STREAMBENCH_FUZZ_FULL": "1"}),
        ("sweep_sf001", [py, os.path.join(s, "oracle_check.py"), SF001], {}),
        ("sweep_sf01", [py, os.path.join(s, "oracle_check.py"), SF01],
         {"SPARK_GRAFT_ORACLE_MEM": "8g"}),
        ("universes", [py, os.path.join(s, "universe_fuzz.py")], {}),
        ("tz_sweep", [py, os.path.join(s, "tz_sweep.py"), SF001], {}),
        ("locale_sweep", [py, os.path.join(s, "locale_sweep.py"), SF001], {}),
        ("extreme_probe", [py, os.path.join(s, "extreme_value_probe.py")], {}),
    ]


def bench_full_problems(path: str, cpus: int) -> list[str]:
    """Why the bench artifact at ``path`` must not be published; empty
    when it may be. A missing noise stamp counts as set: an artifact
    that cannot show a clean host does not pass."""
    try:
        with open(path) as fh:
            full = json.load(fh)
    except (OSError, ValueError) as exc:
        return [f"unreadable: {exc!r}"]
    problems = []
    if full.get("value") is None:
        problems.append("value is null")
    if full.get("errors"):
        problems.append(f"errors in {sorted(full['errors'])}")
    for stamp in ("noisy_cpu", "degraded_environment"):
        if full.get(stamp) is not False:
            problems.append(f"{stamp} is {full.get(stamp)}")
    if full.get("cpus") != cpus:
        problems.append(f"cpus is {full.get('cpus')}, host has {cpus}")
    return problems


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--logdir", default="/tmp/close_protocol")
    ap.add_argument("--skip", default="",
                    help="comma-separated stage names to skip")
    args = ap.parse_args()
    skip = {x.strip() for x in args.skip.split(",") if x.strip()}
    os.makedirs(args.logdir, exist_ok=True)

    results: list[tuple[str, str, float]] = []
    for name, cmd, extra_env in stages():
        if name in skip:
            results.append((name, "SKIPPED", 0.0))
            print(f"== {name}: SKIPPED", flush=True)
            continue
        log = os.path.join(args.logdir, f"{name}.log")
        env = dict(os.environ, **extra_env)
        t0 = time.time()
        print(f"== {name}: running ({' '.join(cmd)}) -> {log}", flush=True)
        with open(log, "w") as fh:
            rc = subprocess.run(cmd, env=env, stdout=fh,
                                stderr=subprocess.STDOUT).returncode
        dt = time.time() - t0
        status = "PASS" if rc == 0 else f"FAIL(rc={rc})"
        results.append((name, status, dt))
        print(f"== {name}: {status} in {dt:.0f}s", flush=True)

    if "bench_artifact" in skip:
        status = "SKIPPED"
    else:
        problems = bench_full_problems(os.path.join(REPO, "BENCH_FULL.json"),
                                       len(os.sched_getaffinity(0)))
        status = "FAIL(" + "; ".join(problems) + ")" if problems else "PASS"
    results.append(("bench_artifact", status, 0.0))
    print(f"== bench_artifact: {status}", flush=True)

    print("\n==== close protocol summary ====")
    for name, status, dt in results:
        print(f"  {name:15s} {status:12s} {dt:7.0f}s")
    n_fail = sum(1 for _, st, _ in results if st.startswith("FAIL"))
    print(f"{len(results) - n_fail}/{len(results)} stages green")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
