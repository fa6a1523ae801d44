"""Tiny-size self-test of the benchmark itself.

    python3 -m perfbench.selftest

For every workload, at a few-percent input size and a one-second window:
the untraced run prints every end-to-end metric and the traced run every
per-layer metric, each with its unit, with all output checks passing; and
a run against deliberately wrong expected outputs reports failed jobs
instead of a correct result.  Exits non-zero on the first violation.
"""

from __future__ import annotations

import math
import sys

from perfbench import run

SCALE = 0.02
SEED = 7


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def main() -> int:
    for w in run.WORKLOADS:
        for trace, names in ((False, run.END_TO_END), (True, run.PER_LAYER)):
            try:
                result, report = run.run_workload(w, SEED, 1, trace, scale=SCALE)
            finally:
                run.stop_jvm()
            got = result["metrics"]
            check(set(got) == set(names), f"{w} trace={trace}: metric names {sorted(got)}")
            for k, v in got.items():
                check(v["unit"] == names[k], f"{w}: unit of {k}")
                check(isinstance(v["value"], (int, float)) and math.isfinite(v["value"]),
                      f"{w}: value of {k}")
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{w} trace={trace}: output checks failed: {result}")
            check(report["samples"]["latency"] >= 1 and "job_fail_ratio" in report,
                  f"{w}: report lacks sample counts")
            print(f"ok  {w} trace={trace}: {len(got)} metrics, "
                  f"{result['attempted']} jobs checked", flush=True)
        try:
            result, _ = run.run_workload(w, SEED, 1, False, scale=SCALE, corrupt=True)
        finally:
            run.stop_jvm()
        check(result["failed"] >= 1 and not result["correct"],
              f"{w}: wrong expected output went unnoticed: {result}")
        print(f"ok  {w}: wrong expected output caught "
              f"({result['failed']}/{result['attempted']} jobs failed)", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
