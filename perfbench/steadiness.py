"""Steadiness evidence: run the benchmark on several seeds and record the
spread of every end-to-end metric.

    python3 -m perfbench.steadiness --set A --seeds 1-10 [--workload W ...]

Run from the repository root.  Each (workload, seed) is one run of
``perfbench/run.py`` with ``BENCHMARK.json``'s ``run_seconds``.  For every
metric the set records the ten values, their median and their spread:
the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.  Sets
are kept in ``perfbench/steadiness.json``; with two sets present, the
relative shift of every median from the first set to the second is
recorded too.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = Path(__file__).resolve().parent / "steadiness.json"


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    res, rep = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    return {
        "seed": seed, "wall_s": round(wall, 1), "correct": res["correct"],
        "attempted": res["attempted"], "failed": res["failed"],
        "latency_samples": rep["samples"]["latency"],
        "tail_percentile": round(rep["job_latency_tail_percentile"], 1),
        "metrics": {k: v["value"] for k, v in res["metrics"].items()},
        "report_only": {k: rep[k]["value"] if isinstance(rep[k], dict) else rep[k]
                        for k in ("job_latency_tail_s", "peak_rss_mb", "job_fail_ratio",
                                  "docs_per_s", "subtasks_per_s") if k in rep},
    }


def spread(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "spread": (q3 - q1) / med}


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--set", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append",
                    default=None, choices=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    doc = json.loads(OUT.read_text()) if OUT.exists() else {"sets": {}}
    entry = doc["sets"].setdefault(args.set, {})
    for w in args.workload or [w["name"] for w in bench["workloads"]]:
        runs = []
        for s in seeds(args.seeds):
            runs.append(one_run(w, s, bench["run_seconds"]))
            print(json.dumps({"workload": w, **runs[-1]}), flush=True)
        names = list(runs[0]["metrics"]) + list(runs[0]["report_only"])
        stats = {}
        for k in names:
            vals = [r["metrics"].get(k, r["report_only"].get(k)) for r in runs]
            if len(vals) >= 4 and statistics.median(vals):
                stats[k] = spread(vals)
        entry[w] = {"run_seconds": bench["run_seconds"], "runs": runs, "stats": stats}
        print(json.dumps({"workload": w, "stats": stats}), flush=True)
    sets = list(doc["sets"])
    if len(sets) >= 2:
        a, b = doc["sets"][sets[0]], doc["sets"][sets[-1]]
        doc["median_shift"] = {
            w: {k: b[w]["stats"][k]["median"] / a[w]["stats"][k]["median"] - 1
                for k in a[w]["stats"] if k in b[w]["stats"]}
            for w in a if w in b}
    OUT.write_text(json.dumps(doc, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
