"""Paired A/B runs of the benchmark of record: a base commit against the
working tree.

    python3 tools/ab_bench.py --workload llm_pipeline --seeds 21-30
    python3 tools/ab_bench.py --workload etl_jobs --seeds 1-3 --base HEAD~2

Both sides run from clean copies in one temporary directory, removed at
exit: the base side is ``git archive`` of ``--base`` (default ``HEAD~1``),
the change side is every tracked and untracked, not-ignored file of the
working tree, so neither side sees build or test leftovers.  For each seed
it runs ``BENCHMARK.json``'s command with ``--workload W --seed S
--seconds <run_seconds> --trace 0`` once on each side, alternating which
side runs first, and prints each run's result line.

For every end-to-end metric in ``BENCHMARK.json`` it then prints each
side's median and quartiles, the change's win share (pairs where the change
is better, ties counting for neither) and whether the claim rule holds: the
change wins at least nine pairs in ten and the medians differ by more than
the base's interquartile distance.  Only ``perfbench`` is invoked; nothing
here edits it.
"""

from __future__ import annotations

import argparse
import io
import json
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def parse_seeds(spec: str) -> list[int]:
    """'21-25,3' → [21, 22, 23, 24, 25, 3]."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def git(*args: str) -> bytes:
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True).stdout


def archive_commit(commit: str, dest: Path) -> None:
    with tarfile.open(fileobj=io.BytesIO(git("archive", "--format=tar", commit))) as tar:
        tar.extractall(dest, filter="data")


def copy_working_tree(dest: Path) -> None:
    listed = git("ls-files", "-z", "--cached", "--others", "--exclude-standard")
    for name in {n.decode() for n in listed.split(b"\0") if n}:
        src = ROOT / name
        if src.is_file():  # a deleted tracked file is still listed
            (dest / name).parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(src, dest / name)


def run_side(checkout: Path, workload: str, seed: int) -> dict:
    """One benchmark run; returns its final JSON line."""
    cmd = [*BENCH["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(BENCH["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} exited {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def value(result: dict, name: str) -> float:
    return result["metrics"][name]["value"]


def summarize(pairs: list[tuple[dict, dict]]) -> list[str]:
    out = [f"{'metric':<20} {'base q1/med/q3':>26} {'change q1/med/q3':>26} "
           f"{'wins':>6} claim"]
    for m in BENCH["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        base = [value(b, name) for b, _ in pairs]
        chg = [value(c, name) for _, c in pairs]
        wins = sum((c < b) if lower else (c > b) for b, c in zip(base, chg))
        bq, cq = quartiles(base), quartiles(chg)
        gain = (bq[1] - cq[1]) if lower else (cq[1] - bq[1])
        holds = wins >= 0.9 * len(pairs) and gain > bq[2] - bq[0]
        out.append(
            f"{name:<20} {bq[0]:>8.3f}/{bq[1]:>8.3f}/{bq[2]:>8.3f} "
            f"{cq[0]:>8.3f}/{cq[1]:>8.3f}/{cq[2]:>8.3f} "
            f"{wins:>2}/{len(pairs):<3} {'yes' if holds else 'no'}"
        )
    failed = [(b["failed"], c["failed"]) for b, c in pairs]
    out.append(f"failed jobs per pair (base, change): {failed}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 1,2,5")
    ap.add_argument("--base", default="HEAD~1", help="commit for the base side")
    args = ap.parse_args()

    pairs = []
    with tempfile.TemporaryDirectory(prefix="ab_bench_") as tmp:
        sides = {"base": Path(tmp) / "base", "change": Path(tmp) / "change"}
        archive_commit(args.base, sides["base"])
        copy_working_tree(sides["change"])
        for i, seed in enumerate(parse_seeds(args.seeds)):
            res = {}
            for side in (["base", "change"] if i % 2 == 0 else ["change", "base"]):
                res[side] = run_side(sides[side], args.workload, seed)
                print(json.dumps({"side": side, "workload": args.workload,
                                  "seed": seed, **res[side]}), flush=True)
            pairs.append((res["base"], res["change"]))
    print("\n".join(summarize(pairs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
