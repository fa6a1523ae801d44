"""Generate COVERAGE.md: the SURVEY.md §2c operator inventory mapped to
implemented queries, their oracle status, and implementing module. Run:
    python tools/gen_coverage.py > COVERAGE.md
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fossa_spark.queries import _MODULES, all_oracles  # noqa: E402
from importlib import import_module  # noqa: E402


def _driver_rounds() -> tuple[dict[str, int], dict[str, int]]:
    """(hash-green rounds, ran-without-crash rounds) per query, freshest
    round each, from the driver-written CORRECTNESS_r*.json artifacts.
    A rows-only query can never hash-match (the driver records its runs
    as err='no_oracle'), so its strongest driver signal is 'ran'."""
    import json
    import re

    green: dict[str, int] = {}
    ran: dict[str, int] = {}
    root = Path(__file__).resolve().parent.parent
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match"):
                green[name] = max(green.get(name, 0), rnd)
            if row.get("spark_rows") is not None and row.get("err") in (
                None,
                "no_oracle",
            ):
                ran[name] = max(ran.get(name, 0), rnd)
    return green, ran


# Why each rows-only query has no DuckDB oracle — permanent, by design
# (VERDICT r5 item 8: make the oracle gaps self-explaining).
ROWS_ONLY_REASON = {
    "q_agg_approx": "approx-by-design (HLL estimate is engine-specific)",
    "q_agg_approx_quantile": "approx-by-design (GK sketch, ±rel-error rank)",
    "q_agg_sketch_merge": "approx-by-design (partial-sketch merge)",
    "q_dedup_near": "seeded-hash (minhash band/bucket keys)",
    "q_dedup_incremental": "seeded-hash (persisted LSH band index)",
    "q_stream_dedup_near": "seeded-hash (streaming probe of the LSH index)",
    "q_dedup_semantic": "seeded-sample (k-means++ centroid fit)",
    "q_sim_ann": "seeded-hash (SRP hyperplane buckets)",
    "q_sim_ivf": "seeded-sample (coarse-quantizer centroids)",
    "q_sim_ivf_index": "seeded-sample (persisted coarse-quantizer index)",
    "q_sim_pca_ivf": "iterative+seeded (PCA eigenvectors + IVF quantizer)",
    "q_sim_pq": "seeded-sample (PQ codebooks)",
    "q_embed_pca": "iterative (power-iteration eigenvectors)",
    "q_bpe_train": "iterative (merge-rule induction, no SQL equivalent)",
    "q_bpe_tokenize": "iterative (applies trained merges)",
    "q_multimodal": "binary codecs (PNG/WAV/Y4M decode, no SQL equivalent)",
    "q_pipeline": "composite (chains the seeded LSH stage)",
}


def main() -> None:
    oracles = all_oracles()
    green, ran = _driver_rounds()
    print("# COVERAGE — SURVEY.md §2c inventory → implementation\n")
    print("Generated by tools/gen_coverage.py. Check = driver-verified against")
    print("the DuckDB oracle (row count + schema + order-insensitive value")
    print("hash at sf0.01); rows-only = no SQL-expressible oracle (seeded")
    print("hashing / map types / approx sketches), checked for rows+schema.")
    print("Driver = freshest CORRECTNESS_r{N}.json signal: rNN green = that")
    print("round's driver run hash-matched the oracle; rNN ran = the driver")
    print("executed it without error (the max a rows-only query can show);")
    print("local = pytest oracle-parity green, no driver window slot yet.")
    print()
    print("| Query | Check | Driver | Family (module) | Summary |")
    print("|---|---|---|---|---|")
    total = oracle_count = never = 0
    for modname in _MODULES:
        mod = import_module(modname)
        family = modname.rsplit(".", 1)[-1]
        for name, fn in sorted(getattr(mod, "QUERIES", {}).items()):
            total += 1
            has_oracle = name in oracles
            oracle_count += has_oracle
            doc = (fn.__doc__ or "").strip().splitlines()
            summary = doc[0].rstrip(".") if doc else ""
            check = (
                "oracle"
                if has_oracle
                else "rows-only: " + ROWS_ONLY_REASON.get(name, "unclassified")
            )
            if has_oracle:
                drv = f"r{green[name]:02d} green" if name in green else "local"
            else:
                drv = f"r{ran[name]:02d} ran" if name in ran else "local"
            never += drv == "local"
            print(f"| `{name}` | {check} | {drv} | {family} | {summary} |")
    print(f"\n**{total} queries: {oracle_count} oracle-checked, "
          f"{total - oracle_count} rows-only; driver union: "
          f"{len([n for n in green if n in oracles])}/{oracle_count} "
          f"oracle-green, {never} local-only.**")
    print("\nBeyond the query inventory, the engine layer (SURVEY.md §2a C1-C18)")
    print("is covered by behavioral tests: job lifecycle/admission/allowlist/")
    print("retry/failure-origin (tests/test_engine.py), HTTP API contract")
    print("(tests/test_api.py), streaming watermark/state (tests/test_streaming.py),")
    print("plan properties (tests/test_plans.py), LLM-operator recall/determinism")
    print("(tests/test_llm.py).")


if __name__ == "__main__":
    main()
