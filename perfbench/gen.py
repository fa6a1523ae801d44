"""Seeded inputs and expected outputs for the benchmark workloads.

Everything here is a pure function of the seed (and a size scale that only
the self-test changes), so the same seed always yields the same inputs:

- ``etl_jobs``: TPC-H-shaped tables with the column names, types and value
  domains of the repository's fixtures, an embeddings table, the seeded
  job mix, the expected result of every job (DuckDB oracle hashes, a
  NumPy brute-force top-k, source row counts for write jobs), and per
  fan-out job its subtask sizes and the subtasks that fail on their
  first attempt.
- ``llm_pipeline``: a document corpus of unique rows (base documents plus
  copies made unique with the tag-injection rule of ``tools/gen_sf1.py``),
  planted exact duplicates and planted near-duplicates (the last word
  replaced, word-5-shingle Jaccard above 0.9), and the ids that must
  survive dedup.

Run as ``python -m perfbench.gen --workload W --seed N --out DIR`` from the
repository root; the benchmark does so in a child process and times it
apart from every metric.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent

# relational jobs: small-result queries from fossa_spark.queries that have a
# DuckDB oracle and need only the tables generated below
QUERIES = (
    "q_agg_basic", "q_agg_rollup", "q_join_inner", "q_join_broadcast",
    "q_distinct", "q_table_diff",
)
# write jobs: (table, partition column)
WRITES = (("orders", "o_orderpriority"), ("customer", "c_mktsegment"))
SIM_QUERY_SETS = 16
SIM_QUERIES_PER_JOB = 8
SIM_K = 5
FANOUT_SUBTASKS = 200
ETL_DECK = len(QUERIES) + 4  # jobs per etl_jobs deck
ETL_SF = 0.02  # TPC-H scale factor of the etl_jobs tables
EMB_DIM = 64

DOMAIN_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer shard index"
).split()
FUNCTION_WORDS = {
    "en": ["the", "and", "of", "to", "is", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "auf"],
    "fr": ["le", "les", "et", "est", "dans", "pour", "une", "des"],
    "es": ["el", "los", "una", "por", "un", "en", "es", "de"],
}


def load_tool(name: str):
    """Import ``tools/<name>.py`` by path (``tools`` is not a package)."""
    spec = importlib.util.spec_from_file_location(name, ROOT / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


# -- etl_jobs ---------------------------------------------------------------

def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Exact two-decimal doubles (integer cents / 100), as in the fixtures."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo) / np.timedelta64(1, "D"))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def gen_tables(out: Path, seed: int, sf: float) -> dict[str, int]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, 1)
    n_cust, n_supp = max(50, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_ord, n_line = max(100, int(1_500_000 * sf)), max(400, int(6_000_000 * sf))
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5), i32),
                   "r_name": regions},
        "nation": {"n_nationkey": pa.array(np.arange(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25) % 5, i32)},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, max(1, n_line // 30), n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        },
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, out / f"{name}.parquet", compression="zstd")
        rows[name] = t.num_rows
    return rows


def gen_embeddings(out: Path, seed: int, n: int) -> np.ndarray:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, 2)
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, n), pa.int32()),
    }), out / "embeddings.parquet")
    return vecs


def round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on the shortest decimal
    representation, not on the exact binary value."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def topk_expected(vecs: np.ndarray, q_ids: list[int], k: int) -> list[list]:
    """Brute-force cosine top-k with the accumulation order of
    ``llm.similarity.cosine`` (a left-to-right fold in double), so scores
    match bit for bit before rounding; ties broken on candidate id."""
    v = vecs.astype(np.float64)
    norms = np.sqrt(np.cumsum(v * v, axis=1)[:, -1])
    out = []
    for q in q_ids:
        dots = np.cumsum(v * v[q], axis=1)[:, -1]
        cos = dots / (norms * norms[q])
        cos[q] = -np.inf
        # rounding can only tie near neighbours, so a margin past k suffices
        near = np.argsort(-cos, kind="stable")[:k + 32]
        scored = sorted((-round6(cos[c]), int(c)) for c in near)
        out += [[q, c, -s, rk + 1] for rk, (s, c) in enumerate(scored[:k])]
    return out


def etl_job(seed: int, index: int) -> dict:
    """Job ``index`` of the etl_jobs stream.  The stream is a sequence of
    decks, each a seeded shuffle of the same ten jobs: every query of
    QUERIES once, one similarity top-k, one partitioned write of each of
    WRITES (one job in five) and one PartitionedModel fan-out.  Every
    seed thus runs the same mix in another order."""
    deck, pos = divmod(index, ETL_DECK)
    rng = _rng(seed, 3, deck)
    jobs = ([{"kind": "query", "query": q} for q in QUERIES]
            + [{"kind": "similarity", "qset": int(rng.integers(SIM_QUERY_SETS))}]
            + [{"kind": "write", "table": t, "key": k} for t, k in WRITES]
            + [{"kind": "fanout"}])
    return jobs[int(rng.permutation(len(jobs))[pos])]


def expected_etl(data: Path, seed: int, vecs: np.ndarray, rows: dict) -> dict:
    import duckdb

    from fossa_spark.queries import all_oracles

    table_hash = load_tool("drive_contract").table_hash
    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for t in rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        queries = {}
        for q in QUERIES:
            res = con.execute(oracles[q])
            cols = [d[0] for d in res.description]
            queries[q] = list(table_hash(cols, res.fetchall()))
    finally:
        con.close()
    rng = _rng(seed, 4)
    qsets = [sorted(int(i) for i in rng.choice(len(vecs), SIM_QUERIES_PER_JOB, replace=False))
             for _ in range(SIM_QUERY_SETS)]
    return {
        "queries": queries,
        "sim_qsets": qsets,
        "sim_topk": [topk_expected(vecs, qs, SIM_K) for qs in qsets],
        "rows": rows,
    }


# -- llm_pipeline -----------------------------------------------------------

def _base_doc(rng) -> tuple[str, str]:
    lang = str(rng.choice(list(FUNCTION_WORDS)))
    words = list(rng.choice(DOMAIN_WORDS, int(rng.integers(40, 80))))
    for w in rng.choice(FUNCTION_WORDS[lang], int(rng.integers(4, 8))):
        words.insert(int(rng.integers(0, len(words) + 1)), str(w))
    return " ".join(words), lang


def gen_corpus(out: Path, seed: int, base: int, replicas: int) -> dict:
    """Unique rows first (ids 0..U-1), planted duplicates after them, so the
    pipeline's keep-the-minimum-id rule keeps exactly the unique rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tag_text = load_tool("gen_sf1")._tag_text
    rng = _rng(seed, 5)
    texts, langs = [], []
    for _ in range(base):
        t, lang = _base_doc(rng)
        texts.append(t)
        langs.append(lang)
    uniq_texts, uniq_langs = list(texts), list(langs)
    for r in range(1, replicas):
        uniq_texts += tag_text(texts, r)
        uniq_langs += langs
    n_uniq = len(uniq_texts)
    n_plant = max(2, n_uniq // 10)
    picks = rng.permutation(n_uniq)
    exact_src, near_src = picks[:n_plant], picks[n_plant:2 * n_plant]
    dup_texts, dup_langs = [], []
    for i in exact_src:
        # differs only in case and spacing: equal after dedup.normalize
        w = uniq_texts[i].upper().split(" ")
        dup_texts.append("  ".join(w[:2] + [" ".join(w[2:])]) + " ")
        dup_langs.append(uniq_langs[i])
    for i in near_src:
        w = uniq_texts[i].split(" ")
        w[-1] = next(x for x in rng.permutation(DOMAIN_WORDS) if x != w[-1])
        dup_texts.append(" ".join(w))
        dup_langs.append(uniq_langs[i])
    all_texts = uniq_texts + dup_texts
    order = rng.permutation(len(all_texts))  # planted rows interleaved on disk
    ids = np.arange(len(all_texts))[order]
    tbl = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [all_texts[i] for i in ids],
        "lang": [(uniq_langs + dup_langs)[i] for i in ids],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(all_texts[i]) for i in ids], pa.int64()),
    })
    pq.write_table(tbl, out / "documents.parquet")
    return {"docs": len(all_texts), "unique": n_uniq,
            "exact_planted": len(exact_src), "near_planted": len(near_src),
            "input_bytes": os.path.getsize(out / "documents.parquet")}


# -- fan-out jobs of etl_jobs ------------------------------------------------

def fanout_plan(seed: int, index: int, scale: float = 1.0) -> list[list[int]]:
    """[subtask id, loop size, fails-first-attempt] for job ``index``: a
    fixed number of subtasks of seeded sizes, a seeded 5% of which fail
    on their first attempt."""
    rng = _rng(seed, 6, index)
    n = max(2, int(FANOUT_SUBTASKS * scale))
    sizes = rng.integers(5_000, 30_000, n)
    fail = np.zeros(n, bool)
    fail[rng.choice(n, max(1, round(n * 0.05)), replace=False)] = True
    return [[i, int(s), int(f)] for i, (s, f) in enumerate(zip(sizes, fail))]


def fanout_sum(plan: list[list[int]]) -> int:
    """Closed form of the subtasks' work: sum over j < n of j*j."""
    return sum((n - 1) * n * (2 * n - 1) // 6 for _, n, _ in plan)


# -- entry point ------------------------------------------------------------

def generate(workload: str, seed: int, out: Path, scale: float) -> dict:
    out.mkdir(parents=True, exist_ok=True)
    if workload == "etl_jobs":
        rows = gen_tables(out, seed, ETL_SF * scale)
        vecs = gen_embeddings(out, seed, max(50, int(2000 * scale)))
        rows["embeddings"] = len(vecs)
        return expected_etl(out, seed, vecs, rows)
    if workload == "llm_pipeline":
        return gen_corpus(out, seed, max(8, int(150 * scale)), 4)
    raise ValueError(f"unknown workload {workload!r}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()
    out = Path(args.out)
    expected = generate(args.workload, args.seed, out, args.scale)
    (out / "expected.json").write_text(json.dumps(expected))


if __name__ == "__main__":
    main()
