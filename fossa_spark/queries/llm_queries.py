"""LLM-data-pipeline queries (SURVEY.md §2c, driver-mandated): dedup,
similarity search, text analysis, multimodal plumbing — each backed by the
library operators in fossa_spark.llm, oracle-checked where ANSI SQL can
express the semantics (exact dedup, n-gram Jaccard, brute-force cosine,
token/quality/fingerprint analytics); rows-only where it can't (seeded
MinHash/SimHash/SRP signatures use Spark's xxhash64, which DuckDB lacks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fossa_spark import graph as G
from fossa_spark.llm import classifier as CL
from fossa_spark.llm import dedup as D
from fossa_spark.llm import multimodal as M
from fossa_spark.llm import similarity as S
from fossa_spark.llm import text as X
from fossa_spark.queries._util import load, spread


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return D.exact_dedup(d).orderBy("text_hash")


def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(8 bands × 2) + exact-Jaccard verify ≥ 0.5.
    Seeded hashing → stable rows-only check."""
    d = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(d, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-5-gram Jaccard — the ground-truth near-dup measure the
    LSH path approximates, with a hot-shingle cap (document frequency
    ≤ 100) bounding the self-join's per-shingle fan-in at corpus scale;
    the oracle applies the identical cap."""
    d = load(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, k=5, min_jaccard=0.5, max_df=100).orderBy(
        "id_a", "id_b"
    )


def q_dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal dedup audit: every verified LEXICAL near-dup pair
    (word-5-gram Jaccard ≥ 0.5 — the same pair relation
    q_dedup_ngram / q_cluster_keep consume) annotated with the pair's
    EXACT embedding cosine and a semantic_agree flag (cosine ≥ 0.5) —
    the curation decision table for "which lexical dups does the
    semantic signal confirm".  Scale shape: the pair relation is
    post-threshold (orders of magnitude smaller than the corpus), so
    the two embedding joins broadcast the pair side and the corpus
    never self-joins.  Fully SQL-expressible: the ngram CTE is
    q_dedup_ngram's oracle, cosine is the q_sim_topk _DOT convention
    (fold-order identical, rounded 6 dp)."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    pairs = D.ngram_jaccard_pairs(d, k=5, min_jaccard=0.5, max_df=100).select(
        "id_a", "id_b", "jaccard"
    )
    ea = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    eb = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cosine", F.round(S.cosine(F.col("_va"), F.col("_vb")), 6))
        .withColumn("semantic_agree", F.col("cosine") >= 0.5)
        .select("id_a", "id_b", "jaccard", "cosine", "semantic_agree")
        .orderBy("id_a", "id_b")
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-subset pairs by word-5-gram overlap coefficient
    |A∩B|/min(|A|,|B|) ≥ 0.6 — the asymmetric-duplicate detector (short
    doc quoted inside a long one) Jaccard under-scores (llm/dedup.py
    containment_pairs). Same capped-shingle self-join machinery and
    df ≤ 100 fan-in bound as q_dedup_ngram; the ratio is one int/int
    division, bit-identical in both engines."""
    d = load(spark, sf_dir, "documents")
    return D.containment_pairs(d, k=5, min_overlap=0.6, max_df=100).orderBy(
        "id_a", "id_b"
    )


def q_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal (llm/dedup.py
    remove_shared_chunks): every 8-word chunk appearing in ≥2 documents is
    scrubbed and the text reassembled in position order — the C4/
    RefinedWeb shared-line filter with k-word chunks standing in for
    lines. Exact counts + exact rebuilt strings under the oracle."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    return D.remove_shared_chunks(d, k=8, max_df=1).orderBy("doc_id")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-120 near-dup CANONICAL ATTRIBUTION, Hamming ≤ 3, md5 bit
    source — oracle-backed (round 12; was the last deterministic
    rows-only query).  One row per document that has a smaller-id
    near-duplicate: (doc_id, dup_of, hamming), the q_dedup_exact
    kept_id convention lifted to near-dups.

    Two scale decisions, both measured at sf10 (llm/dedup.py
    simhash_dedup): attribution instead of pairs (the pair relation is
    quadratic in the fixture's ~100× replica factor — 115M rows), and
    120-bit signatures instead of 60 (at 60 bits the clustered
    signature space drove the radius-3 band join to 1.19B rows; at
    120 bits with four 30-bit band chunks the same corpus measures
    110M candidate rows and 1.65M near sig pairs — radius 5's 20-bit
    chunks were re-measured at 989M candidates and rejected).

    Signature bits come from md5(token) hex chars 1-15 and 16-30 (two
    60-bit halves both engines compute identically — conv(…,16,10) in
    Spark, CAST('0x'||… AS BIGINT) in DuckDB), per-bit majority votes
    over the token multiset.  The oracle states the banding-free
    all-pairs form over DISTINCT signatures — pigeonhole guarantees
    the banded join finds EXACTLY the sig pairs within the radius, so
    both forms are the same relation; the two-step canon selection
    (MIN group id, then that id's hamming) is mirrored verbatim."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    return D.simhash_dedup(d, max_hamming=3).orderBy("doc_id")


def q_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document exact-substring dedup (round 13 — the Lee et al.
    2022 suffix-array capability as fixed-k-gram anchors): every maximal
    token span of ≥ 16 tokens shared verbatim between two different
    documents, (id_a, id_b, start_a, start_b, span_tokens), 1-based
    positions at distinct-text-representative grain (exact replicas are
    collapsed to min-id first, so span discovery never pays the replica-
    quadratic the round-12 simhash redesign measured).  Anchors are
    8-token windows under the engine-portable 60-bit md5 prefix hash,
    occurrence-capped at 100 (boilerplate bound); consecutive anchor
    matches on one (pair, diagonal) merge into maximal spans by
    gaps-and-islands.  See llm/dedup.py shared_span_pairs for the full
    scale argument; the oracle replays anchor → cap → join → island →
    span verbatim on the same hash."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    return D.shared_span_pairs(d, k=8, min_tokens=16, max_df=100).orderBy(
        "id_a", "id_b", "start_a", "start_b"
    )


def _simhash_oracle(max_hamming: int = 3) -> str:
    """SimHash-120 attribution oracle: explode tokens → 2×60 per-bit
    vote aggregates → assemble (sig1, sig2) → all-pairs Hamming over
    DISTINCT sigs (equivalent to the banded candidates by pigeonhole
    exactness, self-pair included) → per-sig min group-id canon → doc
    join."""
    votes = ", ".join(
        f"SUM(CASE WHEN (h{half} >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" AS {tag}{b}"
        for half, tag in ((1, "a"), (2, "b"))
        for b in range(60)
    )
    sig1 = " + ".join(
        f"(CASE WHEN a{b} > 0 THEN (CAST(1 AS BIGINT) << {b})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for b in range(60)
    )
    sig2 = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN (CAST(1 AS BIGINT) << {b})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for b in range(60)
    )
    return f"""
        WITH tok AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(t.token), 1, 15)) AS BIGINT) AS h1,
                 CAST(('0x' || substr(md5(t.token), 16, 15)) AS BIGINT) AS h2
          FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
        ), votes AS (
          SELECT doc_id, {votes} FROM tok GROUP BY doc_id
        ), sigt AS (
          SELECT doc_id, {sig1} AS sig1, {sig2} AS sig2 FROM votes
        ), gmin AS (
          SELECT sig1, sig2, MIN(doc_id) AS g FROM sigt GROUP BY sig1, sig2
        ), cand AS (
          SELECT a.sig1 AS s1, a.sig2 AS s2, b.sig1 AS t1, b.sig2 AS t2,
                 bit_count(xor(a.sig1, b.sig1))
                   + bit_count(xor(a.sig2, b.sig2)) AS h
          FROM gmin a, gmin b
          WHERE bit_count(xor(a.sig1, b.sig1))
                  + bit_count(xor(a.sig2, b.sig2)) <= {max_hamming}
        ), nb AS (
          SELECT c.s1, c.s2, g2.g AS gb, c.h
          FROM cand c JOIN gmin g2 ON g2.sig1 = c.t1 AND g2.sig2 = c.t2
        ), canon AS (
          SELECT s1, s2, MIN(gb) AS canon FROM nb GROUP BY s1, s2
        ), ch AS (
          SELECT canon.s1, canon.s2, canon.canon, nb.h
          FROM canon JOIN nb ON nb.s1 = canon.s1 AND nb.s2 = canon.s2
                            AND nb.gb = canon.canon
        )
        SELECT st.doc_id, ch.canon AS dup_of, CAST(ch.h AS INTEGER) AS hamming
        FROM sigt st JOIN ch ON st.sig1 = ch.s1 AND st.sig2 = ch.s2
        WHERE ch.canon < st.doc_id
        ORDER BY doc_id
    """


def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + global clustering coefficient of the
    NEAR-DUP PAIR GRAPH (round 12, graph.py triangles) — how cliquish
    the duplicate clusters are: a high gcc says near-dup pairs close
    into transitive groups (safe to collapse via connected components),
    a low one says chains (collapse loses distinct documents).

    Uses the DEGREE-ORDERED orientation (each edge points to its
    higher-(degree, id) endpoint, out-degree O(√m) on any graph) — the
    skew refinement q_triangles' id-ordered census defers; per-node
    counts come free because each triangle is materialized exactly
    once.  Edge substrate = ngram_jaccard_pairs (the q_dedup_ngram
    relation, df ≤ 100 capped); the oracle replays pairs + orientation
    + wedge-close joins."""
    d = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, k=5, min_jaccard=0.5, max_df=100).select(
        "id_a", "id_b"
    )
    return G.triangles(pairs).orderBy("node")


def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, blocked by (label, bounded sub-block)
    (IVF-style blocking: compare only within a coarse partition — the
    trick that makes pairwise similarity feasible at scale).  One
    applyInPandas per block ships each vector across the shuffle once
    instead of once per pair (blocked_cosine_pairs).  Threshold 0.35 sits
    at the fixture's near-dup knee (26 pairs at sf0.01, 391 at sf0.1;
    nothing reaches 0.5), so the check exercises real values, not empty.

    Sub-blocking: blocking on the ~10 coarse labels alone makes block
    size grow as n/10 and pair work O(n²) — 53× cost at 10× data (round
    4's sf1 audit).  Round 4 split oversized labels on md5(vec_id) — a
    RANDOM partition that silently trades recall at scale (a near-dup
    pair can straddle two sub-blocks of its label).  Round 5 replaces it
    with LOCALITY-BASED sub-blocks (similarity.locality_subblocked):
    within-corpus adaptive KMeans, block = (label, nearest centroid), so
    near neighbors co-locate by construction.  The branch is explicit:
    while every label holds ≤ 256 vectors (true at sf ≤ 0.1) blk is the
    label itself — byte-identical to the unsplit form and exactly what
    the SQL oracle states; the KMeans path engages only at scale, where
    the sf1 recall harness (tests/test_scale_evidence.py) checks pairs
    found ≥ the r04 md5-split baseline on the same fixture."""
    # multi-consumer relation: persist so each downstream pass reads
    # cached blocks instead of replaying the scan + spread() (round 14)
    e = spread(load(spark, sf_dir, "embeddings"), spark).persist()
    e2 = S.locality_subblocked(
        e, "label", "vec_id", "embedding", cap=256, target_block=125
    )
    return (
        S.blocked_cosine_pairs(e2, "blk", "vec_id", "embedding", threshold=0.35)
        .select(
            F.shiftright("blk", 16).cast("int").alias("label"),
            "id_a", "id_b", "cos",
        )
        .orderBy("label", "id_a", "id_b")
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: docs with doc_id % 4 == 0 arrive as the NEW
    batch, the rest are the existing corpus persisted as a bucketed minhash
    signature index; the batch probes the index (no full-index shuffle) and
    each new doc is kept or attributed to its best corpus duplicate.
    rows-only (seeded xxhash64 signatures).

    The index build is idempotent per (session, sf): the operational shape
    is build-once / probe-per-batch, so repeat runs (bench warm pass, the
    driver's second execution) skip straight to the probe — exactly what a
    daily-batch job does against yesterday's index."""
    import hashlib
    import tempfile

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # vN in the prefix: a warehouse from an older session may still hold
    # a previous-format index under the old name; versioned naming makes
    # the rebuild automatic instead of tripping _check_index_format
    prefix = f"fs_dedup_idx_v{D.INDEX_FORMAT_VERSION}_{tag}"
    if not spark.catalog.tableExists(f"{prefix}_bands"):
        path = tempfile.mkdtemp(prefix="fossa_dedup_idx_")
        D.build_minhash_index(corpus, prefix, path)
    out = D.incremental_dedup(batch, spark, prefix, threshold=0.5)
    return out.orderBy("doc_id")


def q_dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT dedup against a persisted hash index (llm/
    dedup.py build_exact_index / incremental_exact_dedup) — the
    SQL-expressible twin of q_dedup_incremental: the corpus (doc_id %
    4 != 0) persists one bucketed (md5-of-normalized-text, doc_id)
    table; the arriving batch (doc_id % 4 == 0, PLUS planted exact
    copies of every corpus doc with doc_id % 16 == 1 under ids
    +10_000_000) probes it with a digest equi-join — no index-side
    shuffle — and every planted copy must attribute to its corpus
    source (the fixture plants no natural exact dups, so dup_of is the
    source id exactly).  Oracle: the same hash join brute-forced in
    SQL; md5(regexp_replace(trim(lower(text)))) is the q_dedup_exact
    expression-parity convention, hash-checked since r02."""
    import hashlib
    import tempfile

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    planted = corpus.filter(F.col("doc_id") % 16 == 1).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"fs_exact_idx_{tag}"
    if not spark.catalog.tableExists(table):
        D.build_exact_index(
            corpus, spark, table, tempfile.mkdtemp(prefix="fossa_exact_idx_")
        )
    out = D.incremental_exact_dedup(batch.unionByName(planted), spark, table)
    return out.orderBy("doc_id")


def q_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index COMPACTION under the exact-dedup oracle (round 9, VERDICT r8
    item 2 — llm/dedup.py compact_exact_index +
    sources.compact_bucketed_table): the missing operational half of the
    daily incremental loop.  Lifecycle: (1) build the digest index from
    the day-0 corpus (doc_id % 4 == 1), (2) append two daily batches
    (% 4 == 2, % 4 == 3) — each ``insertInto`` leaves one more file per
    bucket, the classic small-files decay — (3) COMPACT back to one file
    per bucket with the CLUSTERED BY layout preserved (temp bucketed
    rewrite + directory swap + same-DDL re-register), then (4) probe with
    a fresh batch (% 4 == 0, plus planted exact copies of docs with
    doc_id % 16 IN (1,2,3) under +10_000_000 ids — one plant against each
    index GENERATION, so a compaction that drops base or appended rows
    mis-attributes a plant).  The oracle re-derives the whole thing as a
    digest left-join in SQL: any row lost, duplicated, or corrupted by
    the rewrite hash-mismatches.  File-count reduction and plan
    invariance are pinned in tests/test_llm.py.

    The index MUTATES here (append + compact), so every run builds its
    own copy and drops it in a finally block."""
    import hashlib
    import shutil
    import tempfile

    d = load(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="fossa_cidx_")
    table = f"fs_cidx_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_digest"
    try:
        D.build_exact_index(
            d.filter(F.col("doc_id") % 4 == 1), spark, table, f"{path}/digest"
        )
        for day in (2, 3):
            D.append_to_exact_index(
                d.filter(F.col("doc_id") % 4 == day).select("doc_id", "text"),
                spark, table,
            )
        D.compact_exact_index(spark, table)
        batch = d.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
        planted = d.filter(F.col("doc_id") % 16 <= 3).filter(
            F.col("doc_id") % 16 != 0
        ).select((F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text")
        out = D.incremental_exact_dedup(
            batch.unionByName(planted), spark, table
        ).localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(path, ignore_errors=True)
    return out.orderBy("doc_id")


def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality classifier (round 9, VERDICT r8 item 3 —
    llm/classifier.py): hashed-feature logistic regression, 3 full-batch
    gradient-descent iterations entirely in fixed-point integers (hard
    sigmoid, exact floor division), then every document scored and gated
    by the trained weights — the CCNet-style discriminative gate next to
    the generative q_lm_score.  Because training is integer-deterministic
    end to end, the ORACLE re-derives all three iterations with unrolled
    SQL CTEs (the q_pagerank discipline): a single bit anywhere in the
    feature hash, the gradient, or a weight update hash-mismatches.
    Label = n_chars >= 300 (≈ the corpus median) — the classifier has to
    recover a length-quality signal from token evidence alone, and it
    does: 98% training accuracy vs a 51% majority baseline at sf0.01
    (pinned above chance in tests/test_llm.py); the learnable direction
    comes from the mean-centered token-count feature (classifier.py
    hashed_features explains why raw counts alone stall at the
    majority class)."""
    d = load(spark, sf_dir, "documents")
    w, mt = CL.train_quality_lr(d, label=(F.col("n_chars") >= 300), iters=3)
    scored = CL.score_quality_lr(d, w, mt)
    return (
        scored.join(
            d.select(
                "doc_id", (F.col("n_chars") >= 300).cast("long").alias("label")
            ),
            "doc_id",
        )
        .select("doc_id", "score", "prob_fp", "keep", "label")
        .orderBy("doc_id")
    )


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id < 5) — broadcast
    queries, one narrow pass over candidates."""
    # multi-consumer relation: persist so each downstream pass reads
    # cached blocks instead of replaying the scan + spread() (round 14)
    e = spread(load(spark, sf_dir, "embeddings"), spark).persist()
    return _brute_topk(e, n_q=5, k=5).orderBy("q_id", "rk")


def _brute_topk(e: DataFrame, n_q: int, k: int) -> DataFrame:
    """Exact cosine top-k of queries ``vec_id < n_q`` against the whole
    embeddings table (S.brute_force_topk): (q_id, c_id, score, rk)."""
    q = e.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return S.brute_force_topk(q, c, k=k)


import math as _math

# NDCG position discounts, precomputed ONCE in Python and pasted as
# literals into BOTH engines' plans (CASE rk WHEN …) — no runtime
# log2() parity to defend; rel ∈ {0,1} so DCG/IDCG are exact bigints.
_NDCG_K = 10
_NDCG_DISC = {i: round(1e8 / _math.log2(i + 1)) for i in range(1, _NDCG_K + 1)}
_NDCG_CUM = {
    m: sum(_NDCG_DISC[i] for i in range(1, m + 1))
    for m in range(1, _NDCG_K + 1)
}


def q_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the exact cosine retrieval, per query (round 12 —
    completing the evaluation suite: confusion → P/R/F1 → ROC-AUC →
    ranking quality).  Queries = vec_id < 20; relevance = candidate
    label equals query label; ranking = the q_sim_topk brute-force
    convention (6-dp rounded cosine, ties to smaller id).  Discounts
    1e8/log2(rank+1) are PRECOMPUTED literals shared with the oracle,
    so DCG and IDCG are exact bigint sums; IDCG uses the true ideal
    (min(label size − 1, 10) top slots all relevant); the single
    double division happens at the end (NULL when a label is a
    singleton).  Scale shape: the exact ranking is one broadcast-query
    brute-force pass (_brute_topk, shared with q_sim_recall);
    everything downstream is 200 rows."""
    # multi-consumer relation: persist so each downstream pass reads
    # cached blocks instead of replaying the scan + spread() (round 14)
    e = spread(load(spark, sf_dir, "embeddings"), spark).persist()
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
    )
    top = _brute_topk(e, n_q=20, k=_NDCG_K)
    clab = e.select(
        F.col("vec_id").alias("c_id"), F.col("label").alias("c_label")
    )
    rel_rows = (
        top.join(F.broadcast(q.select("q_id", "q_label")), "q_id")
        .join(clab, "c_id")
        .withColumn(
            "rel", (F.col("q_label") == F.col("c_label")).cast("bigint")
        )
    )
    disc_expr = F.expr(
        "CASE rk "
        + " ".join(f"WHEN {i} THEN {v}" for i, v in _NDCG_DISC.items())
        + " ELSE 0 END"
    ).cast("bigint")
    per_q = rel_rows.groupBy("q_id").agg(
        F.sum("rel").alias("n_rel_topk"),
        F.sum(F.col("rel") * disc_expr).alias("dcg_scaled"),
    )
    lab_counts = e.groupBy(F.col("label").alias("q_label")).agg(
        F.count(F.lit(1)).alias("_nlab")
    )
    cum_expr = F.expr(
        "CASE least(_nlab - 1, 10) "
        + " ".join(f"WHEN {m} THEN {v}" for m, v in _NDCG_CUM.items())
        + " ELSE 0 END"
    ).cast("bigint")
    ideal = (
        q.select("q_id", "q_label")
        .join(F.broadcast(lab_counts), "q_label")
        .select("q_id", cum_expr.alias("idcg_scaled"))
    )
    return (
        per_q.join(ideal, "q_id")
        .select(
            "q_id",
            "n_rel_topk",
            "dcg_scaled",
            "idcg_scaled",
            F.round(
                F.when(
                    F.col("idcg_scaled") > 0,
                    F.col("dcg_scaled").cast("double")
                    / F.col("idcg_scaled").cast("double"),
                ),
                8,
            ).alias("ndcg"),
        )
        .orderBy("q_id")
    )


def q_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via sign-random-projection LSH buckets (the scale
    path; rows-only — recall vs q_sim_topk is asserted in tests)."""
    # multi-consumer relation: persist (round 14, see q_sim_recall)
    e = load(spark, sf_dir, "embeddings").persist()
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return S.lsh_topk(q, c, k=5, bits=4, tables=8).orderBy("q_id", "rk")


def q_sim_ann_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTNESS-ON-DEMAND probe of the SRP-LSH path (round 11, VERDICT
    r10 item 3 — the last ANN read path without an exactness gate): at
    ``bits=0`` every vector's signature is the empty projection, so all
    vectors land in bucket 0 of the single table, every (query,
    candidate) pair is a candidate, and the exact cosine re-rank makes
    the output equal brute-force top-k row for row — the FAISS
    ``nprobe = nlist`` idiom applied to hyperplane LSH.  This puts
    lsh_topk's whole machinery (vectorized bucket assignment, posexplode
    fan-out, bucket equi-join, distinct, re-rank math and tie-breaks)
    under the hash-checked brute-force oracle; the approximate bits>0
    path stays covered by q_sim_ann's rows-only row + pytest recall
    pins.  The single-bucket join is the VERIFICATION configuration,
    not the scale path — production keeps bits·tables sized so buckets
    stay bounded, which is the whole point of LSH."""
    # multi-consumer relation: persist so each downstream pass reads
    # cached blocks instead of replaying the scan + spread() (round 14)
    e = spread(load(spark, sf_dir, "embeddings"), spark).persist()
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return S.lsh_topk(q, c, k=5, bits=0, tables=1).orderBy("q_id", "rk")


def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer + nprobe bucket search +
    exact re-rank (the FAISS-IVF shape; rows-only — KMeans is not
    SQL-expressible)."""
    # multi-consumer relation: persist so each downstream pass reads
    # cached blocks instead of replaying the scan + spread() (round 14)
    e = spread(load(spark, sf_dir, "embeddings"), spark).persist()
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return S.ivf_topk(q, c, k=5, n_centroids=16, nprobe=4).orderBy("q_id", "rk")


def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: per-subspace codebooks, byte-coded
    candidates (32× compression), LUT scan over codes only, exact re-rank
    on the shortlist — the FAISS-PQ shape (rows-only: trained codebooks
    are not SQL-expressible; recall vs q_sim_topk asserted in tests)."""
    # multi-consumer relation: persist (round 14, see q_sim_recall)
    e = load(spark, sf_dir, "embeddings").persist()
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return S.pq_topk(q, c, k=5).orderBy("q_id", "rk")


def q_sim_pq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTNESS-ON-DEMAND PQ probe (round 8, the q_sim_index_exact idea
    applied to product quantization): with ``shortlist`` ≥ |corpus| the
    exact full-vector re-rank covers EVERY candidate, so the
    approximate LUT scan can only reorder the shortlist, never drop a
    true neighbor — the output must equal brute-force top-k row for
    row.  This puts pq_topk's whole machinery (codebook training,
    byte-code encoding, per-query LUT scan over codes, re-rank math)
    under the hash-checked brute-force oracle; the approximate
    shortlist<corpus path stays covered by q_sim_pq's rows-only row +
    pytest recall pins.  The |corpus|-wide shortlist is the
    VERIFICATION configuration, not the scale path — production keeps
    shortlist constant, which is the whole point of PQ.  shortlist=None
    is pq_topk's built-in spelling of "≥ |corpus|" — no per-run count()
    job to size it (r8 verdict nit)."""
    # multi-consumer relation: persist so each downstream pass reads
    # cached blocks instead of replaying the scan + spread() (round 14)
    e = spread(load(spark, sf_dir, "embeddings"), spark).persist()
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return S.pq_topk(q, c, k=5, shortlist=None).orderBy("q_id", "rk")


def q_sim_pca_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel ANN (llm/similarity.py pca_ivf_topk): exact distributed PCA
    64-d → 16-d, IVF shortlist in the projected space, exact full-dim
    cosine re-rank of the shortlist only — coarse recall in a space 4×
    cheaper, precision paid only on |queries| × shortlist rows.
    rows-only (eigendecomposition + seeded quantizer); recall@5 vs the
    brute-force q_sim_topk is pinned in tests.  (Round-8 negative
    result: running the funnel at batch width — spread(target=8) + 8
    shuffle partitions — was wall-neutral; the cost is the funnel's
    sequential action depth (fit collect → quantizer collect → probe →
    re-rank), not worker scheduling.)"""
    # NOT persisted: unlike its siblings, caching e here measured 2-4x
    # SLOWER end-to-end (round 14 — the funnel's nested pandas-UDF legs
    # read the columnar cache worse than the parquet scan they replace)
    e = spread(load(spark, sf_dir, "embeddings"), spark)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return S.pca_ivf_topk(q, c, k=5, shortlist=20).orderBy("q_id", "rk")


def q_sim_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVF ANN index lifecycle (llm/similarity.py
    build_ivf_index / ivf_index_topk / append_to_ivf_index) — the FAISS
    train→add→search loop as bucketed Spark tables, the retrieval twin
    of the minhash dedup index: (1) build the index from the embeddings
    corpus, (2) probe 5 query vectors (phase='corpus'), (3) APPEND exact
    copies of those query vectors under ids +10_000_000 — assigned by
    the STORED quantizer, no refit — and (4) re-probe: every planted
    copy must now surface at rank 1 with cosine 1.0
    (phase='after_append'), which is only possible if the append landed
    in the right inverted lists.  rows-only (KMeans quantizer is not
    SQL-expressible); recall vs brute force and the zero-shuffle probe
    plan are pinned in tests."""
    import shutil
    import tempfile
    import uuid

    # multi-consumer relation: persist so each downstream pass reads
    # cached blocks instead of replaying the scan + spread() (round 14)
    e = spread(load(spark, sf_dir, "embeddings"), spark).persist()
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    prefix = f"fs_ivf_idx_{uuid.uuid4().hex[:8]}"
    work_dir = tempfile.mkdtemp(prefix="fossa_ivf_idx_")
    S.build_ivf_index(c, spark, prefix, work_dir, n_centroids=16)
    # 5-query probes against a 16-bucket index under corpus-scale shuffle
    # width is pure task overhead — the q_stream_dedup_exec house pattern
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        before = S.ivf_index_topk(queries=q, spark=spark, table_prefix=prefix, k=5)
        # checkpoint the pre-append answer before mutating the index it reads
        before = before.localCheckpoint(eager=True)
        planted = q.select(
            (F.col("q_id") + F.lit(10_000_000)).alias("c_id"),
            F.col("q_vec").alias("c_vec"),
        )
        S.append_to_ivf_index(planted, spark, prefix)
        spark.catalog.refreshTable(f"{prefix}_cells")
        after = S.ivf_index_topk(
            queries=q, spark=spark, table_prefix=prefix, k=5
        ).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        # both probe legs are eagerly checkpointed, so the per-run index
        # copy is dead weight from here: drop the uuid-prefixed catalog
        # entries and the work_dir copy (advisor r7 — repeated runs were
        # leaking three tables + a temp dir each; the demo MUTATES its
        # index, so unlike q_dedup_incremental's tag-keyed reuse a fresh
        # per-run copy is correct, it just must not outlive the run).
        for sub in ("cells", "centroids", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{sub}")
        shutil.rmtree(work_dir, ignore_errors=True)
    return (
        before.select(F.lit("corpus").alias("phase"), "q_id", "c_id", "score", "rk")
        .unionByName(
            after.select(
                F.lit("after_append").alias("phase"), "q_id", "c_id", "score", "rk"
            )
        )
        .orderBy("phase", "q_id", "rk")
    )


def q_sim_index_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTNESS-ON-DEMAND probe of the persisted IVF index (round 8,
    VERDICT r7 item 2): with nprobe = n_centroids every inverted list is
    probed — the FAISS ``nprobe = nlist`` idiom — so the index search
    degenerates to exact brute force and the output must equal
    q_sim_topk's row for row.  This puts the index's entire READ path
    (format check, bucketed cell scan, query fan-out + cell equi-join,
    full-dim cosine re-rank, rank window) under the hash-checked DuckDB
    oracle, the way q_dedup_incremental_exact hardened the minhash
    index's probe cycle; the approximate nprobe<nlist path stays covered
    by q_sim_ivf_index's rows-only lifecycle row + pytest recall pins.

    The index is read-only here, so it is tag-keyed per (format, sf) and
    reused across runs (the q_dedup_incremental convention — no per-run
    catalog/tempdir leak); the mutating lifecycle demo keeps its own
    per-run copy in q_sim_ivf_index."""
    import hashlib
    import tempfile

    # multi-consumer relation: persist so each downstream pass reads
    # cached blocks instead of replaying the scan + spread() (round 14)
    e = spread(load(spark, sf_dir, "embeddings"), spark).persist()
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    prefix = f"fs_ivfx_v{S.IVF_INDEX_FORMAT_VERSION}_{tag}"
    if not spark.catalog.tableExists(f"{prefix}_cells"):
        S.build_ivf_index(
            c, spark, prefix, tempfile.mkdtemp(prefix="fossa_ivfx_"),
            n_centroids=16,
        )
    # 5-query probe under batch-scale shuffle width (house pattern)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = S.ivf_index_topk(
            queries=q, spark=spark, table_prefix=prefix, k=5, nprobe=16
        ).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out.orderBy("q_id", "rk")


# ANN recall-accounting configuration (round 13, VERDICT r12 item 4):
# production-GEOMETRY configs measured for exact recall@10 against the
# brute-force ranking, under the full hash-checked oracle.
_RECALL_NQ = 20
_RECALL_K = 10
_RECALL_IVF_CELLS = 16   # q_sim_ivf's n_centroids
_RECALL_IVF_ITERS = 2
_RECALL_NPROBE = 4       # q_sim_ivf's production nprobe
_RECALL_BITS = 4         # q_sim_ann's production bits
_RECALL_TABLES = 8       # q_sim_ann's production tables
_RECALL_DIM = 64


def q_sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT RECALL@10 of the two approximate similarity read paths at
    production geometry, against the brute-force ranking — turning
    "approx by design" from unmeasured into a hash-checked number
    (round 13, VERDICT r12 item 4).  Output: one row per (path, query):
    (path, q_id, n_cand, n_hits, recall_at_10).

    Both legs are the ORACLE-REPLAYABLE twins of the production
    operators — same geometry, engine-portable seeds — so DuckDB
    replays candidate generation, re-rank and the recall join
    bit-for-bit:

    * ``ivf_nprobe4``: coarse quantizer = fixed-point Lloyd's k-means
      (ml.kmeans_fit, the q_kmeans contract: lowest-id init, integer
      distances, ties to smaller cluster), 16 cells / 2 iterations;
      queries probe their 4 nearest cells; exact cosine re-rank top-10
      (6-dp, ties to smaller id).  Same shape as S.ivf_topk(16, 4) —
      the quantizer differs only in its oracle-replayable init/update
      discipline.
    * ``srp_lsh_b4x8``: Charikar SRP-LSH, 4 bits × 8 tables (the
      q_sim_ann config), hyperplanes = md5-derived ±1 INTEGER literals
      shared with the oracle (S.srp_planes_md5 — the _NDCG_DISC
      discipline); projections run on the quantized vector in exact
      int64 (one Arrow numpy matmul Spark-side, list folds in DuckDB —
      order-independent, no sign-parity risk); candidates = any shared
      (table, bucket); same re-rank.

    The recall join itself is the measurement: hits = |ANN top-10 ∩
    brute top-10| per query.  The brute ranking is _brute_topk, shared
    with q_eval_ndcg.
    Scale shape: both candidate generators are the bounded-bucket
    plans of their production twins; the re-rank and recall joins run
    at candidate/top-k grain, never corpus²."""
    from pyspark.sql import Window as W

    from fossa_spark import ml

    # the embeddings relation feeds queries, both candidate generators
    # and the re-rank — persist so each consumer reads blocks instead of
    # replaying the scan + spread() shuffle (round 14)
    e = spread(load(spark, sf_dir, "embeddings"), spark).persist()
    brute = _brute_topk(e, n_q=_RECALL_NQ, k=_RECALL_K).select("q_id", "c_id")
    qids = e.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("q_id")
    )

    # --- IVF leg: oracle-replayable coarse quantizer + nprobe probe.
    # Centroids + assignment are INDEX state (train once, probe many).
    vecs = ml.quantize_vectors(e)
    cents, assign = ml.kmeans_fit(
        vecs, k=_RECALL_IVF_CELLS, iters=_RECALL_IVF_ITERS
    )
    qe = vecs.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("q_id"), F.posexplode("qv").alias("pos", "qval")
    )
    qd = qe.join(cents, "pos").groupBy("q_id", "cluster").agg(
        F.sum(
            (F.col("qval") - F.col("v")) * (F.col("qval") - F.col("v"))
        ).alias("dist")
    )
    wq = W.partitionBy("q_id").orderBy(
        F.col("dist").asc(), F.col("cluster").asc()
    )
    probed = (
        qd.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _RECALL_NPROBE)
        .select("q_id", "cluster")
    )
    ivf_cand = (
        probed.join(
            assign.select(F.col("vec_id").alias("c_id"), "cluster"), "cluster"
        )
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        # candidate-grain (bucket-bounded); consumed by BOTH the re-rank
        # and the per-query count — without this the probe join re-ran
        # per consumer (round 14)
        .localCheckpoint(eager=True)
    )

    # --- SRP-LSH leg: md5-literal hyperplanes, shared-bucket candidates.
    sigs = S.srp_sigs_md5(
        e, "vec_id", "embedding", bits=_RECALL_BITS, tables=_RECALL_TABLES,
        dim=_RECALL_DIM,
    )
    qs = sigs.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("q_id"), "tbl", "sig"
    )
    cs = sigs.select(F.col("vec_id").alias("c_id"), "tbl", "sig")
    lsh_cand = (
        qs.join(cs, ["tbl", "sig"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
        .localCheckpoint(eager=True)  # same two-consumer shape as ivf_cand
    )

    def leg(path: str, cand: DataFrame) -> DataFrame:
        top = S.rerank_pairs(cand, e, k=_RECALL_K)
        n_cand = cand.groupBy("q_id").agg(F.count(F.lit(1)).alias("_nc"))
        n_hits = (
            top.join(brute, ["q_id", "c_id"])
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).alias("_nh"))
        )
        return (
            qids.join(n_cand, "q_id", "left")
            .join(n_hits, "q_id", "left")
            .select(
                F.lit(path).alias("path"),
                "q_id",
                F.coalesce("_nc", F.lit(0)).cast("long").alias("n_cand"),
                F.coalesce("_nh", F.lit(0)).cast("long").alias("n_hits"),
            )
        )

    return (
        leg("ivf_nprobe4", ivf_cand)
        .unionByName(leg("srp_lsh_b4x8", lsh_cand))
        .withColumn(
            "recall_at_10",
            F.col("n_hits").cast("double") / F.lit(float(_RECALL_K)),
        )
        .orderBy("path", "q_id")
    )


def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection 64-d → 8-d over the embeddings table (llm/
    similarity.py pca_project): exact integer Gram accumulation, driver
    eigh on dim² scalars, Arrow-batched projection. rows-only (eigen-
    decomposition is not SQL-expressible); pytest asserts orthonormality,
    variance ordering and bit-reproducibility.

    Round 7: the query-level output is posexploded to flat scalars
    (vec_id, component, value) — the library API (pca_project) still
    returns the array<double> column, but the driver's materialization
    canonicalizes via a pandas hash table that cannot factorize
    list-valued cells (r06: TypeError unhashable type 'list'), so every
    REGISTERED query emits only scalar columns (guard:
    tests/test_oracle_parity.py)."""
    # multi-consumer relation: persist (round 14, see q_sim_recall)
    e = load(spark, sf_dir, "embeddings").persist()
    p = S.pca_project(e, n_components=8, dim=64)
    return p.select(
        "vec_id", F.posexplode("pca").alias("component", "value")
    ).orderBy("vec_id", "component")


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick sparse features (llm/text.py feature_hash) for the
    first 100 docs: (doc, bucket, tf) triplets over 256 md5 buckets —
    vocabulary-free vectorization, one explode + one groupBy."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return X.feature_hash(d).orderBy("doc_id", "bucket")


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies (tokenize → explode → count)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
    )


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smooth idf, lexicographic tie-
    break). Explode → two aggregations + a broadcast vocabulary join +
    one per-doc window; no corpus-sized self-join (llm/text.py
    tfidf_top_terms)."""
    d = load(spark, sf_dir, "documents")
    return X.tfidf_top_terms(d, k=5).orderBy("doc_id", "rk")


def q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with idf-weighted shingle cosine >= 0.4 over the
    df-capped inverted index (llm/text.py tfidf_cosine_pairs — Bayardo
    WWW'07 all-pairs shape: pair work is sum-over-shingles of df^2 with
    df <= 20, never |corpus|^2). Weighted near-dup detection — the
    idf-weighted complement of q_dedup_ngram's unweighted Jaccard.
    Exact integer dots/norms + three correctly-rounded IEEE ops make the
    cosine hash-matchable. spread(): shingle construction is CPU-bound
    per doc and the fixture scan yields few row-group splits."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    return X.tfidf_cosine_pairs(d, shingle_k=3, max_df=20, min_cos=0.4).orderBy(
        "doc_a", "doc_b"
    )


_BM25_TERMS = ("hash", "join", "vector")


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: top-50 docs for a 3-term query (llm/text.py
    bm25_topk). Postings filtered to the query terms BEFORE the shuffle,
    df broadcast back, per-term scores pivoted to fixed columns so the
    cross-term sum is order-fixed; global top-k via orderBy+limit
    (TakeOrderedAndProject), never a corpus-wide window."""
    d = load(spark, sf_dir, "documents")
    return X.bm25_topk(d, _BM25_TERMS, k=50).orderBy("rk")


def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (llm/similarity.py
    rrf_fuse; Cormack et al. SIGIR'09): fuse the DENSE ranking (cosine
    top-50 for the vec_id=0 embedding — vec_id aligns 1:1 with doc_id in
    the fixture) with the SPARSE ranking (BM25 top-50 for the fixed
    3-term keyword query) into one top-20.  The fusion itself joins two
    50-row lists — control-plane-sized, both sides broadcast; the corpus
    is touched only by the two underlying retrievals, each already
    scale-shaped (broadcast-query cosine pass, prefiltered BM25
    postings).  1/(k0+rank) terms are single IEEE divisions summed in
    fixed order, so the oracle hash-matches exactly."""
    d = load(spark, sf_dir, "documents")
    e = spread(load(spark, sf_dir, "embeddings"), spark)
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    dense = S.brute_force_topk(q, c, k=50).select(
        F.col("c_id").alias("doc_id"), F.col("rk").alias("rk_dense")
    )
    sparse = X.bm25_topk(d, _BM25_TERMS, k=50).select(
        "doc_id", F.col("rk").alias("rk_sparse")
    )
    return S.rrf_fuse(
        [(dense, "rk_dense"), (sparse, "rk_sparse")], k0=60, k=20
    ).orderBy("rk")


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score per document (the CCNet-style
    perplexity ranking signal, with a SQL-expressible unigram LM): add-one
    smoothing over the top-100 corpus vocabulary, one OOV bucket,
    log-probs as exact 1e8-scaled integers so the doc sum is
    order-independent (llm/text.py lm_score)."""
    d = load(spark, sf_dir, "documents")
    return X.lm_score(d, vocab_k=100).orderBy("doc_id")


def q_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score per document (round 12,
    llm/text.py lm_bigram_score) — one Markov order above q_lm_score:
    top-100-vocabulary OOV mapping first, then add-one-smoothed
    P(w2|w1) over the mapped alphabet, per-token log-probs as exact
    1e8-scaled integers, one double division at the end.  The corpus
    pays one vocabulary explode and one (doc, w1, w2) groupBy; every
    model table is vocabulary-bounded and broadcast."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    return X.lm_bigram_score(d, vocab_k=100).orderBy("doc_id")


def q_domain_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence against the corpus unigram distribution
    (round 12, llm/text.py domain_kl) — the domain-shift signal for
    mixture curation: add-one-smoothed top-100-vocab distributions,
    each KL term rounded to an exact 1e8-integer before the bigint sum
    (order-independent; a raw double Σ is not associative).  Every
    model relation is vocabulary-bounded; the corpus pays one explode
    + one (domain, token) groupBy."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    return X.domain_kl(d, by="source", vocab_k=100).orderBy("domain")


def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch under an EXACT oracle — possible because the hash
    rows use md5 bucketing, which both engines compute identically (the
    usual sketch ops are rows-only; this one hash-verifies end-to-end).

    Build: 4 hash rows × 64 buckets over the corpus token stream — one
    groupBy of (seed, bucket), fully mergeable (the 100 TB shape: per-
    partition partial counts combine map-side; sketches from disjoint
    corpus shards ADD). Probe: the exact top-20 tokens, estimate =
    min over rows of their bucket counts; CMS guarantees est ≥ exact,
    surfaced as overcount = est - exact (≥ 0 always, and the driver hash
    locks the exact collision pattern).

    Round 14 (guide §2.3 — aggregate before you shuffle): the sketch is
    built from the TOKEN-COUNT table, not the raw occurrence stream.
    count(seed, bucket) ≡ Σ exact_cnt over the bucket's member tokens,
    so the corpus is tokenized ONCE (map-side-combined groupBy(token)),
    md5 runs 4×|vocab| times instead of 4×|occurrences|, and the 4-way
    explode fans out vocab-grain rows instead of the corpus stream.
    The count table is checkpointed (vocab-sized) because both the
    sketch and the exact top-20 consume it."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    toks = d.select(F.explode(X.tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    seeds = F.array([F.lit(i) for i in range(4)])

    def bucket(seed_col, token_col):
        h2 = F.substring(
            F.md5(F.concat_ws(":", seed_col.cast("string"), token_col)), 1, 2
        )
        return (F.conv(h2, 16, 10).cast("long") % 64).alias("bucket")

    tok_counts = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .localCheckpoint(eager=True)
    )
    hashed = tok_counts.select(
        "token", "exact_cnt", F.explode(seeds).alias("seed")
    )
    cms = hashed.groupBy(
        "seed", bucket(F.col("seed"), F.col("token"))
    ).agg(F.sum("exact_cnt").alias("cnt"))

    top = tok_counts.orderBy(
        F.col("exact_cnt").desc(), F.col("token").asc()
    ).limit(20)
    probe = top.select(
        "token", "exact_cnt", F.explode(seeds).alias("seed")
    ).select("token", "exact_cnt", "seed", bucket(F.col("seed"), F.col("token")))
    return (
        probe.join(F.broadcast(cms), ["seed", "bucket"])
        .groupBy("token")
        .agg(
            F.first("exact_cnt").alias("exact_cnt"),
            F.min("cnt").alias("est_cnt"),
        )
        .select(
            "token",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("token").asc())
    )


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document exact-substring (repeated word-8-gram) removal —
    Lee-et-al-style self-dedup (llm/dedup.py remove_repeated_ngrams).
    The fixture corpus has no natural 8-gram self-repeats, so docs with
    doc_id % 3 == 0 get their first 16 tokens re-appended (the
    _augmented_pii planting pattern): removal provably fires for exactly
    those docs and the cleaned-text md5 locks the surviving content.
    spread: the rolling-hash scan is per-doc CPU-bound (see _util)."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    first16 = F.concat_ws(
        " ", F.slice(F.split(F.lower(F.col("text")), " "), 1, 16)
    )
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lower(F.col("text")), F.lit(" "), first16),
        )
        .otherwise(F.lower(F.col("text")))
        .alias("text"),
    )
    from fossa_spark.llm.dedup import remove_repeated_ngrams

    return remove_repeated_ngrams(aug, k=8).orderBy("doc_id")


def q_dedup_minhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(8 bands × 2) near-dedup whose ENTIRE chain —
    signatures, banding, candidate set, Jaccard verify — hash-verifies
    against DuckDB: universal (a·h+b mod P) permutations over an
    md5-derived base replace the JVM-only xxhash64 of q_dedup_near
    (llm/dedup.py minhash_signatures_universal). Band keys are the raw
    signature pairs (no bucket hash needed — the pair IS the key), the
    self-join is banded, the verify reuses the pinned sort-merge exact-
    Jaccard path. The throughput default stays xxhash64; this variant is
    the auditable one.

    Round 14 NEGATIVE RESULT (guide §1 — measure first): persisting the
    exploded shingle relation for its four consumers (the
    minhash_lsh_dedup house pattern) was tried and MEASURED OUT — solo
    warm went 3.3 → 20.1 s at sf0.1.  The columnar InMemoryRelation of
    the corpus-wide (doc_id, _sh) explode costs more to build and read
    than the recompute it saves, the same pathology as the setsim r6 and
    pca_ivf r14 negative results: Catalyst's inline form lets the verify
    joins and the signature aggregate share scan subtrees, while the
    cache boundary forces every consumer through the (spilling)
    row-cache read path.  Keep the relation inline."""
    from fossa_spark.llm import dedup as D

    d = spread(load(spark, sf_dir, "documents"), spark)
    sh_rows = d.select(
        "doc_id", F.explode(D.word_shingles("text", k=5)).alias("_sh")
    )
    cands = D.minhash_universal_candidates(sh_rows, "doc_id", 16, 8)
    return D._jaccard_verify_rows(cands, sh_rows, "doc_id", 0.5).orderBy(
        "id_a", "id_b"
    )


def q_contamination_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan at SPAN grain (round 13 — the Lee
    et al. 2022 use case of the q_dedup_span substrate): every maximal
    ≥ 16-token verbatim span shared between the held-out benchmark
    slice (rep_id % 5 == 0, at distinct-text-representative grain) and
    the training remainder.  The word-3-gram scan (q_contamination)
    flags ANY shared phrase; this is the memorization-grade signal — a
    contiguous quotation long enough to matter.  Plan: the benchmark
    anchor set broadcasts; the corpus anchor table (the q_dedup_span
    substrate) is pruned map-side to benchmark-colliding hashes
    before any shuffle, so the corpus never exchanges (see
    llm/dedup.py cross_span_pairs).  Scope (ADVICE r13): the scan runs
    at distinct-text-representative grain, so a training doc that is an
    exact COPY of a benchmark doc collapses into one rep and appears
    here as no pair — full-copy contamination is q_dedup_exact's
    multi-copy report; this query covers the embedded-quotation case
    exact dedup cannot see.  Oracle replays anchors → prune →
    cap → join → islands verbatim."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    anchors = D.span_anchors(d, k=8)
    return D.cross_span_pairs(
        anchors, F.col("rep_id") % 5 == 0, k=8, min_tokens=16, max_df=100
    ).orderBy("bench_id", "train_id", "start_bench", "start_train")


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. SIGMOD 2003 —
    the MOSS selection) over the anchor substrate shared with
    q_dedup_span: per distinct-text document, the selected-fingerprint
    count, density (≈ 2/(w+1)), and an md5 digest of the selected
    (pos:hash) sequence — the sampled index a 100 TB pipeline stores
    instead of every anchor, with the guarantee that any ≥ w+k-1 = 16
    token shared run shares a fingerprint (matching q_dedup_span's
    min_tokens).  One window pass over the anchor table; the oracle
    replays the struct-min window selection, the rightmost-position
    tie-break, and the short-document global-min rule verbatim."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    anchors = D.span_anchors(d, k=8)
    fp = D.winnow_fingerprints(anchors, w=9)
    n_anchors = anchors.groupBy("rep_id").agg(
        F.count(F.lit(1)).alias("n_anchors")
    )
    per = fp.groupBy("rep_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "h"))),
                    lambda s: F.concat_ws(
                        ":",
                        s["pos"].cast("string"),
                        s["h"].cast("string"),
                    ),
                ),
                ",",
            )
        ).alias("fp_digest"),
    )
    return (
        n_anchors.join(per, "rep_id")
        .select(
            F.col("rep_id").alias("doc_id"),
            "n_anchors",
            "n_fingerprints",
            F.round(
                F.col("n_fingerprints").cast("double")
                / F.col("n_anchors").cast("double"),
                8,
            ).alias("density"),
            "fp_digest",
        )
        .orderBy("doc_id")
    )


def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH RECALL accounting against the exact n-gram-Jaccard
    ground truth (round 13, the dedup half of VERDICT r12 item 4 /
    Missing 2): for every true near-dup pair (word-5-gram Jaccard ≥ 0.5
    over the capped universe — the q_dedup_ngram relation), did the
    banded universal-MinHash chain (16 hashes, 8 bands × 2 — the
    q_dedup_near / q_dedup_minhash_exact geometry) surface it as a
    CANDIDATE?  Output: one row per Jaccard decile (bucket 5 = [0.5,
    0.6) … bucket 10 = exact dups) with (n_truth, n_found, recall) —
    the measured LSH S-curve, fully hash-checked because every stage
    (truth shingles, universal permutations, banding, the recall join)
    is engine-replayable.  Scale shape: both inputs are the bounded
    pair relations of their parent queries (hot-shingle cap / banded
    buckets); the recall join runs at pair grain."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    truth = D.ngram_jaccard_pairs(d, k=5, min_jaccard=0.5, max_df=100).select(
        "id_a", "id_b", "jaccard"
    )
    sh_rows = d.select(
        "doc_id", F.explode(D.word_shingles("text", k=5)).alias("_sh")
    )
    cands = D.minhash_universal_candidates(sh_rows, "doc_id", 16, 8)
    joined = truth.join(
        cands.withColumn("_found", F.lit(1)), ["id_a", "id_b"], "left"
    )
    agg = (
        joined.withColumn(
            "jaccard_bucket", F.floor(F.col("jaccard") * 10).cast("int")
        )
        .groupBy("jaccard_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum(F.coalesce(F.col("_found"), F.lit(0)))
            .cast("bigint")
            .alias("n_found"),
        )
    )
    return agg.select(
        "jaccard_bucket",
        "n_truth",
        "n_found",
        F.round(
            F.col("n_found").cast("double") / F.col("n_truth").cast("double"),
            8,
        ).alias("recall"),
    ).orderBy("jaccard_bucket")


def q_dedup_span_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN REMOVAL (round 14 — the intervention half of Lee et al.
    2022, completing q_dedup_span the way q_pii_redact completes
    q_pii_scan): every shared ≥ 16-token span keeps its min-id
    occurrence and is SPLICED out of every other occurrence.  One row
    per affected distinct-text representative: original token count,
    removed-token count (position union of all non-keeper intervals,
    so overlapping spans never double-count), removal-interval count,
    and the md5 digest of the rewritten text.  Scale shape
    (llm/dedup.py remove_shared_spans): the span relation is match
    grain and collapses to one interval-array row per affected doc;
    untouched documents never move, and the splice is an in-row
    position filter — no token-grain shuffle.  The oracle replays the
    span chain, then the splice at token grain (position ∈ interval
    EXISTS, string_agg ORDER BY position)."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    out = D.remove_shared_spans(d, k=8, min_tokens=16, max_df=100)
    return out.select(
        F.col("rep_id").alias("doc_id"),
        "n_tokens",
        "removed_tokens",
        "n_spans",
        F.md5("new_text").alias("new_digest"),
    ).orderBy("doc_id")


def q_dedup_span_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow-INDEXED span dedup recall (round 14 — VERDICT r13
    Missing 2): candidate generation runs on the winnowed fingerprint
    table (~2/(w+1) of all anchors — the substrate a 100 TB pipeline
    stores, cutting the dominant match-generation shuffle ~4.5×)
    instead of the full anchor table, and this query MEASURES what
    that sampling costs against the full-anchor truth
    (q_dedup_span's relation): per span-length bucket (16/32/64/128),
    how many true shared spans have at least one winnowed candidate
    on their diagonal inside the span.  The Schleimer et al. guarantee
    says every shared run of ≥ w + k - 1 = 16 tokens selects a common
    aligned fingerprint in both documents, so recall should measure
    1.0 in every bucket — proven here the q_dedup_recall way, not
    assumed.  Scale shape: fingerprint self-join is count-gated
    (hot-hash cap before any pair), truth is computed only for the
    accounting, the recall join runs at span grain."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    anchors = D.span_anchors(d, k=8)
    truth = D.shared_span_pairs(
        d, k=8, min_tokens=16, max_df=100, anchors=anchors
    )
    cand = D.winnow_span_candidates(
        D.winnow_fingerprints(anchors, w=9), max_df=100
    )
    hit = (
        truth.join(cand, ["id_a", "id_b"])
        .filter(
            (F.col("_diag") == F.col("start_a") - F.col("start_b"))
            & F.col("pos_a").between(
                F.col("start_a"),
                F.col("start_a") + F.col("span_tokens") - 8,
            )
        )
        .select("id_a", "id_b", "start_a", "start_b")
        .distinct()
        .withColumn("_found", F.lit(1))
    )
    bk = truth.join(
        hit, ["id_a", "id_b", "start_a", "start_b"], "left"
    ).select(
        F.when(F.col("span_tokens") < 32, 16)
        .when(F.col("span_tokens") < 64, 32)
        .when(F.col("span_tokens") < 128, 64)
        .otherwise(128)
        .cast("long")
        .alias("len_bucket"),
        F.coalesce(F.col("_found"), F.lit(0)).alias("_f"),
    )
    return (
        bk.groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.sum("_f").cast("long").alias("n_found"),
            F.round(
                F.sum("_f").cast("double")
                / F.count(F.lit(1)).cast("double"),
                8,
            ).alias("recall"),
        )
        .orderBy("len_bucket")
    )


def q_embed_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus — the
    feature-normalization pass before clustering/ANN training. Exactness
    playbook: values quantize to 1e6-integers (per-value, deterministic),
    per-dimension moments (n, Σv, Σv² in DECIMAL(38,0) — Σv² overflows
    int64 at corpus scale) aggregate exactly, the 64-row dimension-stats
    table BROADCASTS back onto the exploded grain, and per-vector z sums
    are 1e8-integers so no float accumulation order can flip the hash.
    Scale shape: posexplode → one (pos) agg → broadcast join → one
    (vec_id) agg; the corpus shuffles once per grain, never pairwise."""
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id",
        "pos",
        F.round(F.col("val").cast("double") * 1e6).cast("long").alias("vi"),
    )
    vdec = F.col("vi").cast("decimal(38,0)")
    dims = x.groupBy("pos").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("vi").cast("double").alias("s"),
        F.sum(vdec * vdec).cast("double").alias("q"),
    )
    j = x.join(F.broadcast(dims), "pos")
    z = (
        (F.col("vi").cast("double") / 1e6 - F.col("s") / F.col("n") / 1e6)
        / (F.sqrt(F.col("n") * F.col("q") - F.col("s") * F.col("s"))
           / F.col("n") / 1e6)
    )
    scored = j.select(
        "vec_id",
        F.round(z * 1e8).cast("long").alias("zi"),
        (F.abs(z) > 2.0).cast("long").alias("clip"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.sum("clip").alias("n_clipped"),
            F.sum("zi").alias("sum_z"),
            F.round(F.sum("zi").cast("double") / 64.0 / 1e8, 8).alias("mean_z"),
        )
        .orderBy("vec_id")
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus stats + length-bucket distribution."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") < 200, F.lit("short"))
        .when(F.col("n_chars") < 400, F.lit("medium"))
        .otherwise(F.lit("long"))
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avg_chars"
            ),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.when(bucket == "short", 1).otherwise(0)).alias("n_short"),
            F.sum(F.when(bucket == "medium", 1).otherwise(0)).alias("n_medium"),
            F.sum(F.when(bucket == "long", 1).otherwise(0)).alias("n_long"),
        )
        .orderBy("source")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (ratios of exact ints)."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    feats = X.quality_features(d)
    return feats.select(
        "doc_id",
        "n_tokens",
        "n_punct",
        "n_stop",
        "punct_ratio",
        "stop_ratio",
        "avg_token_len",
    ).orderBy("doc_id")


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID confusion matrix vs the labeled lang column —
    oracle-backed: the DuckDB argmax SQL is GENERATED from the same
    LANG_PROFILES constant, so the two sides cannot drift."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    scored = X.language_scores(d)
    return (
        scored.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form fingerprint (sorted distinct token set → md5)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", X.fingerprint("text").alias("fp")).orderBy("doc_id")


def q_tok_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways (whitespace; alnum-run regex) + corpus sums."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            X.token_count_ws("text").alias("ws"),
            X.token_count_regex("text").alias("re"),
        )
        .groupBy("source")
        .agg(
            F.sum("ws").alias("ws_tokens"),
            F.sum("re").alias("re_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing: synthetic media table (REAL payloads for all
    three kinds — PNG images, PCM WAV audio, mono Y4M video) → Arrow-batched
    feature extraction with the real decoders (decode_stub=False) →
    per-kind aggregate. rows-only."""
    media = M.synthetic_media(spark, n=64)
    feats = M.extract_features(media, decode_stub=False)
    return (
        feats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.size(F.first("feature")).alias("feat_dim"),
            F.round(F.avg(F.element_at("feature", 1)), 6).alias("avg_feat0"),
        )
        .orderBy("kind")
    )


def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection by perceptual hash (round 10,
    llm/multimodal.py image_phash/phash_near_dup): 48 id-seeded random
    PNGs + planted near-identical copies (20 pixels perturbed — enough
    to flip 0-2 hash bits, so the Hamming filter is really exercised, not
    just band equality) of every 4th image → real stdlib PNG decode →
    64-bit average-hash → SimHash-
    style pigeonhole banding (4 x 16-bit slices: any pair within
    Hamming 3 shares an exact slice) → exact bit_count Hamming filter.
    The multimodal sibling of q_dedup_simhash — candidates come from
    band equi-joins, never an all-pairs scan. rows-only (binary decode
    in Python has no SQL oracle); the planted copies' recovery is
    pytest-pinned."""
    base = M.synthetic_random_images(spark, n=48)
    media = base.unionByName(M.perturb_images(base, every=4, flips=20))
    pairs = M.phash_near_dup(M.image_phash(media), max_hamming=3)
    return pairs.orderBy("id_a", "id_b")


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-duplicate detection by envelope fingerprint (round 10,
    llm/multimodal.py audio_fingerprint): 48 id-seeded noise WAV clips +
    planted noisy copies (3% additive noise) of every 4th clip → real
    stdlib WAV decode → block-RMS envelope → 64-bit sign-of-delta hash
    (envelope dHash, the one-band Chromaprint shape) → the SAME
    pigeonhole banding + bit_count Hamming dedup the image path uses
    (phash_near_dup is modality-agnostic over (media_id, phash)).
    rows-only; recovery of the planted copies is pytest-pinned."""
    base = M.synthetic_random_audio(spark, n=48)
    media = base.unionByName(M.perturb_audio(base, every=4, amp=512))
    pairs = M.phash_near_dup(
        M.audio_fingerprint(media), max_hamming=3
    )
    return pairs.orderBy("id_a", "id_b")


def q_video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-duplicate detection by temporal fingerprint (round 10,
    llm/multimodal.py video_fingerprint — completing the modality trio):
    48 id-seeded noise Y4M clips + planted noisy copies of every 4th
    clip -> real stdlib Y4M decode -> per-frame spatial-mean envelope ->
    64-bit sign-of-delta hash over 65 temporal windows -> the SAME
    banded Hamming dedup as images and audio (phash_near_dup delegates
    to dedup.simhash_pairs: one banding implementation, three
    modalities). rows-only; planted-copy recovery pytest-pinned."""
    base = M.synthetic_random_videos(spark, n=48)
    media = base.unionByName(M.perturb_videos(base, every=4, amp=3))
    pairs = M.phash_near_dup(
        M.video_fingerprint(media), max_hamming=3
    )
    return pairs.orderBy("id_a", "id_b")


def q_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full training-data pipeline transform (quality gates → langid →
    exact dedup → MinHash-LSH near-dedup → token annotations). The
    transform runs one action — it collects the verified near-duplicate
    pairs — and the relations it cached for that are released before
    returning, so the returned plan recomputes the exact-dedup rows when
    collected. rows-only (near-dedup stage uses seeded xxhash64)."""
    from fossa_spark.pipelines import TrainingDataPipeline

    docs = load(spark, sf_dir, "documents")
    p = TrainingDataPipeline(spark=spark)
    out = p.transform(docs).orderBy("doc_id")
    p.release()
    return out


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (arXiv:2303.09540): KMeans-cluster
    the embeddings, connect within-cluster cosine >= 0.35 pairs into
    components, keep the member farthest from its centroid per component.
    rows-only: the trained quantizer is not SQL-expressible."""
    e = load(spark, sf_dir, "embeddings")
    return (
        D.semantic_dedup(e, "vec_id", "embedding", threshold=0.35)
        .orderBy("component")
    )


def q_dedup_setsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join via prefix filtering (AllPairs/PPJoin):
    word-3-shingle-set Jaccard >= 0.5 pairs with NO approximation —
    candidates come only from shared rare-prefix shingles (prefix length
    ~ n*(1-t)+1), never an all-pairs product and never a hot-element cap
    (the prefix filter bounds fan-in structurally: common shingles never
    enter a prefix). Shingle sets, not unigram tokens: this corpus's
    unigram vocabularies overlap so heavily that token-set Jaccard is
    non-discriminative (92k of 125k possible pairs pass 0.5 at sf0.01).
    The oracle brute-forces the same Jaccard in SQL; results are
    identical because prefix filtering has no false negatives.

    Round 5: the trigram sets come from shingle_hash_rows (the Arrow
    path — no shingle strings), finishing the dedup family's HOF
    retirement; outputs are counts, so the hash-family swap is
    value-invariant (hash-parity re-checked at sf0.01 + sf0.1).
    Round 6 NEGATIVE RESULT: writing this k=3 relation to parquet once
    and reading it back was tried and MEASURED OUT — setsim's
    engine reads the token relation through ~5 subtrees that
    ReusedExchange collapses when inline, but a parquet-backed input is
    rescanned per subtree (sf1 warm 5.6 → 13.2 s).  Keep it inline."""
    d = load(spark, sf_dir, "documents")
    rows = D.shingle_hash_rows(d, "text", "doc_id", k=3).select(
        "doc_id", F.col("_sh").alias("tok")
    )
    return D.setsim_join(d, threshold=0.5, tok_rows=rows).orderBy(
        "id_a", "id_b"
    )


def q_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive near-dup detection (llm/dedup.py dedup_pairs_auto): the
    one-aggregate candidate-mass pre-flight picks the EXACT prefix join
    in the linear regime and the LSH-verified path on duplication-
    saturated corpora (setsim_join's measured sf10 boundary, made into
    an operator).  At every verification scale the fixture is linear, so
    the choice is deterministically 'exact_prefix' and the brute-force
    SQL oracle covers the whole output including the strategy column."""
    d = load(spark, sf_dir, "documents")
    return D.dedup_pairs_auto(d, threshold=0.5, k=3).orderBy("id_a", "id_b")


_BPE_MERGE_CACHE: dict = {}


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 4 BPE merges, then TOKENIZE the corpus with them (llm/text.py
    bpe_apply): per-doc learned-subword counts and compression ratio.
    The merge table is control-plane-sized (8 rows collected); encoding
    runs once per distinct WORD TYPE (Arrow-batched) and broadcast-joins
    back, so no document text passes through Python. Oracle-backed since
    round 11: the greedy encode loop equals sequential one-pass-per-rank
    rewriting (see _bpe_tokenize_oracle), which unrolls to SQL; pytest
    additionally pins the encoding round-trip."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    # train-once / tokenize-per-batch, the operational shape (a deployment
    # persists the merge table; the 8-row list is control-plane-sized) —
    # mirrors q_dedup_incremental's build-once index caching
    key = (id(spark), sf_dir)
    merges = _BPE_MERGE_CACHE.get(key)
    if merges is None:
        merge_rows = X.bpe_train(d, n_merges=4).orderBy("merge_rank").collect()
        merges = [(r.left, r.right) for r in merge_rows]
        _BPE_MERGE_CACHE[key] = merges
    return X.bpe_apply(d, merges).orderBy("doc_id")


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training (arXiv:1508.07909) over the documents corpus:
    the 8 most frequent adjacent symbol pairs learned greedily from
    characters, iterating on the vocabulary-sized word-type table (the
    corpus is scanned once). Oracle-backed since round 11 (VERDICT r10
    item 4): every round is deterministic (argmax tie-break count desc,
    left asc, right asc; greedy left-to-right apply), so the 8 rounds
    unroll as chained CTEs — the q_pagerank/q_kmeans discipline; known-
    corpus merges additionally asserted in tests/test_llm.py.
    spread(): the one corpus pass (tokenize + word-type count) is
    CPU-bound per doc and the fixture scan yields 1-2 partitions
    (sf1 isolated warm 12.9 s -> see BENCHLOG r11)."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    return X.bpe_train(d, n_merges=8).orderBy("merge_rank")


QUERIES = {
    "q_pipeline": q_pipeline,
    "q_dedup_semantic": q_dedup_semantic,
    "q_dedup_setsim": q_dedup_setsim,
    "q_dedup_auto": q_dedup_auto,
    "q_bpe_train": q_bpe_train,
    "q_bpe_tokenize": q_bpe_tokenize,
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_near": q_dedup_near,
    "q_dedup_ngram": q_dedup_ngram,
    "q_dedup_consensus": q_dedup_consensus,
    "q_dedup_containment": q_dedup_containment,
    "q_dedup_boilerplate": q_dedup_boilerplate,
    "q_dedup_triangles": q_dedup_triangles,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_span": q_dedup_span,
    "q_dedup_span_remove": q_dedup_span_remove,
    "q_dedup_span_winnow": q_dedup_span_winnow,
    "q_dedup_recall": q_dedup_recall,
    "q_contamination_span": q_contamination_span,
    "q_text_winnow": q_text_winnow,
    "q_dedup_embed": q_dedup_embed,
    "q_dedup_incremental": q_dedup_incremental,
    "q_dedup_incremental_exact": q_dedup_incremental_exact,
    "q_index_compact": q_index_compact,
    "q_quality_model": q_quality_model,
    "q_sim_topk": q_sim_topk,
    "q_eval_ndcg": q_eval_ndcg,
    "q_sim_ann": q_sim_ann,
    "q_sim_ann_exact": q_sim_ann_exact,
    "q_sim_ivf": q_sim_ivf,
    "q_sim_ivf_index": q_sim_ivf_index,
    "q_sim_index_exact": q_sim_index_exact,
    "q_sim_recall": q_sim_recall,
    "q_sim_pq_exact": q_sim_pq_exact,
    "q_sim_pca_ivf": q_sim_pca_ivf,
    "q_sim_pq": q_sim_pq,
    "q_embed_pca": q_embed_pca,
    "q_text_tokens": q_text_tokens,
    "q_text_bm25": q_text_bm25,
    "q_rank_fusion": q_rank_fusion,
    "q_feature_hash": q_feature_hash,
    "q_tfidf": q_tfidf,
    "q_tfidf_cosine": q_tfidf_cosine,
    "q_multimodal_phash": q_multimodal_phash,
    "q_audio_fingerprint": q_audio_fingerprint,
    "q_video_fingerprint": q_video_fingerprint,
    "q_lm_score": q_lm_score,
    "q_lm_bigram": q_lm_bigram,
    "q_domain_kl": q_domain_kl,
    "q_sketch_cms": q_sketch_cms,
    "q_embed_standardize": q_embed_standardize,
    "q_dedup_substring": q_dedup_substring,
    "q_dedup_minhash_exact": q_dedup_minhash_exact,
    "q_text_stats": q_text_stats,
    "q_text_quality": q_text_quality,
    "q_text_langid": q_text_langid,
    "q_text_fingerprint": q_text_fingerprint,
    "q_tok_count": q_tok_count,
    "q_multimodal": q_multimodal,
}

# one unrolled fixed-point GD iteration for q_quality_model's oracle:
# w{p} -> w{t} (see llm/classifier.py for the integer contract)
_LR_ITER = """z{t} AS (
          SELECT doc_id, CAST(SUM(cnt * w) AS BIGINT) AS z
          FROM feats JOIN w{p} USING (f) GROUP BY doc_id
        ),
        e{t} AS (
          SELECT doc_id,
                 CAST(LEAST(GREATEST(500000 + (z - (((z % 4) + 4) % 4)) // 4,
                                     0), 1000000) - y * 1000000 AS BIGINT) AS e
          FROM z{t} JOIN lab USING (doc_id)
        ),
        g{t} AS (
          SELECT f, CAST(SUM(e * cnt) AS BIGINT) AS g
          FROM feats JOIN e{t} USING (doc_id) GROUP BY f
        ),
        w{t} AS (
          SELECT f, CAST(w - (g - (((g % k) + k) % k)) // k AS BIGINT) AS w
          FROM w{p} JOIN g{t} USING (f) CROSS JOIN c
        )"""

def _sim_recall_sql() -> str:
    """q_sim_recall's oracle: the shared fixed-point k-means CTE chain
    (ml_queries._kmeans_cte_chain — bit-identical quantizer replay) +
    nprobe cell probe + md5-literal SRP signatures (the same
    S.srp_planes_md5 constants pasted as list literals) + the _DOT
    cosine re-rank + the recall join, all in one WITH-list."""
    from fossa_spark import ml as _ml
    from fossa_spark.queries.ml_queries import _kmeans_cte_chain

    nq, topk = _RECALL_NQ, _RECALL_K
    fin = _RECALL_IVF_ITERS + 1
    planes = S.srp_planes_md5(_RECALL_BITS, _RECALL_TABLES, _RECALL_DIM)

    def fold(plane: list[int]) -> str:
        # EXACT int64 dot product over the quantized vector (the q CTE
        # from the k-means chain) — order-independent, so list_sum is
        # safe; the Spark side is a numpy int64 matmul of the same
        # integers
        lits = ", ".join(str(x) for x in plane)
        return (
            "CAST(list_sum(list_transform("
            f"list_zip(qv, [{lits}]), "
            "p -> p[1] * CAST(p[2] AS BIGINT))) AS BIGINT)"
        )

    sig_cols = ",\n                 ".join(
        "("
        + " + ".join(
            f"(CASE WHEN {fold(planes[t][b])} > 0 THEN {2 ** b} ELSE 0 END)"
            for b in range(_RECALL_BITS)
        )
        + f") AS sig_{t}"
        for t in range(_RECALL_TABLES)
    )
    sig_union = "\n          UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, sig_{t} AS sig FROM sigs"
        for t in range(_RECALL_TABLES)
    )
    dot = _DOT.format(a="qe.embedding", b="ce.embedding")

    def rerank(cand: str) -> str:
        return f"""(
          SELECT q_id, c_id FROM (
            SELECT c.q_id, c.c_id,
                   row_number() OVER (PARTITION BY c.q_id
                     ORDER BY {dot} DESC, c.c_id ASC) AS rk
            FROM {cand} c
            JOIN embeddings qe ON qe.vec_id = c.q_id
            JOIN embeddings ce ON ce.vec_id = c.c_id
          ) WHERE rk <= {topk}
        )"""

    def leg(path: str, cand: str, top: str) -> str:
        return f"""
          SELECT '{path}' AS path, q.q_id,
                 COALESCE(nc.n, 0) AS n_cand, COALESCE(nh.n, 0) AS n_hits
          FROM qids q
          LEFT JOIN (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n
                     FROM {cand} GROUP BY q_id) nc USING (q_id)
          LEFT JOIN (SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS n
                     FROM {top} t JOIN brute b
                       ON t.q_id = b.q_id AND t.c_id = b.c_id
                     GROUP BY t.q_id) nh USING (q_id)"""

    chain = _kmeans_cte_chain(
        _RECALL_IVF_CELLS, _RECALL_IVF_ITERS, _ml.KMEANS_SCALE
    )
    return f"""{chain},
        probed AS (
          SELECT vec_id AS q_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM d{fin} WHERE vec_id < {nq}
          ) WHERE rn <= {_RECALL_NPROBE}
        ),
        ivf_cand AS MATERIALIZED (
          SELECT p.q_id, a.vec_id AS c_id
          FROM probed p JOIN a{fin} a USING (cluster)
          WHERE a.vec_id <> p.q_id
        ),
        sigs AS MATERIALIZED (
          SELECT vec_id, {sig_cols}
          FROM q
        ),
        sig_long AS MATERIALIZED ({sig_union}),
        lsh_cand AS MATERIALIZED (
          SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
          FROM sig_long a JOIN sig_long b
            ON a.tbl = b.tbl AND a.sig = b.sig
          WHERE a.vec_id < {nq} AND b.vec_id <> a.vec_id
        ),
        brute AS MATERIALIZED (
          SELECT q_id, c_id FROM (
            SELECT qe.vec_id AS q_id, ce.vec_id AS c_id,
                   row_number() OVER (PARTITION BY qe.vec_id
                     ORDER BY {dot} DESC, ce.vec_id ASC) AS rk
            FROM embeddings qe JOIN embeddings ce ON qe.vec_id <> ce.vec_id
            WHERE qe.vec_id < {nq}
          ) WHERE rk <= {topk}
        ),
        ivf_top AS {rerank("ivf_cand")},
        lsh_top AS {rerank("lsh_cand")},
        qids AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < {nq}),
        legs AS ({leg("ivf_nprobe4", "ivf_cand", "ivf_top")}
          UNION ALL {leg("srp_lsh_b4x8", "lsh_cand", "lsh_top")}
        )
        SELECT path, q_id, n_cand, n_hits,
               CAST(n_hits AS DOUBLE) / {float(topk)} AS recall_at_10
        FROM legs ORDER BY path, q_id"""


_DOT = """
  round(
    list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}),
        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
      (acc, x) -> acc + x)
    / ( sqrt(list_reduce(list_prepend(0.0, list_transform({a},
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))
      * sqrt(list_reduce(list_prepend(0.0, list_transform({b},
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x)) ),
  6)
"""

# Language-ID oracle generated from the SAME LANG_PROFILES constant the
# Spark operator uses, so profile edits can't drift the two sides. The
# argmax mirrors language_scores' sequential strict-> update: winner = the
# FIRST profile (dict order) attaining the max, 'und' when every score
# is 0.
_LANGID_SCORE_COLS = ",\n               ".join(
    f"""CAST(len(list_filter(string_split(lower(text), ' '),
                   x -> x IN ({", ".join(repr(w) for w in words)})))
               AS DOUBLE) AS score_{lang}"""
    for lang, words in X.LANG_PROFILES.items()
    if words
)
_LANGID_ALL = [f"score_{lang}" for lang in X.LANG_PROFILES]
_LANGID_PRED = (
    f"CASE WHEN greatest({', '.join(_LANGID_ALL)}) <= 0.0 THEN 'und' "
    + " ".join(
        f"WHEN score_{lang} = greatest({', '.join(_LANGID_ALL)}) "
        f"THEN '{lang}'"
        for lang in X.LANG_PROFILES
    )
    + " END"
)

# BM25 oracle: constants embedded via repr() of the SAME Python floats the
# Spark operator uses (k1+1, 1-b), so both engines parse identical doubles.
_BM25_SQL = f"""
    WITH toks AS (
      SELECT doc_id, t.term
      FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
      WHERE t.term <> ''
    ),
    scal AS (
      SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS n,
             CAST((SELECT COUNT(*) FROM toks) AS DOUBLE)
               / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM toks GROUP BY 1),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
           WHERE term IN ({", ".join(repr(t) for t in _BM25_TERMS)})
           GROUP BY 1, 2),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round((ln(1.0 + ((scal.n - dfreq.df) + 0.5) / (dfreq.df + 0.5))
                    * (tf.tf * {1.2 + 1.0!r}))
                   / (tf.tf + (1.2 * ({1.0 - 0.75!r}
                        + ((0.75 * dl.dl) / scal.avgdl)))), 8) AS s
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN scal
    ),
    per_doc AS (
      SELECT doc_id,
             {", ".join(f"SUM(CASE WHEN term = {t!r} THEN s END) AS s_{t}"
                        for t in _BM25_TERMS)}
      FROM scored GROUP BY doc_id
    ),
    tot AS (
      SELECT doc_id, {", ".join(f"s_{t}" for t in _BM25_TERMS)},
             round({"".join("(" for _ in _BM25_TERMS)}0.0
                   {" ".join(f"+ COALESCE(s_{t}, 0.0))" for t in _BM25_TERMS)},
                   8) AS score
      FROM per_doc
    ),
    top AS (SELECT * FROM tot ORDER BY score DESC, doc_id ASC LIMIT 50)
    SELECT doc_id, {", ".join(f"s_{t}" for t in _BM25_TERMS)}, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
             AS rk
    FROM top ORDER BY rk
"""

# RRF oracle: the BM25 CTE chain is textually the _BM25_SQL body (same
# repr()-embedded constants), the dense chain is the q_sim_topk cosine
# restricted to q=0; fusion terms are summed dense-first to mirror
# rrf_fuse's rankings order.
_RANK_FUSION_SQL = f"""
    WITH toks AS (
      SELECT doc_id, t.term
      FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
      WHERE t.term <> ''
    ),
    scal AS (
      SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS n,
             CAST((SELECT COUNT(*) FROM toks) AS DOUBLE)
               / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM toks GROUP BY 1),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
           WHERE term IN ({", ".join(repr(t) for t in _BM25_TERMS)})
           GROUP BY 1, 2),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    bscored AS (
      SELECT tf.doc_id, tf.term,
             round((ln(1.0 + ((scal.n - dfreq.df) + 0.5) / (dfreq.df + 0.5))
                    * (tf.tf * {1.2 + 1.0!r}))
                   / (tf.tf + (1.2 * ({1.0 - 0.75!r}
                        + ((0.75 * dl.dl) / scal.avgdl)))), 8) AS s
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN scal
    ),
    per_doc AS (
      SELECT doc_id,
             {", ".join(f"SUM(CASE WHEN term = {t!r} THEN s END) AS s_{t}"
                        for t in _BM25_TERMS)}
      FROM bscored GROUP BY doc_id
    ),
    tot AS (
      SELECT doc_id,
             round({"".join("(" for _ in _BM25_TERMS)}0.0
                   {" ".join(f"+ COALESCE(s_{t}, 0.0))" for t in _BM25_TERMS)},
                   8) AS score
      FROM per_doc
    ),
    sparse AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
               AS BIGINT) AS rk_sparse
      FROM (SELECT * FROM tot ORDER BY score DESC, doc_id ASC LIMIT 50)
    ),
    dscored AS (
      SELECT c.vec_id AS doc_id,
             {_DOT.format(a="q.embedding", b="c.embedding")} AS score
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id = 0
    ),
    dense AS (
      SELECT doc_id, rk_dense FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                 AS BIGINT) AS rk_dense
        FROM dscored
      ) WHERE rk_dense <= 50
    ),
    fused AS (
      SELECT COALESCE(d.doc_id, s.doc_id) AS doc_id, d.rk_dense, s.rk_sparse,
             round(COALESCE(1.0 / (60 + d.rk_dense), 0.0)
                   + COALESCE(1.0 / (60 + s.rk_sparse), 0.0), 8) AS rrf
      FROM dense d FULL JOIN sparse s ON d.doc_id = s.doc_id
    )
    SELECT doc_id, rk_dense, rk_sparse, rrf,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT)
             AS rk
    FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 20)
    ORDER BY rk
"""


def _bpe_train_ctes(n_merges: int) -> str:
    """The unrolled BPE-training CTE chain (round 11, VERDICT r10 item
    4): llm/text.py bpe_train's loop is fully deterministic (argmax
    tie-break count desc, left asc, right asc; greedy left-to-right
    rewrite), so each merge round unrolls to SQL exactly like
    q_pagerank/q_kmeans — the oracle re-derives training, it doesn't
    replay Spark's answer.  Per round k over the word-TYPE long form
    t{k-1}(wid, n, p, sym):

    - b{k}: the argmax pair (one tiny aggregate);
    - m{k}: adjacent-pair match flags;
    - i{k}/g{k}: gaps-and-islands parity — greedy left-to-right merging
      means that within a run of CONSECUTIVE matching positions (which
      only occurs when left = right) the 1st, 3rd, ... merge and the
      even ones are consumed (merge(p) = match(p) AND NOT merge(p-1));
    - e{k}/t{k}: emit left||right at merge starts, drop consumed
      positions, re-number p densely.

    The chain iterates the ~31-word vocabulary, never the corpus — the
    corpus is read once into the word-count table (same shape as the
    Spark side)."""
    ctes = [
        """words AS MATERIALIZED (
          SELECT w, COUNT(*) AS n
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents)
          WHERE length(w) > 0
          GROUP BY w
        )""",
        """s0 AS MATERIALIZED (
          SELECT w AS wid, n,
                 unnest(generate_series(1, length(w))) AS p
          FROM words
        )""",
        """t0 AS MATERIALIZED (
          SELECT wid, n, p, wid[p] AS sym FROM s0
        )""",
    ]
    prev = "t0"
    for k in range(1, n_merges + 1):
        ctes.append(f"""b{k} AS MATERIALIZED (
          SELECT sym AS l, nxt AS r, CAST(SUM(n) AS BIGINT) AS cnt FROM (
            SELECT n, sym,
                   lead(sym) OVER (PARTITION BY wid ORDER BY p) AS nxt
            FROM {prev}
          ) WHERE nxt IS NOT NULL
          GROUP BY sym, nxt
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
        )""")
        ctes.append(f"""m{k} AS (
          SELECT wid, n, p, sym, lead(sym) OVER w AS nxt,
                 COALESCE(sym = (SELECT l FROM b{k})
                          AND lead(sym) OVER w = (SELECT r FROM b{k}),
                          FALSE) AS mtch
          FROM {prev}
          WINDOW w AS (PARTITION BY wid ORDER BY p)
        )""")
        ctes.append(f"""i{k} AS (
          SELECT *, CASE WHEN mtch THEN p - (COUNT(*) FILTER (WHERE mtch)
            OVER (PARTITION BY wid ORDER BY p)) END AS isl
          FROM m{k}
        )""")
        ctes.append(f"""g{k} AS (
          SELECT *, CASE WHEN mtch THEN
              (row_number() OVER (PARTITION BY wid, isl ORDER BY p)) % 2 = 1
            ELSE FALSE END AS mrg
          FROM i{k}
        )""")
        ctes.append(f"""e{k} AS (
          SELECT wid, n, p,
                 CASE WHEN mrg THEN sym || nxt
                      WHEN COALESCE(
                        lag(mrg) OVER (PARTITION BY wid ORDER BY p), FALSE)
                        THEN NULL
                      ELSE sym END AS sym
          FROM g{k}
        )""")
        ctes.append(f"""t{k} AS MATERIALIZED (
          SELECT wid, n,
                 row_number() OVER (PARTITION BY wid ORDER BY p) AS p, sym
          FROM e{k} WHERE sym IS NOT NULL
        )""")
        prev = f"t{k}"
    return ",\n".join(ctes)


def _bpe_train_oracle(n_merges: int) -> str:
    union = "\n        UNION ALL ".join(
        f'SELECT {k} AS merge_rank, l AS "left", r AS "right",'
        f" cnt AS pair_count FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + _bpe_train_ctes(n_merges)
        + f"\n        {union}\n        ORDER BY merge_rank"
    )


def _bpe_tokenize_oracle(n_merges: int) -> str:
    """q_bpe_tokenize's oracle: t{n} — the word-type table after the
    trainer's n sequential greedy rewrite passes — IS the encoded
    vocabulary, because applying merges one greedy pass per rank in
    rank order equals bpe_apply's lowest-rank-first encode loop: a
    single greedy pass of (l, r) leaves no (l, r) occurrence (a new
    adjacency always involves the just-created symbol lr, and l/r
    themselves can only be created by EARLIER ranks), so no rank ever
    needs a second pass and lowest-rank-first degenerates to sequential
    rank order.  Pieces per word = rows per wid in t{n}; the per-doc
    aggregate then mirrors bpe_apply's broadcast-join shape."""
    return (
        "WITH "
        + _bpe_train_ctes(n_merges)
        + f""",
        per_word AS MATERIALIZED (
          SELECT doc_id, w, COUNT(*) AS cnt
          FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                FROM documents)
          WHERE w <> ''
          GROUP BY doc_id, w
        ),
        vocab AS MATERIALIZED (
          SELECT wid AS w, COUNT(*) AS n_sub FROM t{n_merges} GROUP BY wid
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_words,
               CAST(SUM(cnt * n_sub) AS BIGINT) AS n_pieces,
               round(CAST(SUM(cnt * n_sub) AS DOUBLE)
                     / CAST(SUM(cnt) AS DOUBLE), 8) AS pieces_per_word
        FROM per_word JOIN vocab USING (w)
        GROUP BY doc_id ORDER BY doc_id"""
    )


ORACLE = {
    "q_text_bm25": _BM25_SQL,
    "q_rank_fusion": _RANK_FUSION_SQL,
    "q_bpe_train": _bpe_train_oracle(8),
    "q_bpe_tokenize": _bpe_tokenize_oracle(4),
    "q_dedup_simhash": _simhash_oracle(3),
    # cross-document exact-substring spans: exact-dup collapse →
    # 8-token anchors under the portable md5-60-bit hash →
    # occurrence cap 100 → anchor self-join → per-(pair, diagonal)
    # gaps-and-islands → maximal spans ≥ 16 tokens — the
    # shared_span_pairs pipeline replayed verbatim
    "q_dedup_span": """
        WITH reps AS (
          SELECT text, MIN(doc_id) AS rep_id FROM documents GROUP BY text
        ),
        toks AS (
          SELECT rep_id, string_split(lower(text), ' ') AS t FROM reps
        ),
        grams AS (
          SELECT rep_id, gs AS pos,
                 CAST(('0x' || substr(
                   md5(array_to_string(t[gs : gs + 7], ' ')), 1, 15)
                 ) AS BIGINT) AS h
          FROM (SELECT *, unnest(generate_series(1, len(t) - 7)) AS gs
                FROM toks) g
        ),
        kept AS (
          SELECT grams.* FROM grams
          JOIN (SELECT h FROM grams GROUP BY h HAVING COUNT(*) <= 100)
            USING (h)
        ),
        m AS (
          SELECT a.rep_id AS id_a, b.rep_id AS id_b,
                 a.pos AS pos_a, b.pos AS pos_b
          FROM kept a JOIN kept b ON a.h = b.h AND a.rep_id < b.rep_id
        ),
        isl AS (
          SELECT id_a, id_b, pos_a, pos_b,
                 pos_a - ROW_NUMBER() OVER (
                   PARTITION BY id_a, id_b, (pos_a - pos_b)
                   ORDER BY pos_a
                 ) AS grp
          FROM m
        ),
        sp AS (
          SELECT id_a, id_b,
                 MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
                 CAST(MAX(pos_a) - MIN(pos_a) + 8 AS BIGINT) AS span_tokens
          FROM isl GROUP BY id_a, id_b, (pos_a - pos_b), grp
        )
        SELECT id_a, id_b, start_a, start_b, span_tokens
        FROM sp WHERE span_tokens >= 16
        ORDER BY id_a, id_b, start_a, start_b
    """,
    # span removal: the q_dedup_span chain, then the splice — every
    # id_b-side interval unions at position grain, kept tokens
    # re-concatenate in order, digest compared
    "q_dedup_span_remove": """
        WITH reps AS (
          SELECT text, MIN(doc_id) AS rep_id FROM documents GROUP BY text
        ),
        toks AS (
          SELECT rep_id, string_split(lower(text), ' ') AS t FROM reps
        ),
        grams AS (
          SELECT rep_id, gs AS pos,
                 CAST(('0x' || substr(
                   md5(array_to_string(t[gs : gs + 7], ' ')), 1, 15)
                 ) AS BIGINT) AS h
          FROM (SELECT *, unnest(generate_series(1, len(t) - 7)) AS gs
                FROM toks) g
        ),
        kept AS (
          SELECT grams.* FROM grams
          JOIN (SELECT h FROM grams GROUP BY h HAVING COUNT(*) <= 100)
            USING (h)
        ),
        m AS (
          SELECT a.rep_id AS id_a, b.rep_id AS id_b,
                 a.pos AS pos_a, b.pos AS pos_b
          FROM kept a JOIN kept b ON a.h = b.h AND a.rep_id < b.rep_id
        ),
        isl AS (
          SELECT id_a, id_b, pos_a, pos_b,
                 pos_a - ROW_NUMBER() OVER (
                   PARTITION BY id_a, id_b, (pos_a - pos_b)
                   ORDER BY pos_a
                 ) AS grp
          FROM m
        ),
        sp AS (
          SELECT id_a, id_b,
                 MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
                 CAST(MAX(pos_a) - MIN(pos_a) + 8 AS BIGINT) AS span_tokens
          FROM isl GROUP BY id_a, id_b, (pos_a - pos_b), grp
        ),
        rem AS (
          SELECT id_b AS rep_id, start_b AS s,
                 start_b + span_tokens - 1 AS e
          FROM sp WHERE span_tokens >= 16
        ),
        nsp AS (
          SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS n_spans
          FROM rem GROUP BY rep_id
        ),
        otoks AS (
          SELECT r.rep_id, string_split(r.text, ' ') AS ot
          FROM reps r JOIN nsp USING (rep_id)
        ),
        tok AS (
          SELECT rep_id, p, ot[p] AS tok
          FROM (SELECT *, unnest(generate_series(1, len(ot))) AS p
                FROM otoks) g
        ),
        marked AS (
          SELECT t.rep_id, t.p, t.tok,
                 EXISTS(SELECT 1 FROM rem r
                        WHERE r.rep_id = t.rep_id
                          AND t.p BETWEEN r.s AND r.e) AS rm
          FROM tok t
        ),
        agg AS (
          SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT)
                   AS removed_tokens,
                 md5(COALESCE(string_agg(
                   CASE WHEN NOT rm THEN tok END, ' ' ORDER BY p), ''))
                   AS new_digest
          FROM marked GROUP BY rep_id
        )
        SELECT a.rep_id AS doc_id, a.n_tokens, a.removed_tokens,
               n.n_spans, a.new_digest
        FROM agg a JOIN nsp n USING (rep_id)
        ORDER BY doc_id
    """,
    # winnow-indexed span recall: the q_dedup_span truth chain + the
    # q_text_winnow fingerprint chain + count-gated fingerprint
    # self-join, aligned-diagonal hit test, per-length-bucket recall
    "q_dedup_span_winnow": """
        WITH reps AS (
          SELECT text, MIN(doc_id) AS rep_id FROM documents GROUP BY text
        ),
        toks AS (
          SELECT rep_id, string_split(lower(text), ' ') AS t FROM reps
        ),
        grams AS (
          SELECT rep_id, gs AS pos,
                 CAST(('0x' || substr(
                   md5(array_to_string(t[gs : gs + 7], ' ')), 1, 15)
                 ) AS BIGINT) AS h
          FROM (SELECT *, unnest(generate_series(1, len(t) - 7)) AS gs
                FROM toks) g
        ),
        kept AS (
          SELECT grams.* FROM grams
          JOIN (SELECT h FROM grams GROUP BY h HAVING COUNT(*) <= 100)
            USING (h)
        ),
        m AS (
          SELECT a.rep_id AS id_a, b.rep_id AS id_b,
                 a.pos AS pos_a, b.pos AS pos_b
          FROM kept a JOIN kept b ON a.h = b.h AND a.rep_id < b.rep_id
        ),
        isl AS (
          SELECT id_a, id_b, pos_a, pos_b,
                 pos_a - ROW_NUMBER() OVER (
                   PARTITION BY id_a, id_b, (pos_a - pos_b)
                   ORDER BY pos_a
                 ) AS grp
          FROM m
        ),
        spans AS (
          SELECT id_a, id_b,
                 MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
                 CAST(MAX(pos_a) - MIN(pos_a) + 8 AS BIGINT) AS span_tokens
          FROM isl GROUP BY id_a, id_b, (pos_a - pos_b), grp
        ),
        truth AS (
          SELECT id_a, id_b, start_a, start_b, span_tokens
          FROM spans WHERE span_tokens >= 16
        ),
        nper AS (
          SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS n_anchors
          FROM grams GROUP BY rep_id
        ),
        longsel AS (
          SELECT DISTINCT rep_id,
                 -(sel.kp) AS pos, sel.kh AS h
          FROM (
            SELECT g.rep_id,
                   MIN({'kh': g.h, 'kp': -g.pos}) OVER (
                     PARTITION BY g.rep_id ORDER BY g.pos
                     ROWS BETWEEN CURRENT ROW AND 8 FOLLOWING
                   ) AS sel,
                   COUNT(*) OVER (
                     PARTITION BY g.rep_id ORDER BY g.pos
                     ROWS BETWEEN CURRENT ROW AND 8 FOLLOWING
                   ) AS cnt
            FROM grams g JOIN nper USING (rep_id)
            WHERE nper.n_anchors >= 9
          ) WHERE cnt = 9
        ),
        shortsel AS (
          SELECT g.rep_id,
                 -(MIN({'kh': g.h, 'kp': -g.pos}).kp) AS pos,
                 MIN({'kh': g.h, 'kp': -g.pos}).kh AS h
          FROM grams g JOIN nper USING (rep_id)
          WHERE nper.n_anchors < 9
          GROUP BY g.rep_id
        ),
        fp AS (SELECT * FROM longsel UNION SELECT * FROM shortsel),
        fpk AS (
          SELECT fp.* FROM fp
          JOIN (SELECT h FROM fp GROUP BY h
                HAVING COUNT(*) BETWEEN 2 AND 100) USING (h)
        ),
        cand AS (
          SELECT a.rep_id AS id_a, b.rep_id AS id_b,
                 a.pos AS pos_a, b.pos AS pos_b
          FROM fpk a JOIN fpk b ON a.h = b.h AND a.rep_id < b.rep_id
        ),
        hit AS (
          SELECT DISTINCT t.id_a, t.id_b, t.start_a, t.start_b
          FROM truth t JOIN cand c
            ON c.id_a = t.id_a AND c.id_b = t.id_b
           AND (c.pos_a - c.pos_b) = (t.start_a - t.start_b)
           AND c.pos_a BETWEEN t.start_a
                           AND t.start_a + t.span_tokens - 8
        ),
        bk AS (
          SELECT CAST(CASE WHEN t.span_tokens < 32 THEN 16
                           WHEN t.span_tokens < 64 THEN 32
                           WHEN t.span_tokens < 128 THEN 64
                           ELSE 128 END AS BIGINT) AS len_bucket,
                 CASE WHEN h.id_a IS NOT NULL THEN 1 ELSE 0 END AS f
          FROM truth t LEFT JOIN hit h
            ON h.id_a = t.id_a AND h.id_b = t.id_b
           AND h.start_a = t.start_a AND h.start_b = t.start_b
        )
        SELECT len_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_truth,
               CAST(SUM(f) AS BIGINT) AS n_found,
               round(CAST(SUM(f) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 8)
                 AS recall
        FROM bk GROUP BY len_bucket ORDER BY len_bucket
    """,
    # one fixed-point GD iteration of the hashed-feature logistic
    # regression (llm/classifier.py): logits, hard-sigmoid error,
    # per-bucket gradient, floor-division weight step — all integers, so
    # three unrolled copies re-derive training bit-for-bit (the
    # q_pagerank discipline).  (a - (((a % b) + b) % b)) // b is exact
    # floor division on both engines (the numerator is made divisible).
    "q_quality_model": f"""
        WITH m AS (
          SELECT CAST((SELECT SUM(length(text) - length(replace(text, ' ', ''))
                                  + 1)
                       FROM documents)
                      // COUNT(*) AS BIGINT) AS mt
          FROM documents
        ),
        feats AS (
          SELECT doc_id, CAST(('0x' || substr(md5(t.token), 1, 2)) AS BIGINT)
                   AS f,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
          WHERE t.token <> '' GROUP BY 1, 2
          UNION ALL
          SELECT doc_id, CAST(256 AS BIGINT), CAST(1 AS BIGINT) FROM documents
          UNION ALL
          SELECT doc_id, CAST(257 AS BIGINT),
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                      - (SELECT mt FROM m) AS BIGINT)
          FROM documents
        ),
        lab AS (
          SELECT doc_id, CAST(n_chars >= 300 AS BIGINT) AS y FROM documents
        ),
        c AS (SELECT CAST(COUNT(*) * 256 AS BIGINT) AS k FROM documents),
        w0 AS (SELECT DISTINCT f, CAST(0 AS BIGINT) AS w FROM feats),
        {_LR_ITER.format(t=1, p=0)},
        {_LR_ITER.format(t=2, p=1)},
        {_LR_ITER.format(t=3, p=2)},
        zf AS (
          SELECT doc_id, CAST(SUM(cnt * w) AS BIGINT) AS z
          FROM feats JOIN w3 USING (f) GROUP BY doc_id
        )
        SELECT doc_id, z AS score,
               CAST(LEAST(GREATEST(500000 + (z - (((z % 4) + 4) % 4)) // 4,
                                   0), 1000000) AS BIGINT) AS prob_fp,
               LEAST(GREATEST(500000 + (z - (((z % 4) + 4) % 4)) // 4,
                              0), 1000000) >= 500000 AS keep,
               y AS label
        FROM zf JOIN lab USING (doc_id) ORDER BY doc_id
    """,
    "q_feature_hash": """
        SELECT doc_id,
               CAST(('0x' || substr(md5(t.token), 1, 2)) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
        WHERE doc_id < 100 AND t.token <> ''
        GROUP BY 1, 2 ORDER BY doc_id, bucket
    """,
    "q_text_langid": f"""
        WITH scored AS (
          SELECT lang,
               {_LANGID_SCORE_COLS},
               CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g'))
                 AS DOUBLE) AS score_zh
          FROM documents
        )
        SELECT lang, {_LANGID_PRED} AS pred_lang, COUNT(*) AS n
        FROM scored GROUP BY 1, 2 ORDER BY lang, pred_lang
    """,
    "q_dedup_exact": """
        SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS text_hash,
               MIN(doc_id) AS kept_id, COUNT(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY text_hash
    """,
    # the persisted-index incremental loop brute-forced: same normalized
    # md5 on both sides, LEFT join corpus digests, min-id attribution
    "q_dedup_incremental_exact": """
        WITH corpus AS (
          SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 4 <> 0
        ),
        batch AS (
          SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 4 = 0
          UNION ALL
          SELECT doc_id + 10000000,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
          FROM documents WHERE doc_id % 4 <> 0 AND doc_id % 16 = 1
        )
        SELECT b.doc_id AS doc_id, MIN(c.doc_id) AS dup_of,
               MIN(c.doc_id) IS NULL AS keep
        FROM batch b LEFT JOIN corpus c ON b.h = c.h
        GROUP BY b.doc_id ORDER BY doc_id
    """,
    # the compacted index must answer exactly like the union of its
    # build + both appended batches: a digest left-join over the full
    # % 4 <> 0 corpus, probed by the % 4 == 0 batch plus one planted
    # copy per index generation (doc_id % 16 in 1,2,3 ⇒ % 4 in 1,2,3)
    "q_index_compact": """
        WITH idx AS (
          SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 4 <> 0
        ),
        probe AS (
          SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 4 = 0
          UNION ALL
          SELECT doc_id + 10000000,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
          FROM documents WHERE doc_id % 16 IN (1, 2, 3)
        )
        SELECT p.doc_id AS doc_id, MIN(i.doc_id) AS dup_of,
               MIN(i.doc_id) IS NULL AS keep
        FROM probe p LEFT JOIN idx i ON p.h = i.h
        GROUP BY p.doc_id ORDER BY doc_id
    """,
    # brute-force 3-shingle-set Jaccard: prefix filtering is exact, so the
    # candidate-pruned Spark plan and this all-pairs SQL agree bit-for-bit
    "q_dedup_setsim": """
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ),
        tok AS (
          SELECT DISTINCT doc_id,
                 array_to_string(t[gs : gs + 2], ' ') AS tok
          FROM (SELECT *, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS gs
                FROM toks) g
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, inter,
               CAST(sa.n + sb.n - inter AS BIGINT) AS uni,
               ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6)
                 AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.5
        ORDER BY id_a, id_b
    """,
    # identical trigram-Jaccard brute force; the adaptive operator's
    # pre-flight deterministically picks the exact branch at this scale,
    # so the strategy column is a checkable constant
    "q_dedup_auto": """
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ),
        tok AS (
          SELECT DISTINCT doc_id,
                 array_to_string(t[gs : gs + 2], ' ') AS tok
          FROM (SELECT *, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS gs
                FROM toks) g
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6)
                 AS jaccard,
               'exact_prefix' AS strategy
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.5
        ORDER BY id_a, id_b
    """,
    "q_dedup_ngram": """
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ),
        sh0 AS (
          SELECT DISTINCT doc_id,
                 array_to_string(t[gs : gs + 4], ' ') AS shingle
          FROM (SELECT *, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS gs
                FROM toks) g
        ),
        sh AS (  -- hot-shingle cap: drop shingles with document frequency > 100
          SELECT sh0.* FROM sh0
          JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 100)
            USING (shingle)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, sa.n_sh AS n_a, sb.n_sh AS n_b, n_inter,
               CAST(n_inter AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
        ORDER BY id_a, id_b
    """,
    # q_dedup_ngram's pair chain + degree-ordered triangle census: the
    # orientation, wedge join, closing join, per-node explode, and the
    # Σ C(deg,2) wedge total all replayed relationally
    "q_dedup_triangles": """
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ),
        sh0 AS (
          SELECT DISTINCT doc_id,
                 array_to_string(t[gs : gs + 4], ' ') AS shingle
          FROM (SELECT *, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS gs
                FROM toks) g
        ),
        sh AS (
          SELECT sh0.* FROM sh0
          JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 100)
            USING (shingle)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT id_a AS a, id_b AS b
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(n_inter AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
        ),
        deg AS (
          SELECT node, COUNT(*) AS deg
          FROM (SELECT a AS node FROM pairs
                UNION ALL SELECT b AS node FROM pairs)
          GROUP BY node
        ),
        o AS (
          SELECT CASE WHEN da.deg < db.deg
                        OR (da.deg = db.deg AND p.a < p.b)
                      THEN p.a ELSE p.b END AS src,
                 CASE WHEN da.deg < db.deg
                        OR (da.deg = db.deg AND p.a < p.b)
                      THEN p.b ELSE p.a END AS dst,
                 CASE WHEN da.deg < db.deg
                        OR (da.deg = db.deg AND p.a < p.b)
                      THEN db.deg ELSE da.deg END AS dst_deg
          FROM pairs p
          JOIN deg da ON da.node = p.a
          JOIN deg db ON db.node = p.b
        ),
        tri AS (
          SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
          FROM o o1
          JOIN o o2 ON o1.src = o2.src
            AND (o1.dst_deg < o2.dst_deg
                 OR (o1.dst_deg = o2.dst_deg AND o1.dst < o2.dst))
          JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst
        ),
        pern AS (
          SELECT node, COUNT(*) AS n_tri
          FROM (SELECT u AS node FROM tri
                UNION ALL SELECT v AS node FROM tri
                UNION ALL SELECT w AS node FROM tri)
          GROUP BY node
        ),
        tot AS (
          SELECT (SELECT COUNT(*) FROM tri) AS n_triangles,
                 (SELECT CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT)
                  FROM deg) AS n_wedges
        )
        SELECT node, CAST(n_tri AS BIGINT) AS n_tri,
               CAST(n_triangles AS BIGINT) AS n_triangles, n_wedges,
               round(3.0 * CAST(n_triangles AS DOUBLE)
                     / CAST(n_wedges AS DOUBLE), 8) AS gcc
        FROM pern CROSS JOIN tot ORDER BY node
    """,
    # q_dedup_ngram's CTE chain + per-pair exact cosine via the q_sim_topk
    # _DOT convention — the lexical pair relation is identical, so the
    # jaccard column re-proves ngram_jaccard_pairs and the cosine column
    # proves the embedding annotation join
    "q_dedup_consensus": f"""
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ),
        sh0 AS (
          SELECT DISTINCT doc_id,
                 array_to_string(t[gs : gs + 4], ' ') AS shingle
          FROM (SELECT *, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS gs
                FROM toks) g
        ),
        sh AS (
          SELECT sh0.* FROM sh0
          JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 100)
            USING (shingle)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT id_a, id_b,
                 CAST(n_inter AS DOUBLE)
                   / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(n_inter AS DOUBLE)
                   / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
        )
        SELECT p.id_a AS id_a, p.id_b AS id_b, p.jaccard AS jaccard,
               {_DOT.format(a="ea.embedding", b="eb.embedding")} AS cosine,
               {_DOT.format(a="ea.embedding", b="eb.embedding")} >= 0.5
                 AS semantic_agree
        FROM pairs p
        JOIN embeddings ea ON ea.vec_id = p.id_a
        JOIN embeddings eb ON eb.vec_id = p.id_b
        ORDER BY id_a, id_b
    """,
    "q_dedup_boilerplate": """
        WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS a,
                 len(string_split(text, ' ')) AS n
          FROM documents
        ),
        chunks AS (
          SELECT doc_id, c AS pos,
                 array_to_string(a[c*8+1 : c*8+8], ' ') AS chunk
          FROM base JOIN generate_series(0, 100000) AS g(c)
            ON c <= CAST(floor((n - 1) / 8.0) AS INT)
        ),
        hot AS (
          SELECT chunk FROM chunks
          GROUP BY chunk HAVING COUNT(DISTINCT doc_id) > 1
        ),
        kept AS (SELECT chunks.* FROM chunks ANTI JOIN hot USING (chunk)),
        totals AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
          FROM chunks GROUP BY 1
        ),
        rebuilt AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                 array_to_string(list(chunk ORDER BY pos), ' ') AS new_text
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id, n_chunks,
               COALESCE(n_kept, 0) AS n_kept,
               COALESCE(new_text, '') AS new_text
        FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        ORDER BY t.doc_id
    """,
    "q_dedup_containment": """
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ),
        sh0 AS (
          SELECT DISTINCT doc_id,
                 array_to_string(t[gs : gs + 4], ' ') AS shingle
          FROM (SELECT *, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS gs
                FROM toks) g
        ),
        sh AS (  -- hot-shingle cap: drop shingles with document frequency > 100
          SELECT sh0.* FROM sh0
          JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 100)
            USING (shingle)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, sa.n_sh AS n_a, sb.n_sh AS n_b, n_inter,
               CAST(n_inter AS DOUBLE)
                 / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS overlap
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE)
                 / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.6
        ORDER BY id_a, id_b
    """,
    # plain within-label pairs: at verify scale every label holds ≤ 256
    # vectors, so the Spark side's locality_subblocked takes its
    # blk = label branch and this IS the exact semantics (the KMeans
    # sub-block branch engages only at sf ≥ 1, covered by the sf1 recall
    # harness in tests/test_scale_evidence.py)
    "q_dedup_embed": f"""
        SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
               {_DOT.format(a="a.embedding", b="b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_DOT.format(a="a.embedding", b="b.embedding")} >= 0.35
        ORDER BY label, id_a, id_b
    """,
    "q_sim_recall": _sim_recall_sql(),
    "q_sim_topk": f"""
        WITH scored AS (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                 {_DOT.format(a="q.embedding", b="c.embedding")} AS score
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 5
        ),
        ranked AS (
          SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, c_id ASC) AS rk
          FROM scored
        )
        SELECT q_id, c_id, score, rk FROM ranked WHERE rk <= 5 ORDER BY q_id, rk
    """,
    "q_eval_ndcg": f"""
        WITH ranked AS (
          SELECT q.vec_id AS q_id, q.label AS q_label,
                 c.vec_id AS c_id, c.label AS c_label,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_DOT.format(a="q.embedding", b="c.embedding")}
                     DESC, c.vec_id ASC) AS rk
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20
        ),
        top AS (SELECT * FROM ranked WHERE rk <= {_NDCG_K}),
        perq AS (
          SELECT q_id,
                 CAST(SUM(CASE WHEN q_label = c_label THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_rel_topk,
                 CAST(SUM(CASE WHEN q_label = c_label THEN
                        (CASE rk {" ".join(f"WHEN {i} THEN {v}"
                                           for i, v in _NDCG_DISC.items())}
                         ELSE 0 END)
                      ELSE 0 END) AS BIGINT) AS dcg_scaled
          FROM top GROUP BY q_id
        ),
        lab AS (SELECT label, COUNT(*) AS nlab FROM embeddings
                GROUP BY label),
        ideal AS (
          SELECT q.vec_id AS q_id,
                 CAST(CASE LEAST(l.nlab - 1, 10)
                        {" ".join(f"WHEN {m} THEN {v}"
                                  for m, v in _NDCG_CUM.items())}
                      ELSE 0 END AS BIGINT) AS idcg_scaled
          FROM embeddings q JOIN lab l ON q.label = l.label
          WHERE q.vec_id < 20
        )
        SELECT p.q_id, p.n_rel_topk, p.dcg_scaled, i.idcg_scaled,
               round(CASE WHEN i.idcg_scaled > 0
                          THEN CAST(p.dcg_scaled AS DOUBLE)
                               / CAST(i.idcg_scaled AS DOUBLE) END, 8)
                 AS ndcg
        FROM perq p JOIN ideal i USING (q_id) ORDER BY q_id
    """,
    # q_sim_pq_exact: shortlist >= |corpus| makes the PQ funnel exact —
    # same brute-force oracle as q_sim_topk
    "q_sim_pq_exact": f"""
        WITH scored AS (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                 {_DOT.format(a="q.embedding", b="c.embedding")} AS score
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 5
        ),
        ranked AS (
          SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, c_id ASC) AS rk
          FROM scored
        )
        SELECT q_id, c_id, score, rk FROM ranked WHERE rk <= 5 ORDER BY q_id, rk
    """,
    # q_sim_index_exact: nprobe = n_centroids makes the persisted-index
    # probe EXACT, so its oracle is brute-force top-k — the same SQL as
    # q_sim_topk (any divergence means the index read path lost or
    # mis-scored a vector).
    "q_sim_index_exact": f"""
        WITH scored AS (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                 {_DOT.format(a="q.embedding", b="c.embedding")} AS score
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 5
        ),
        ranked AS (
          SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, c_id ASC) AS rk
          FROM scored
        )
        SELECT q_id, c_id, score, rk FROM ranked WHERE rk <= 5 ORDER BY q_id, rk
    """,
    # q_sim_ann_exact: bits=0 puts every vector in one SRP bucket, so
    # the LSH candidate set is ALL pairs and the exact re-rank makes
    # the output brute-force top-k — the same SQL as q_sim_topk (any
    # divergence means the bucket fan-out/join/distinct lost a pair or
    # the re-rank mis-scored one).
    "q_sim_ann_exact": f"""
        WITH scored AS (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                 {_DOT.format(a="q.embedding", b="c.embedding")} AS score
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 5
        ),
        ranked AS (
          SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, c_id ASC) AS rk
          FROM scored
        )
        SELECT q_id, c_id, score, rk FROM ranked WHERE rk <= 5 ORDER BY q_id, rk
    """,
    "q_text_tokens": """
        SELECT t.token AS token, COUNT(*) AS freq
        FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
        GROUP BY t.token ORDER BY freq DESC, token ASC
    """,
    "q_tfidf_cosine": """
        WITH toks AS (
          SELECT doc_id AS doc, string_split(lower(text), ' ') AS t
          FROM documents
        ),
        sh AS MATERIALIZED (  -- distinct 3-shingles, word_shingles rule:
          -- short docs yield one shingle of all their tokens
          SELECT DISTINCT doc, array_to_string(t[gs : gs + 2], ' ') AS term
          FROM (SELECT *, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS gs
                FROM toks) g
        ),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs
              FROM documents),
        dfq AS (
          SELECT term, COUNT(*) AS df FROM sh
          GROUP BY term HAVING COUNT(*) <= 20
        ),
        inv AS MATERIALIZED (
          SELECT sh.term, sh.doc,
                 CAST(round((ln((1.0 + (SELECT n_docs FROM n))
                                / (1.0 + CAST(dfq.df AS DOUBLE)))
                             + 1.0) * 1e4) AS BIGINT) AS w
          FROM sh JOIN dfq USING (term)
        ),
        norms AS (SELECT doc, SUM(w * w) AS nn FROM inv GROUP BY doc),
        dots AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b, SUM(a.w * b.w) AS dot_q
          FROM inv a JOIN inv b ON a.term = b.term AND a.doc < b.doc
          GROUP BY a.doc, b.doc
        ),
        cosed AS (
          SELECT d.doc_a, d.doc_b, CAST(d.dot_q AS BIGINT) AS dot_q,
                 round(CAST(d.dot_q AS DOUBLE)
                       / (sqrt(CAST(na.nn AS DOUBLE))
                          * sqrt(CAST(nb.nn AS DOUBLE))), 8) AS cos
          FROM dots d
          JOIN norms na ON d.doc_a = na.doc
          JOIN norms nb ON d.doc_b = nb.doc
        )
        SELECT doc_a, doc_b, dot_q, cos FROM cosed
        WHERE cos >= 0.4 ORDER BY doc_a, doc_b
    """,
    "q_tfidf": """
        WITH pairs AS (
          SELECT doc_id, t.term
          FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
          WHERE t.term <> ''
        ),
        tf AS (
          SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM pairs GROUP BY doc_id, term
        ),
        vocab AS (
          SELECT term, COUNT(DISTINCT doc_id) AS df FROM pairs GROUP BY term
        ),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 round(tf.tf * (ln((1.0 + n.n) / (1.0 + vocab.df)) + 1.0), 8)
                   AS score
          FROM tf JOIN vocab ON tf.term = vocab.term CROSS JOIN n
        ),
        ranked AS (
          SELECT doc_id, term, tf, score,
                 CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, term ASC) AS BIGINT) AS rk
          FROM scored
        )
        SELECT doc_id, term, tf, score, rk FROM ranked WHERE rk <= 5
        ORDER BY doc_id, rk
    """,
    # the whole minhash chain in SQL: same (a·h+b) mod P constants as
    # minhash_signatures_universal, band keys are raw signature pairs
    "q_dedup_minhash_exact": """
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 array_to_string(t[gs : gs + 4], ' ') AS shingle
          FROM (SELECT *, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS gs
                FROM toks) g
        ),
        base AS (
          SELECT doc_id, shingle,
                 CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
          FROM sh
        ),
        seeds(i, a, b) AS (VALUES __SEEDS__),
        sig AS (
          SELECT doc_id, i, MIN((a * h + b) % 4294967311) AS s
          FROM base CROSS JOIN seeds GROUP BY doc_id, i
        ),
        bands AS (
          SELECT s0.doc_id, j.j, s0.s AS s0, s1.s AS s1
          FROM generate_series(0, 7) j(j)
          JOIN sig s0 ON s0.i = 2 * j.j
          JOIN sig s1 ON s1.i = 2 * j.j + 1 AND s1.doc_id = s0.doc_id
        ),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.j = b.j AND a.s0 = b.s0 AND a.s1 = b.s1
               AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
          FROM cands c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               CAST(n_inter AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
        ORDER BY id_a, id_b
    """.replace(
        "__SEEDS__",
        ", ".join(
            f"({i}, {a}, {b})" for i, (a, b) in enumerate(D.UNIVERSAL_AB)
        ),
    ),
    # winnowing: struct-min window selection over the anchor CTEs
    # (rightmost-position tie via -pos), short docs take the global
    # min, per-doc digest of the (pos:hash) sequence
    "q_text_winnow": """
        WITH reps AS (
          SELECT text, MIN(doc_id) AS rep_id FROM documents GROUP BY text
        ),
        toks AS (
          SELECT rep_id, string_split(lower(text), ' ') AS t FROM reps
        ),
        grams AS (
          SELECT rep_id, gs AS pos,
                 CAST(('0x' || substr(
                   md5(array_to_string(t[gs : gs + 7], ' ')), 1, 15)
                 ) AS BIGINT) AS h
          FROM (SELECT *, unnest(generate_series(1, len(t) - 7)) AS gs
                FROM toks) g
        ),
        nper AS (
          SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS n_anchors
          FROM grams GROUP BY rep_id
        ),
        longsel AS (
          SELECT DISTINCT rep_id,
                 -(sel.kp) AS pos, sel.kh AS h
          FROM (
            SELECT g.rep_id,
                   MIN({'kh': g.h, 'kp': -g.pos}) OVER (
                     PARTITION BY g.rep_id ORDER BY g.pos
                     ROWS BETWEEN CURRENT ROW AND 8 FOLLOWING
                   ) AS sel,
                   COUNT(*) OVER (
                     PARTITION BY g.rep_id ORDER BY g.pos
                     ROWS BETWEEN CURRENT ROW AND 8 FOLLOWING
                   ) AS cnt
            FROM grams g JOIN nper USING (rep_id)
            WHERE nper.n_anchors >= 9
          ) WHERE cnt = 9
        ),
        shortsel AS (
          SELECT g.rep_id,
                 -(MIN({'kh': g.h, 'kp': -g.pos}).kp) AS pos,
                 MIN({'kh': g.h, 'kp': -g.pos}).kh AS h
          FROM grams g JOIN nper USING (rep_id)
          WHERE nper.n_anchors < 9
          GROUP BY g.rep_id
        ),
        fp AS (SELECT * FROM longsel UNION SELECT * FROM shortsel),
        per AS (
          SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
                 md5(string_agg(
                   CAST(pos AS VARCHAR) || ':' || CAST(h AS VARCHAR),
                   ',' ORDER BY pos)) AS fp_digest
          FROM fp GROUP BY rep_id
        )
        SELECT n.rep_id AS doc_id, n.n_anchors, p.n_fingerprints,
               round(CAST(p.n_fingerprints AS DOUBLE)
                     / CAST(n.n_anchors AS DOUBLE), 8) AS density,
               p.fp_digest
        FROM nper n JOIN per p USING (rep_id)
        ORDER BY doc_id
    """,
    # asymmetric span contamination: the q_dedup_span anchor CTEs with
    # a benchmark/train split, train side pruned to benchmark hashes
    # and capped, then the same diagonal islands
    "q_contamination_span": """
        WITH reps AS (
          SELECT text, MIN(doc_id) AS rep_id FROM documents GROUP BY text
        ),
        toks AS (
          SELECT rep_id, string_split(lower(text), ' ') AS t FROM reps
        ),
        grams AS (
          SELECT rep_id, gs AS pos,
                 CAST(('0x' || substr(
                   md5(array_to_string(t[gs : gs + 7], ' ')), 1, 15)
                 ) AS BIGINT) AS h
          FROM (SELECT *, unnest(generate_series(1, len(t) - 7)) AS gs
                FROM toks) g
        ),
        bench AS (
          SELECT rep_id AS bench_id, pos AS pos_b, h
          FROM grams WHERE rep_id % 5 = 0
        ),
        train0 AS (SELECT * FROM grams WHERE rep_id % 5 <> 0),
        pruned AS (
          SELECT train0.* FROM train0
          JOIN (SELECT DISTINCT h FROM bench) USING (h)
        ),
        capped AS (
          SELECT rep_id AS train_id, pos AS pos_t, h FROM pruned
          JOIN (SELECT h FROM pruned GROUP BY h HAVING COUNT(*) <= 100)
            USING (h)
        ),
        m AS (
          SELECT b.bench_id, c.train_id, b.pos_b, c.pos_t
          FROM capped c JOIN bench b USING (h)
        ),
        isl AS (
          SELECT bench_id, train_id, pos_b, pos_t,
                 pos_b - ROW_NUMBER() OVER (
                   PARTITION BY bench_id, train_id, (pos_b - pos_t)
                   ORDER BY pos_b
                 ) AS grp
          FROM m
        ),
        sp AS (
          SELECT bench_id, train_id,
                 MIN(pos_b) AS start_bench, MIN(pos_t) AS start_train,
                 CAST(MAX(pos_b) - MIN(pos_b) + 8 AS BIGINT) AS span_tokens
          FROM isl GROUP BY bench_id, train_id, (pos_b - pos_t), grp
        )
        SELECT bench_id, train_id, start_bench, start_train, span_tokens
        FROM sp WHERE span_tokens >= 16
        ORDER BY bench_id, train_id, start_bench, start_train
    """,
    # LSH S-curve recall accounting: the q_dedup_ngram truth CTEs +
    # the q_dedup_minhash_exact candidate CTEs + one recall join,
    # bucketed by Jaccard decile
    "q_dedup_recall": """
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ),
        sh0 AS (
          SELECT DISTINCT doc_id,
                 array_to_string(t[gs : gs + 4], ' ') AS shingle
          FROM (SELECT *, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS gs
                FROM toks) g
        ),
        shc AS (
          SELECT sh0.* FROM sh0
          JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 100)
            USING (shingle)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        truth AS (
          SELECT id_a, id_b,
                 CAST(n_inter AS DOUBLE)
                   / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(n_inter AS DOUBLE)
                   / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
        ),
        base AS (
          SELECT doc_id, shingle,
                 CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
          FROM sh0
        ),
        seeds(i, a, b) AS (VALUES __SEEDS__),
        sig AS (
          SELECT doc_id, i, MIN((a * h + b) % 4294967311) AS s
          FROM base CROSS JOIN seeds GROUP BY doc_id, i
        ),
        bands AS (
          SELECT s0.doc_id, j.j, s0.s AS s0, s1.s AS s1
          FROM generate_series(0, 7) j(j)
          JOIN sig s0 ON s0.i = 2 * j.j
          JOIN sig s1 ON s1.i = 2 * j.j + 1 AND s1.doc_id = s0.doc_id
        ),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.j = b.j AND a.s0 = b.s0 AND a.s1 = b.s1
               AND a.doc_id < b.doc_id
        )
        SELECT CAST(floor(t.jaccard * 10) AS INTEGER) AS jaccard_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_truth,
               CAST(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_found,
               round(CAST(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 8) AS recall
        FROM truth t LEFT JOIN cands c
          ON t.id_a = c.id_a AND t.id_b = c.id_b
        GROUP BY 1 ORDER BY 1
    """.replace(
        "__SEEDS__",
        ", ".join(
            f"({i}, {a}, {b})" for i, (a, b) in enumerate(D.UNIVERSAL_AB)
        ),
    ),
    "q_dedup_substring": """
        WITH aug AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN lower(text) || ' ' ||
                           array_to_string(
                             (string_split(lower(text), ' '))[1:16], ' ')
                      ELSE lower(text) END AS t
          FROM documents
        ),
        arr AS (SELECT doc_id, string_split(t, ' ') AS a FROM aug),
        toks AS (
          SELECT doc_id, gs - 1 AS pos, a[gs] AS token,
                 CAST(len(a) AS BIGINT) AS n
          FROM (SELECT *, unnest(generate_series(1, len(a))) AS gs
                FROM arr) g
        ),
        starts AS (
          SELECT doc_id, gs - 1 AS start,
                 array_to_string(a[gs : gs + 7], ' ') AS gram
          FROM (SELECT *, unnest(generate_series(1, len(a) - 7)) AS gs
                FROM arr) g
        ),
        firsts AS (
          SELECT doc_id, gram, MIN(start) AS first FROM starts GROUP BY 1, 2
        ),
        repeats AS (
          SELECT s.doc_id, s.start
          FROM starts s JOIN firsts f USING (doc_id, gram)
          WHERE s.start > f.first
        ),
        covered AS (
          SELECT DISTINCT doc_id, start + o.i AS pos
          FROM repeats JOIN generate_series(0, 7) o(i) ON TRUE
        ),
        kept AS (
          SELECT t.doc_id, t.pos, t.token, t.n
          FROM toks t
          WHERE NOT EXISTS (SELECT 1 FROM covered c
                            WHERE c.doc_id = t.doc_id AND c.pos = t.pos)
        )
        SELECT doc_id,
               any_value(n) AS n_before,
               CAST(any_value(n) - COUNT(*) AS BIGINT) AS n_removed,
               md5(string_agg(token, ' ' ORDER BY pos)) AS cleaned_md5
        FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
    # quantize → exact integer moments → identical double formulas: the
    # z expression is written with the same operation order in both engines
    "q_embed_standardize": """
        WITH x AS (
          SELECT vec_id, gs - 1 AS pos,
                 CAST(ROUND(CAST(embedding[gs] AS DOUBLE) * 1000000.0)
                      AS BIGINT) AS vi
          FROM embeddings JOIN generate_series(1, 64) AS t(gs) ON TRUE
        ),
        dims AS (
          SELECT pos,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(vi) AS DOUBLE) AS s,
                 CAST(SUM(CAST(vi AS HUGEINT) * CAST(vi AS HUGEINT))
                      AS DOUBLE) AS q
          FROM x GROUP BY pos
        ),
        scored AS (
          SELECT x.vec_id,
                 CAST(ROUND(
                   (CAST(x.vi AS DOUBLE) / 1000000.0 - s / n / 1000000.0)
                   / (sqrt(n * q - s * s) / n / 1000000.0)
                   * 100000000.0) AS BIGINT) AS zi,
                 CASE WHEN abs(
                   (CAST(x.vi AS DOUBLE) / 1000000.0 - s / n / 1000000.0)
                   / (sqrt(n * q - s * s) / n / 1000000.0)) > 2.0
                      THEN 1 ELSE 0 END AS clip
          FROM x JOIN dims USING (pos)
        )
        SELECT vec_id,
               CAST(SUM(clip) AS BIGINT) AS n_clipped,
               CAST(SUM(zi) AS BIGINT) AS sum_z,
               round(CAST(SUM(zi) AS DOUBLE) / 64.0 / 100000000.0, 8)
                 AS mean_z
        FROM scored GROUP BY vec_id ORDER BY vec_id
    """,
    # md5 bucketing: identical two-hex-digit parse in both engines, and
    # 256 % 64 == 0 keeps the bucket map uniform
    "q_sketch_cms": """
        WITH tok AS (
          SELECT t.token
          FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
          WHERE t.token <> ''
        ),
        hashed AS (
          SELECT token, g.seed,
                 CAST(('0x' || substr(md5(CAST(g.seed AS VARCHAR) || ':' ||
                                          token), 1, 2)) AS INTEGER) % 64
                   AS bucket
          FROM tok JOIN generate_series(0, 3) AS g(seed) ON TRUE
        ),
        cms AS (
          SELECT seed, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM hashed GROUP BY seed, bucket
        ),
        top AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
          FROM tok GROUP BY token
          ORDER BY exact_cnt DESC, token ASC LIMIT 20
        ),
        probe AS (
          SELECT t.token, t.exact_cnt, g.seed,
                 CAST(('0x' || substr(md5(CAST(g.seed AS VARCHAR) || ':' ||
                                          t.token), 1, 2)) AS INTEGER) % 64
                   AS bucket
          FROM top t JOIN generate_series(0, 3) AS g(seed) ON TRUE
        )
        SELECT p.token, p.exact_cnt,
               MIN(c.cnt) AS est_cnt,
               MIN(c.cnt) - p.exact_cnt AS overcount
        FROM probe p JOIN cms c ON p.seed = c.seed AND p.bucket = c.bucket
        GROUP BY p.token, p.exact_cnt
        ORDER BY exact_cnt DESC, token ASC
    """,
    # per-token log-probs rounded to 8 dp then scaled to exact 1e8-integers:
    # the per-doc SUM is bigint (order-independent); one division at the end
    "q_lm_score": """
        WITH tok AS (
          SELECT doc_id, t.token
          FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
          WHERE t.token <> ''
        ),
        counts AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
        c AS (SELECT CAST(SUM(freq) AS DOUBLE) AS n_total,
                     CAST(COUNT(*) AS DOUBLE) AS v_total FROM counts),
        vocab AS (SELECT token, freq FROM counts
                  ORDER BY freq DESC, token ASC LIMIT 100),
        lm AS (
          SELECT v.token,
                 CAST(round(ln((CAST(v.freq AS DOUBLE) + 1.0)
                               / (c.n_total + c.v_total)) * 1e8) AS BIGINT)
                   AS lp
          FROM vocab v CROSS JOIN c
        ),
        oov AS (
          SELECT CAST(round(ln(1.0 / (n_total + v_total)) * 1e8) AS BIGINT)
            AS lp
          FROM c
        ),
        dt AS (SELECT doc_id, token, COUNT(*) AS n
               FROM tok GROUP BY doc_id, token),
        scored AS (
          SELECT d.doc_id, d.n,
                 COALESCE(l.lp, (SELECT lp FROM oov)) AS lp,
                 (l.lp IS NULL) AS is_oov
          FROM dt d LEFT JOIN lm l USING (token)
        )
        SELECT doc_id,
               CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN is_oov THEN n ELSE 0 END) AS BIGINT)
                 AS n_oov,
               CAST(SUM(n * lp) AS BIGINT) AS sum_lp,
               round(CAST(SUM(n * lp) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                     / 1e8, 8) AS avg_logprob
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    "q_lm_bigram": """
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS tl FROM documents
        ),
        uni AS (
          SELECT t.token
          FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
        ),
        counts AS (SELECT token, COUNT(*) AS freq FROM uni GROUP BY token),
        vocab AS (SELECT token FROM counts
                  ORDER BY freq DESC, token ASC LIMIT 100),
        muni AS (
          SELECT CASE WHEN v.token IS NOT NULL THEN u.token
                      ELSE chr(1) || 'oov' END AS m
          FROM uni u LEFT JOIN vocab v ON u.token = v.token
        ),
        vt AS (SELECT CAST(COUNT(DISTINCT m) AS DOUBLE) AS v_total FROM muni),
        bi AS (
          SELECT doc_id,
                 CASE WHEN v1.token IS NOT NULL THEN w1
                      ELSE chr(1) || 'oov' END AS m1,
                 CASE WHEN v2.token IS NOT NULL THEN w2
                      ELSE chr(1) || 'oov' END AS m2
          FROM (
            SELECT doc_id, tl[p] AS w1, tl[p + 1] AS w2
            FROM toks, unnest(generate_series(1, len(tl) - 1)) AS g(p)
            WHERE len(tl) >= 2
          )
          LEFT JOIN vocab v1 ON w1 = v1.token
          LEFT JOIN vocab v2 ON w2 = v2.token
        ),
        cb AS (SELECT m1, m2, COUNT(*) AS cb FROM bi GROUP BY m1, m2),
        cl AS (SELECT m1, SUM(cb) AS cl FROM cb GROUP BY m1),
        lm AS (
          SELECT cb.m1, cb.m2,
                 CAST(round(ln((CAST(cb.cb AS DOUBLE) + 1.0)
                               / (CAST(cl.cl AS DOUBLE)
                                  + (SELECT v_total FROM vt))) * 1e8)
                      AS BIGINT) AS lp
          FROM cb JOIN cl USING (m1)
        ),
        dbg AS (SELECT doc_id, m1, m2, COUNT(*) AS n
                FROM bi GROUP BY doc_id, m1, m2)
        SELECT doc_id,
               CAST(SUM(n) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN m1 = chr(1) || 'oov'
                               OR m2 = chr(1) || 'oov'
                             THEN n ELSE 0 END) AS BIGINT) AS n_oov_bigrams,
               CAST(SUM(n * lp) AS BIGINT) AS sum_lp,
               round(CAST(SUM(n * lp) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                     / 1e8, 8) AS avg_logprob
        FROM dbg JOIN lm USING (m1, m2) GROUP BY doc_id ORDER BY doc_id
    """,
    "q_domain_kl": """
        WITH uni AS (
          SELECT source AS domain, t.token
          FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
        ),
        counts AS (SELECT token, COUNT(*) AS freq FROM uni GROUP BY token),
        vocab AS (SELECT token FROM counts
                  ORDER BY freq DESC, token ASC LIMIT 100),
        mapped AS (
          SELECT domain, CASE WHEN v.token IS NOT NULL THEN u.token
                              ELSE chr(1) || 'oov' END AS m
          FROM uni u LEFT JOIN vocab v ON u.token = v.token
        ),
        cd AS (SELECT domain, m, COUNT(*) AS cd FROM mapped GROUP BY 1, 2),
        cc AS (SELECT m, COUNT(*) AS cc FROM mapped GROUP BY m),
        nd AS (SELECT domain, COUNT(*) AS nd FROM mapped GROUP BY domain),
        scal AS (SELECT CAST(SUM(cc) AS DOUBLE) AS n_total,
                        CAST(COUNT(*) AS DOUBLE) AS v_total FROM cc),
        grid AS (
          SELECT n.domain, n.nd,
                 (CAST(COALESCE(d.cd, 0) AS DOUBLE) + 1.0)
                   / (CAST(n.nd AS DOUBLE) + s.v_total) AS pd,
                 (CAST(c.cc AS DOUBLE) + 1.0)
                   / (s.n_total + s.v_total) AS pc
          FROM nd n
          CROSS JOIN cc c
          LEFT JOIN cd d ON d.domain = n.domain AND d.m = c.m
          CROSS JOIN scal s
        )
        SELECT domain, CAST(MAX(nd) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(round(pd * (ln(pd) - ln(pc)) * 1e8) AS BIGINT))
                    AS BIGINT) AS kl_scaled,
               round(CAST(SUM(CAST(round(pd * (ln(pd) - ln(pc)) * 1e8)
                                   AS BIGINT)) AS DOUBLE) / 1e8, 8) AS kl
        FROM grid GROUP BY domain ORDER BY domain
    """,
    "q_text_stats": """
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS avg_chars,
               COUNT(DISTINCT lang) AS n_langs,
               CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
               CAST(SUM(CASE WHEN n_chars >= 200 AND n_chars < 400 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_medium,
               CAST(SUM(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
        FROM documents GROUP BY source ORDER BY source
    """,
    "q_text_quality": """
        WITH f AS (
          SELECT doc_id,
                 CAST(length(text) AS BIGINT) AS nc,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
                   AS n_tokens,
                 CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))
                   AS BIGINT) AS n_punct,
                 CAST(len(list_filter(string_split(lower(text), ' '),
                      x -> x IN ('the','and','of','to','a','in','is','that','for','with')))
                   AS BIGINT) AS n_stop
          FROM documents
        )
        SELECT doc_id, n_tokens, n_punct, n_stop,
               CAST(n_punct AS DOUBLE) / CAST(nc AS DOUBLE) AS punct_ratio,
               CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
               CAST(nc AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len
        FROM f ORDER BY doc_id
    """,
    "q_text_fingerprint": """
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(lower(text), ' '))), ' ')) AS fp
        FROM documents ORDER BY doc_id
    """,
    "q_tok_count": """
        SELECT source,
               CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)
                 AS ws_tokens,
               CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT)
                 AS re_tokens,
               COUNT(*) AS n_docs
        FROM documents GROUP BY source ORDER BY source
    """,
}


def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the trained quality classifier (round 11 — the
    ranking-quality complement of q_eval_metrics' thresholded
    precision/recall): Mann-Whitney U over the hard-sigmoid probability,
    ties at half credit via average ranks.  Everything stays exact
    integers until ONE final division: the score relation groups by
    prob_fp (CLAMPED to [0, 1e6] by construction, so the rank window
    runs over a value-domain-sized relation regardless of corpus size —
    the q_stump histogram argument), strictly-below cumulative counts
    give each tie group's min+max rank, and
    auc = (sum_pos(min_rn + max_rn) - n_pos(n_pos+1)) / (2 n_pos n_neg).
    The oracle wraps q_quality_model's FULL unrolled-GD derivation, so a
    drift anywhere in training, scoring, clamping, or ranking moves the
    statistic."""
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    w, mt = CL.train_quality_lr(d, label=(F.col("n_chars") >= 300), iters=3)
    sl = (
        CL.score_quality_lr(d, w, mt)
        .join(
            d.select(
                "doc_id",
                (F.col("n_chars") >= 300).cast("long").alias("label"),
            ),
            "doc_id",
        )
        .select(F.col("prob_fp").alias("p"), "label")
    )
    g = sl.groupBy("p").agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum("label").alias("np")
    )
    wb = W.orderBy("p").rowsBetween(W.unboundedPreceding, -1)
    r = g.select(
        "p", "n_tot", "np",
        F.coalesce(F.sum("n_tot").over(wb), F.lit(0)).alias("cb"),
    )
    t = r.agg(
        F.sum("np").alias("n_pos"),
        F.sum(F.col("n_tot") - F.col("np")).alias("n_neg"),
        F.sum(
            F.col("np") * (F.lit(2) * F.col("cb") + 1 + F.col("n_tot"))
        ).alias("s2"),
    )
    num2 = F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return t.select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        num2.cast("bigint").alias("auc_num2"),
        F.round(
            num2.cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double"),
            8,
        ).alias("auc"),
    )


ORACLE["q_eval_auc"] = f"""
    WITH scored AS ({ORACLE["q_quality_model"]}),
    g AS (
      SELECT prob_fp AS p, CAST(COUNT(*) AS BIGINT) AS n_tot,
             CAST(SUM(label) AS BIGINT) AS np
      FROM scored GROUP BY prob_fp
    ),
    r AS (
      SELECT p, n_tot, np,
             COALESCE(SUM(n_tot) OVER (ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM g
    ),
    t AS (
      SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
             CAST(SUM(n_tot - np) AS BIGINT) AS n_neg,
             CAST(SUM(np * (2 * cb + 1 + n_tot)) AS BIGINT) AS s2
      FROM r
    )
    SELECT n_pos, n_neg,
           CAST(s2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num2,
           round(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * n_neg AS DOUBLE), 8) AS auc
    FROM t
"""
QUERIES["q_eval_auc"] = q_eval_auc
