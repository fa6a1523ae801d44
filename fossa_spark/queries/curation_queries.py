"""Training-data curation queries: PII redaction, benchmark contamination,
deterministic sampling, repetition filtering, dup-cluster retention — the
corpus-hygiene passes of a pretraining pipeline, each DuckDB-oracle-checked.

Determinism notes (the usual playbook): counts cast to long, ratios are one
double division rounded to 8 dp, sampling uses md5 hex-string comparison
(lexicographic compare of fixed-width lowercase hex ≡ numeric compare, and
thresholds are exact multiples of 1/16 so both engines agree bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fossa_spark.llm import curation as C
from fossa_spark.llm import dedup as D
from fossa_spark.queries._util import load, spread


def _augmented_pii(d: DataFrame) -> DataFrame:
    """The test corpus contains no PII, so plant deterministic synthetic
    spans (email / phone / IPv4 derived from doc_id) before redacting —
    the redaction regexes then provably fire and hash-verify."""
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
        F.lit(" call 555-"),
        F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".7"),
    )
    return d.select("doc_id", aug.alias("text"))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (email/phone/IPv4 → typed tags) with per-category
    counts. Narrow codegen'd pass — no shuffle, no Python."""
    d = _augmented_pii(spread(load(spark, sf_dir, "documents"), spark))
    return (
        C.redact_pii(d)
        .select("doc_id", "n_email", "n_phone", "n_ipv4", "redacted")
        .orderBy("doc_id")
    )


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII DISCOVERY (the audit pass that precedes redaction): extract
    every matched span per document with regexp_extract_all — emails and
    IPv4s as sorted arrays — narrow codegen'd pass, zero shuffle."""
    from fossa_spark.llm.curation import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    d = _augmented_pii(spread(load(spark, sf_dir, "documents"), spark))
    # matched spans emitted as a '|'-joined sorted string, not an array —
    # array cells round-trip as numpy arrays whose dtype (object vs <U)
    # differs between the two engines' pandas bridges and can flip the
    # value hash even when contents are identical
    return d.select(
        "doc_id",
        F.concat_ws(
            "|", F.array_sort(F.regexp_extract_all("text", F.lit(pats["email"]), F.lit(0)))
        ).alias("emails"),
        F.concat_ws(
            "|", F.array_sort(F.regexp_extract_all("text", F.lit(pats["ipv4"]), F.lit(0)))
        ).alias("ips"),
        F.size(
            F.regexp_extract_all("text", F.lit(pats["email"]), F.lit(0))
        ).cast("long").alias("n_spans"),
    ).orderBy("doc_id")


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: training docs sharing any word 3-gram
    with the held-out benchmark slice (doc_id % 97 == 0). The benchmark
    gram set is broadcast — the corpus never shuffles (spread: the
    per-doc gram explode must see every core, see _util)."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return C.contamination_check(train, bench, k=3).orderBy("doc_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECONTAMINATION manifest at DOC grain (round 14): every training
    document (doc_id % 5 != 0) that must be dropped before training
    because it leaks the held-out benchmark slice, with the evidence —
    the operational union of the two contamination detectors, closing
    the scope split the span scan documents (ADVICE r13):

    - ``exact_bench``: the doc's text collapses to a benchmark-side
      representative (rep_id % 5 == 0) — a verbatim full-document copy
      of a benchmark doc, the case the rep-grain span scan cannot emit
      by construction (it sees one collapsed rep).
    - span evidence: the doc's representative shares a ≥ 32-token
      verbatim span with a benchmark rep (cross_span_pairs at a
      stricter threshold than q_contamination_span's 16 — removal
      wants higher precision than scanning).

    Scale shape: the span side is the broadcast-pruned asymmetric scan
    (the corpus anchor table never exchanges); the exact side is the
    one groupBy(text) the exact-dedup pass already pays, joined back
    at digest grain; the final left join runs at doc grain against a
    match-grain aggregate."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    anchors = D.span_anchors(d, k=8)
    spans = D.cross_span_pairs(
        anchors, F.col("rep_id") % 5 == 0, k=8, min_tokens=32, max_df=100
    )
    span_agg = (
        spans.groupBy("train_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench_spans"),
            F.max("span_tokens").alias("max_span_tokens"),
        )
        .withColumnRenamed("train_id", "rep_id")
    )
    reps = d.groupBy("text").agg(F.min("doc_id").alias("rep_id"))
    train = (
        d.select("doc_id", "text")
        .join(reps, "text")
        .select("doc_id", "rep_id")
        .filter(F.col("doc_id") % 5 != 0)
    )
    return (
        train.join(span_agg, "rep_id", "left")
        .withColumn("exact_bench", F.col("rep_id") % 5 == 0)
        .filter(
            F.col("exact_bench") | F.col("n_bench_spans").isNotNull()
        )
        .select(
            "doc_id",
            "rep_id",
            "exact_bench",
            F.coalesce("n_bench_spans", F.lit(0))
            .cast("long")
            .alias("n_bench_spans"),
            F.coalesce("max_span_tokens", F.lit(0))
            .cast("long")
            .alias("max_span_tokens"),
        )
        .orderBy("doc_id")
    )


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified Bernoulli sample: 25% of short-named sources
    (src0-src9), 50% of the rest, keyed on md5(doc_id) — reproducible
    across engines, runs, and partition layouts (unlike df.sample)."""
    d = load(spark, sf_dir, "documents")
    rate = F.when(F.length("source") == 4, F.lit(0.25)).otherwise(F.lit(0.5))
    return (
        C.hash_sample(d, "doc_id", rate)
        .select("source", "doc_id")
        .orderBy("doc_id")
    )


def q_sample_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-N-per-stratum sample: 5 docs per source, ranked by the
    deterministic md5 shuffle order. One window over the stratum key."""
    d = load(spark, sf_dir, "documents")
    return (
        C.stratified_fixed_n(d, "source", "doc_id", n=5)
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk")
    )


def q_split_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~80/10/10 at exact 1/256
    byte boundaries of md5(doc_id)) with per-(source, split) counts and
    token sums — the fold-assignment audit a training pipeline snapshots
    before every run. Narrow hash projection + one partial-agg shuffle."""
    d = load(spark, sf_dir, "documents")
    n_tok = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).cast("long")
    return (
        C.hash_split(d, "doc_id")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok).alias("n_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source", "split")
    )


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): keep the top-50 docs by ln(u)/w where u is a
    md5-derived uniform and w the document weight (n_chars here; quality
    score in production) — longer docs proportionally likelier, yet fully
    reproducible across engines/partitionings because there is no RNG
    state. Log-domain key (≡ u^(1/w) ordering) rounded to 8 dp,
    doc_id tie-break. One global top-k (TakeOrdered — no full sort)."""
    d = load(spark, sf_dir, "documents")
    # 8 hex chars → 32-bit uniform; +1 keeps u in (0, 1]
    u = (
        (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
         .cast("double") + 1.0)
        / 4294967296.0
    )
    key = F.round(F.log(u) / F.col("n_chars").cast("double"), 8)
    return (
        d.select("doc_id", "source", F.col("n_chars").cast("long").alias("w"),
                 key.alias("k"))
        .orderBy(F.col("k").desc(), F.col("doc_id").asc())
        .limit(50)
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition features: duplicate-token / duplicate-bigram
    fractions per document. Pure array expressions — narrow pass
    (spread: per-doc array work must see every core, see _util)."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    return (
        C.repetition_stats(d)
        .select(
            "doc_id",
            "n_tokens",
            "n_uniq_tokens",
            "n_bigrams",
            "n_uniq_bigrams",
            "dup_token_frac",
            "dup_bigram_frac",
        )
        .orderBy("doc_id")
    )


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: stream each source's docs in doc_id order, cut
    into 512-token training chunks (doc → the chunk its first token lands
    in). One shuffle on source + one window pass; per-chunk sizes out."""
    from fossa_spark.llm.text import token_count_ws

    d = load(spark, sf_dir, "documents")
    packed = C.pack_chunks(d, "source", "doc_id", token_count_ws("text"), budget=512)
    return (
        packed.groupBy("source", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .orderBy("source", "chunk_id")
    )


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows, 16-token overlap) — the
    RAG/context segmentation pass; narrow map-only plan, chunk text +
    boundaries verified exactly."""
    d = load(spark, sf_dir, "documents")
    return (
        C.chunk_text(d, "doc_id", "text", size=64, overlap=16)
        .orderBy("doc_id", "chunk_idx")
    )


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist filtering: extract URL domains (the corpus has
    none, so plant one deterministic URL per doc), drop blocklisted
    domains via a broadcast anti join, count survivors per domain."""
    d = load(spark, sf_dir, "documents")
    host = F.element_at(
        F.array(
            F.lit("spam.example"), F.lit("seo-farm.example"), F.lit("news.example"),
            F.lit("blog.example"), F.lit("docs.example"),
        ),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" see https://"), host,
            F.lit("/p"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    domains = C.extract_domains(aug).select(
        "doc_id", F.explode("domains").alias("domain")
    )
    block = spark.createDataFrame(
        [(b,) for b in C.DOMAIN_BLOCKLIST], "domain string"
    )
    return (
        domains.join(F.broadcast(block), "domain", "left_anti")
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("domain")
    )


def q_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster retention: exact n-gram-Jaccard near-dup pairs →
    connected components (iterative min-label propagation + pointer
    jumping) → keep the longest doc per cluster (ties → lowest id).

    This puts the ITERATIVE connected-components operator under a hard SQL
    oracle (recursive-CTE transitive closure on the DuckDB side) — the one
    piece of the dedup path that is otherwise only pytest-verified."""
    d = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, k=5, min_jaccard=0.5, max_df=100).select(
        "id_a", "id_b"
    )
    comp = D.connected_components(pairs)
    return C.keep_best_per_cluster(comp, d).orderBy("component")


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dedup-aware shard writer (round 8, VERDICT r7 item 8 —
    llm/curation.py write_training_shards): the curation family's final
    deliverable.  Near-dup clusters (exact n-gram Jaccard pairs →
    connected components) are collapsed to their best doc, survivors are
    hash-bucketed into 16 deterministic size-balanced shards, each shard
    is written as one parquet file whose row order is a seeded-hash
    shuffle, and the query returns the MANIFEST — per shard: doc count,
    token sum, an order-independent 40-bit-digest content sum, the head
    of the shuffle order, and the id range — computed from the RE-READ
    files, so the oracle cross-checks the artifact on disk against the
    same retention + placement + digest math in SQL.  Any lost,
    duplicated, mutated, or mis-placed row moves a manifest cell."""
    import tempfile

    d = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, k=5, min_jaccard=0.5, max_df=100).select(
        "id_a", "id_b"
    )
    comp = D.connected_components(pairs)
    out_dir = tempfile.mkdtemp(prefix="fossa_shards_")
    C.write_training_shards(d, comp, out_dir, n_shards=16)
    return C.shard_manifest(spark, out_dir)


def q_shard_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL shard append (round 8, llm/curation.py
    append_to_shards) — the daily-batch close of the loop: the corpus
    (doc_id % 4 != 0) lives as a base shard layout written per run;
    the arriving batch (doc_id % 4 == 0, plus planted exact copies of
    corpus docs with doc_id % 16 == 1 under +10_000_000 ids) probes the
    persisted exact digest index, and only the NOVEL docs are placed —
    by the same pure-function-of-id hash bucket as the base, so each
    lands in the shard a full rebuild would have put it in — and
    appended under the existing shard= directories.  Returns the
    per-shard manifest DELTA computed from the re-read appended files;
    the oracle re-derives dedup + placement + digest math in SQL, so a
    lost/duplicated/mis-placed appended row hash-mismatches."""
    import hashlib
    import tempfile

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    planted = corpus.filter(F.col("doc_id") % 16 == 1).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    batch = batch.unionByName(planted)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # same tag-keyed digest index q_dedup_incremental_exact serves from
    table = f"fs_exact_idx_{tag}"
    if not spark.catalog.tableExists(table):
        D.build_exact_index(
            corpus, spark, table, tempfile.mkdtemp(prefix="fossa_exact_idx_")
        )
    keep = D.incremental_exact_dedup(batch, spark, table)

    empty_comp = spark.createDataFrame([], "doc_id long, component long")
    shard_dir = tempfile.mkdtemp(prefix="fossa_shard_base_")
    C.write_training_shards(corpus, empty_comp, shard_dir, n_shards=16)
    return C.append_to_shards(batch, keep, shard_dir, n_shards=16)


def q_shard_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-layout COMPACTION under the full-manifest oracle (round 9,
    VERDICT r8 item 2 — llm/curation.py compact_shards): the maintenance
    pass that closes the append loop.  Same setup as q_shard_delta — the
    base layout (corpus = doc_id % 4 != 0) plus one appended batch of
    novel docs — then compact_shards folds the ``batch=`` partitions
    into one file per shard and the query returns the FULL post-compaction
    manifest, re-read from the rewritten files.  The oracle re-derives
    the manifest of corpus + novel docs directly in SQL, so any row the
    rewrite loses, duplicates, mutates, or mis-places — and any pos_key
    order damage (``first_doc`` keys on it) — hash-mismatches.  File-count
    reduction is pinned in tests/test_curation.py.

    Compaction MUTATES its layout, so the base is written fresh per run."""
    import hashlib
    import tempfile

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    planted = corpus.filter(F.col("doc_id") % 16 == 1).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    batch = batch.unionByName(planted)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"fs_exact_idx_{tag}"
    if not spark.catalog.tableExists(table):
        D.build_exact_index(
            corpus, spark, table, tempfile.mkdtemp(prefix="fossa_exact_idx_")
        )
    keep = D.incremental_exact_dedup(batch, spark, table)

    empty_comp = spark.createDataFrame([], "doc_id long, component long")
    shard_dir = tempfile.mkdtemp(prefix="fossa_shard_cpt_")
    C.write_training_shards(corpus, empty_comp, shard_dir, n_shards=16)
    C.append_to_shards(batch, keep, shard_dir, n_shards=16)
    C.compact_shards(spark, shard_dir)
    return C.shard_manifest(spark, shard_dir)


def q_shard_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-layout READ-side contract (round 9, VERDICT r8 item 8 —
    llm/curation.py shard_epoch_order): the training loader's
    deterministic epoch plan over the base shard layout — per shard, the
    first 3 documents in the stored pos_key order with their resumable
    offsets and token budgets.  The oracle re-derives retention +
    placement + pos_key + the rank in SQL, so the loader's order (and
    with pos=1, the manifest's ``first_doc`` head) is hash-checked
    against the artifact a full rebuild would produce: any row the
    writer misplaced, any order the reader breaks (e.g. relying on file
    order instead of pos_key), any off-by-one in the resume offset
    mismatches."""
    import tempfile

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    empty_comp = spark.createDataFrame([], "doc_id long, component long")
    shard_dir = tempfile.mkdtemp(prefix="fossa_shard_epoch_")
    C.write_training_shards(corpus, empty_comp, shard_dir, n_shards=16)
    return (
        C.shard_epoch_order(spark, shard_dir, start_pos=0, end_pos=3)
        .select("shard", F.col("pos").cast("long").alias("pos"),
                "doc_id", "n_tok")
        .orderBy("shard", "pos")
    )


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-AWARE train/val/test split: near-duplicate documents must
    land in the SAME fold, or eval leaks training data (the
    contamination mode a plain per-doc split can't prevent). Fold
    assignment hashes the doc's near-dup COMPONENT id (exact n-gram
    Jaccard pairs → connected components; singletons hash their own id),
    so every cluster moves as one unit — and the split stays exactly as
    auditable/deterministic as q_split_train's. Per-fold audit row:
    docs, distinct groups, id range."""
    d = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, k=5, min_jaccard=0.5, max_df=100).select(
        "id_a", "id_b"
    )
    comp = D.connected_components(pairs)
    grouped = (
        d.join(comp, "doc_id", "left")
        .withColumn("group_key", F.coalesce("component", F.col("doc_id")))
    )
    return (
        C.hash_split(grouped, "group_key")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("group_key").alias("n_groups"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab audit: top-100 corpus vocabulary (count agg +
    TakeOrderedAndProject), then per-source occurrence coverage / OOV rate
    via a broadcast mark-join of the vocab against the exploded corpus."""
    d = load(spark, sf_dir, "documents")
    vocab = C.vocab_top_k(d, k=100)
    return C.vocab_coverage(d, vocab).orderBy("source")


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.7) source mixing weights over per-source
    token counts — the multinomial smoothing pass for multi-source corpora."""
    d = load(spark, sf_dir, "documents")
    return C.mixing_weights(d, alpha=0.7).orderBy("source")


def q_mix_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture ENFORCEMENT (round 9, llm/curation.py apply_mixture):
    q_mix_weights computes the temperature-scaled targets; this query
    materializes them — each source hash-thinned to rate_s = w_s·T/n_s
    with T = min(n/w) (the binding source kept in full) — and returns
    the per-source audit: docs/tokens kept vs total and the rate.  The
    oracle re-derives weights, budget, rates, and every per-doc coin in
    SQL, so a single mis-kept document moves the audit row."""
    d = load(spark, sf_dir, "documents")
    out = C.apply_mixture(d, alpha=0.7)
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(F.lit(0)))
            .alias("tok_kept"),
            F.min("rate").alias("rate"),
        )
        .orderBy("source")
    )


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization roundtrip over the embeddings table:
    integer code sums + saturation counts (exact) and worst-case
    reconstruction error (rounded) per vector."""
    from fossa_spark.llm.similarity import quantize_int8

    e = load(spark, sf_dir, "embeddings")
    return (
        quantize_int8(e)
        .select("vec_id", "label", "code_sum", "n_sat", "max_abs_err")
        .orderBy("vec_id")
    )


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the normalization pass web-corpus dedup runs
    BEFORE grouping by URL (CommonCrawl pipelines): lowercase the host,
    strip the scheme, a leading www., the default port, utm_* / ref
    tracking params (rebuilding the query string), fragments, and any
    trailing slash. One codegen'd regexp chain, no shuffle except the
    final per-canonical-URL count — which is the point: messy variants of
    the same page collapse to one key. The corpus has no URLs, so each
    doc plants a deterministically-messy variant; docs with doc_id % 4
    ∈ {0..3} get 4 different dressings of the SAME logical URL family,
    and the count per canonical key proves the collapse."""
    d = load(spark, sf_dir, "documents")
    base_id = (F.col("doc_id") % 50).cast("string")  # 50 logical pages
    messy = F.element_at(
        F.array(
            F.concat(F.lit("http://WWW.Site.Example:80/page/"), base_id,
                     F.lit("/?utm_source=feed&id=7#top")),
            F.concat(F.lit("https://site.example/page/"), base_id,
                     F.lit("/?id=7&utm_campaign=x")),
            F.concat(F.lit("http://Site.Example/page/"), base_id,
                     F.lit("?id=7")),
            F.concat(F.lit("https://www.site.example:443/page/"), base_id,
                     F.lit("/?ref=tw&id=7")),
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    canon = messy
    # scheme off, host lowercased (host stops at first / or ? or :)
    canon = F.regexp_replace(canon, r"^https?://", "")
    host = F.lower(F.regexp_extract(canon, r"^([^/:?]+)", 1))
    rest = F.regexp_replace(canon, r"^[^/:?]+", "")
    canon = F.concat(F.regexp_replace(host, r"^www\.", ""),
                     F.regexp_replace(rest, r"^:\d+", ""))
    canon = F.regexp_replace(canon, r"#.*$", "")          # fragment
    canon = F.regexp_replace(canon, r"(utm_[a-z]+|ref)=[^&]*&?", "")  # trackers
    canon = F.regexp_replace(canon, r"[?&]+$", "")        # empty query
    canon = F.regexp_replace(canon, r"/+(\?|$)", "$1")    # trailing slash
    return (
        d.select(canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_variants"))
        .orderBy("canonical_url")
    )


_URL_CANON_SQL = r"""
    WITH messy AS (
      SELECT CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN 'http://WWW.Site.Example:80/page/' ||
                    CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=feed&id=7#top'
        WHEN 1 THEN 'https://site.example/page/' ||
                    CAST(doc_id % 50 AS VARCHAR) || '/?id=7&utm_campaign=x'
        WHEN 2 THEN 'http://Site.Example/page/' ||
                    CAST(doc_id % 50 AS VARCHAR) || '?id=7'
        ELSE 'https://www.site.example:443/page/' ||
                    CAST(doc_id % 50 AS VARCHAR) || '/?ref=tw&id=7'
      END AS u
      FROM documents
    ),
    steps AS (
      SELECT regexp_replace(u, '^https?://', '') AS u1 FROM messy
    ),
    hostsplit AS (
      SELECT lower(regexp_extract(u1, '^([^/:?]+)', 1)) AS host,
             regexp_replace(u1, '^[^/:?]+', '') AS rest
      FROM steps
    ),
    canon AS (
      SELECT regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(host, '^www\.', '')
                       || regexp_replace(rest, '^:\d+', ''),
                     '#.*$', ''),
                   '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'),
                 '[?&]+$', ''),
               '/+(\?|$)', '\1') AS canonical_url
      FROM hostsplit
    )
    SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants
    FROM canon GROUP BY 1 ORDER BY 1
"""


_LANGS = ("en", "de", "fr", "es", "zh")


def q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-diversity entropy per source — the mix-balance diagnostic
    next to q_mix_weights: Shannon entropy of each source's language
    distribution (0 = monolingual source, ln 5 = uniform over the 5
    corpus languages).

    Determinism: per-lang counts pivot to FIXED columns so the cross-lang
    entropy sum is a fixed-order expression chain, never an order-
    dependent SUM over doubles; each -p·ln p term is the same
    division+log both engines evaluate on identical inputs, rounded 8 dp
    at the end (transcendental contract). One groupBy — corpus-scale
    cost is a single shuffle on source."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.when(F.col("lang") == L, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{L}")
            for L in _LANGS
        ],
    )
    ent = F.lit(0.0)
    for L in _LANGS:
        p = F.col(f"n_{L}").cast("double") / F.col("n_docs").cast("double")
        ent = ent + F.when(
            F.col(f"n_{L}") > 0, -(p * F.log(p))
        ).otherwise(F.lit(0.0))
    return counts.select(
        "source",
        "n_docs",
        *[f"n_{L}" for L in _LANGS],
        F.round(ent, 8).alias("entropy"),
    ).orderBy("source")


def _entropy_sql() -> str:
    cols = ",\n                 ".join(
        f"CAST(SUM(CASE WHEN lang = '{L}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{L}"
        for L in _LANGS
    )
    ent = "0.0"
    for L in _LANGS:
        p = f"(CAST(n_{L} AS DOUBLE) / CAST(n_docs AS DOUBLE))"
        ent = (f"({ent} + CASE WHEN n_{L} > 0 THEN -({p} * ln({p})) "
               f"ELSE 0.0 END)")
    return f"""
        WITH counts AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 {cols}
          FROM documents GROUP BY source
        )
        SELECT source, n_docs, {", ".join(f"n_{L}" for L in _LANGS)},
               round({ent}, 8) AS entropy
        FROM counts ORDER BY source
    """


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste analysis for fixed-size training batches: each doc
    lands in the smallest power-of-two length bucket (16..512; longer
    docs truncate into 1024), padding = bucket − min(tokens, bucket).
    Per bucket: docs, used tokens, padded tokens, waste% — the table a
    batching/bucketing strategy is tuned against before committing a
    packing layout.  One aggregation pass over the exact whitespace
    token count (llm/text.py token_count_ws — SQL-mirrorable); sums are
    exact integers, the waste ratio is one rounded division."""
    from fossa_spark.llm.text import token_count_ws

    d = load(spark, sf_dir, "documents")
    ntok = token_count_ws("text")
    bucket = (
        F.when(ntok <= 16, 16)
        .when(ntok <= 32, 32)
        .when(ntok <= 64, 64)
        .when(ntok <= 128, 128)
        .when(ntok <= 256, 256)
        .when(ntok <= 512, 512)
        .otherwise(1024)
        .cast("long")
    )
    used = F.least(ntok, F.lit(1024).cast("long"))
    return (
        d.select(bucket.alias("bucket"), used.alias("_used"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_used").cast("long").alias("used_tokens"),
            F.sum(F.col("bucket") - F.col("_used")).cast("long").alias(
                "padded_tokens"
            ),
        )
        .withColumn(
            "waste_pct",
            F.round(
                F.col("padded_tokens").cast("double") * 100.0
                / (F.col("padded_tokens") + F.col("used_tokens")).cast("double"),
                8,
            ),
        )
        .orderBy("bucket")
    )


def q_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: the verified near-dup pair
    relation (word-5-gram Jaccard ≥ 0.5 — the q_dedup_ngram /
    q_cluster_keep input) grouped by the UNORDERED source pair of its
    endpoints — "which sources duplicate each other", the provenance
    table that decides whether to dedup within or across crawls.
    Scale shape: the pair relation is post-threshold (tiny vs corpus);
    two broadcast id-joins attach sources; least/greatest normalizes
    the pair so the matrix is upper-triangular."""
    d = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, k=5, min_jaccard=0.5, max_df=100).select(
        "id_a", "id_b"
    )
    sa = d.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa"))
    sb = d.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("_sa", "_sb").alias("src_lo"),
            F.greatest("_sa", "_sb").alias("src_hi"),
        )
        .groupBy("src_lo", "src_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("src_lo", "src_hi")
    )


def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DATA CARD (round 10, llm/curation.py data_card): the
    per-(source, lang) release report published next to the training
    shards — docs, tokens, chars, corpus-wide exact-duplicate membership,
    dup rate, and token share in ppm. The oracle re-derives the digest
    counts and every ratio in SQL, so a single mis-attributed duplicate
    or a skewed share moves a cell."""
    # normalize+md5 per doc is a compute-heavy narrow pass — spread()
    # buys idle cores when the scan yields fewer splits than cores
    d = spread(load(spark, sf_dir, "documents"), spark)
    return C.data_card(d).orderBy("source", "lang")


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency cap (round 10, llm/curation.py
    cap_per_group): no host may contribute more than N docs — the
    CommonCrawl anti-domination pass. The corpus has no URLs, so each
    doc derives a deterministic domain (doc_id % 7); the cap keeps the
    10 hash-smallest docs per domain (salted md5 rank — a reproducible
    uniform sample, identical across engines/runs/partitionings).
    Returns the per-domain audit: totals, kept counts, and the kept-id /
    kept-token sums that pin WHICH docs survived, not just how many."""
    d = load(spark, sf_dir, "documents").withColumn(
        "domain",
        F.concat(F.lit("site"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example")),
    )
    from fossa_spark.llm.text import token_count_ws

    capped = C.cap_per_group(d, by="domain", n=10)
    return (
        capped.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("doc_id")).otherwise(F.lit(0)))
            .alias("kept_id_sum"),
            F.sum(F.when(F.col("keep"), token_count_ws("text"))
                  .otherwise(F.lit(0))).alias("kept_tok_sum"),
        )
        .orderBy("domain")
    )


def q_k_anon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release (round 10, llm/curation.py k_anonymize):
    customer quasi-identifiers (nation, market segment, account-balance
    bucket) generalized up a fixed ladder — bal bucket 500 → 2500 → '*'
    → segment also '*' — to the minimal GLOBAL level whose under-k rows
    are ≤ 1% of the table (coarsest level if none qualifies), then only
    groups with ≥ k members are published. The chooser is declarative
    (no driver branching), and the oracle re-derives all four ladders,
    the suppression accounting, and the chooser in SQL — a single
    off-by-one group moves the published relation."""
    c = load(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("double")

    def bucket(width: int):
        return (F.floor(bal / F.lit(float(width))).cast("bigint")
                * width).cast("string")

    nat = F.col("c_nationkey").cast("string")
    seg = F.col("c_mktsegment")
    star = F.lit("*")
    levels = [
        {"nation": nat, "segment": seg, "bal_bucket": bucket(500)},
        {"nation": nat, "segment": seg, "bal_bucket": bucket(2500)},
        {"nation": nat, "segment": seg, "bal_bucket": star},
        {"nation": nat, "segment": star, "bal_bucket": star},
    ]
    return (
        C.k_anonymize(c, levels, k=5, max_suppress_frac=0.01)
        .orderBy("nation", "segment", "bal_bucket")
    )


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-rule CASCADE with attrition report (round 10,
    llm/curation.py filter_funnel — the C4/Gopher funnel): five ordered
    rules (min chars, min tokens, duplicate-token fraction, punctuation
    ratio, average token length), each document charged to the FIRST
    rule it fails; the result is the per-stage funnel — n_evaluated
    shrinking down the cascade, per-rule kill counts and rates. The
    whole cascade is one chained CASE in a single narrow pass; the
    oracle re-derives every feature, the first-fail attribution, and
    the cumulative evaluation counts in SQL."""
    from fossa_spark.llm.text import token_count_ws, tokens

    # regex + tokenization features per doc — compute-heavy narrow pass
    d = spread(load(spark, sf_dir, "documents"), spark)
    t = F.col("text")
    toks = tokens(t)
    nc = F.length(t).cast("double")
    nt = token_count_ws(t).cast("double")
    dupf = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / \
        F.size(toks).cast("double")
    punct = (
        F.length(t) - F.length(F.regexp_replace(t, r"[\.,;:!\?]", ""))
    ).cast("double") / nc
    avl = nc / nt
    rules = [
        ("min_chars", F.length(t) >= 150),
        ("min_tokens", token_count_ws(t) >= 30),
        ("dup_tokens", dupf <= 0.5),
        ("punct_ratio", punct <= 0.015),
        ("avg_token_len", (avl >= 5.2) & (avl <= 6.0)),
    ]
    _, report = C.filter_funnel(d, rules)
    return report.orderBy("stage")


QUERIES = {
    "q_source_entropy": q_source_entropy,
    "q_filter_funnel": q_filter_funnel,
    "q_pack_efficiency": q_pack_efficiency,
    "q_dedup_source_matrix": q_dedup_source_matrix,
    "q_url_canonical": q_url_canonical,
    "q_pii_redact": q_pii_redact,
    "q_pii_scan": q_pii_scan,
    "q_vocab_coverage": q_vocab_coverage,
    "q_mix_weights": q_mix_weights,
    "q_mix_apply": q_mix_apply,
    "q_embed_quantize": q_embed_quantize,
    "q_contamination": q_contamination,
    "q_decontaminate": q_decontaminate,
    "q_sample_hash": q_sample_hash,
    "q_split_train": q_split_train,
    "q_sample_weighted": q_sample_weighted,
    "q_sample_fixed": q_sample_fixed,
    "q_repetition": q_repetition,
    "q_pack_chunks": q_pack_chunks,
    "q_chunk_overlap": q_chunk_overlap,
    "q_url_filter": q_url_filter,
    "q_cluster_keep": q_cluster_keep,
    "q_shard_manifest": q_shard_manifest,
    "q_shard_compact": q_shard_compact,
    "q_shard_epoch": q_shard_epoch,
    "q_shard_delta": q_shard_delta,
    "q_split_leakage_safe": q_split_leakage_safe,
    "q_data_card": q_data_card,
    "q_domain_cap": q_domain_cap,
    "q_k_anon": q_k_anon,
}

# shared oracle fragment: distinct word k-grams per doc (mirrors
# dedup.word_shingles: split on single space of lowercased text, slices of
# width k, array_distinct)
_GRAMS = """
  toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
  sh0 AS (
    SELECT DISTINCT doc_id, array_to_string(t[gs : gs + {km1}], ' ') AS gram
    FROM (SELECT *, unnest(generate_series(1, greatest(len(t) - {km1}, 1))) AS gs
                FROM toks) g
  )
"""

_AUG = """
  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
       || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
"""

_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

ORACLE = {
    # first-fail attribution via one CASE cascade; n_evaluated derived
    # from the cumulative earlier-stage kill counts; all features are
    # single IEEE ops over exact ints on both engines
    "q_filter_funnel": """
        WITH t AS (
          SELECT length(text) AS nc,
                 length(text) - length(replace(text, ' ', '')) + 1 AS nt,
                 length(text) - length(regexp_replace(text,
                     '[\\.,;:!\\?]', '', 'g')) AS np,
                 string_split(lower(text), ' ') AS toks
          FROM documents
        ),
        f AS (
          SELECT CASE
            WHEN NOT (nc >= 150) THEN 0
            WHEN NOT (nt >= 30) THEN 1
            WHEN NOT (1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                            / CAST(len(toks) AS DOUBLE) <= 0.5) THEN 2
            WHEN NOT (CAST(np AS DOUBLE) / CAST(nc AS DOUBLE) <= 0.015)
              THEN 3
            WHEN NOT (CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE) >= 5.2
                      AND CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE) <= 6.0)
              THEN 4
          END AS stage
          FROM t
        ),
        c AS (SELECT stage, CAST(COUNT(*) AS BIGINT) AS n
              FROM f GROUP BY stage),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
        rules(stage, rule) AS (VALUES
          (0, 'min_chars'), (1, 'min_tokens'), (2, 'dup_tokens'),
          (3, 'punct_ratio'), (4, 'avg_token_len')),
        r AS (
          SELECT rules.stage, rule,
                 CAST(coalesce(c.n, 0) AS BIGINT) AS n_failed
          FROM rules LEFT JOIN c ON c.stage = rules.stage
        ),
        e AS (
          SELECT stage, rule, n_failed,
                 CAST((SELECT total FROM tot)
                      - coalesce(SUM(n_failed) OVER (ORDER BY stage
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n_evaluated
          FROM r
        )
        SELECT CAST(stage AS INT) AS stage, rule, n_evaluated, n_failed,
               CAST(n_evaluated - n_failed AS BIGINT) AS n_survived,
               CASE WHEN n_evaluated > 0
                    THEN round(CAST(n_failed AS DOUBLE)
                               / CAST(n_evaluated AS DOUBLE), 8)
               END AS fail_rate
        FROM e ORDER BY stage
    """,
    # normalized-digest copies corpus-wide, attributed to each copy's own
    # group; ratios are single double divisions rounded (8 dp / 4 dp);
    # every integer CAST to BIGINT (DuckDB SUM(BIGINT) returns HUGEINT)
    "q_data_card": """
        WITH rows0 AS (
          SELECT source, lang,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                      AS BIGINT) AS ntok,
                 CAST(length(text) AS BIGINT) AS nchr,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS dig
          FROM documents
        ),
        copies AS (SELECT dig, COUNT(*) AS n_copies FROM rows0 GROUP BY dig),
        g AS (
          SELECT source, lang,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(ntok) AS BIGINT) AS n_tokens,
                 CAST(SUM(nchr) AS BIGINT) AS n_chars,
                 CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_docs
          FROM rows0 JOIN copies USING (dig) GROUP BY source, lang
        ),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM g)
        SELECT source, lang, n_docs, n_tokens, n_chars, n_dup_docs,
               round(CAST(n_dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 8)
                 AS dup_rate,
               round(CAST(n_tokens AS DOUBLE) * 1000000.0
                     / CAST(tot AS DOUBLE), 4) AS tok_share_ppm
        FROM g, tot ORDER BY source, lang
    """,
    # salted-md5 rank (same '0x'-hex trick as q_mix_apply's coin),
    # row_number per domain, cap n=10; kept-id/token sums pin membership
    "q_domain_cap": """
        WITH d AS (
          SELECT doc_id, text,
                 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS domain,
                 CAST(('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) AS u
          FROM documents
        ),
        r AS (
          SELECT domain, doc_id,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                      AS BIGINT) AS ntok,
                 row_number() OVER (PARTITION BY domain
                                    ORDER BY u ASC, doc_id ASC) AS rk
          FROM d
        )
        SELECT domain,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               CAST(SUM(CASE WHEN rk <= 10 THEN doc_id ELSE 0 END) AS BIGINT)
                 AS kept_id_sum,
               CAST(SUM(CASE WHEN rk <= 10 THEN ntok ELSE 0 END) AS BIGINT)
                 AS kept_tok_sum
        FROM r GROUP BY domain ORDER BY domain
    """,
    # all four ladder levels re-derived, suppression accounting per level,
    # declarative chooser (min qualifying level else coarsest), publish
    # groups >= k at the chosen level only
    "q_k_anon": """
        WITH lv AS (
          SELECT CAST(0 AS INT) AS level,
                 CAST(c_nationkey AS VARCHAR) AS nation,
                 c_mktsegment AS segment,
                 CAST(CAST(floor(c_acctbal / 500.0) AS BIGINT) * 500
                      AS VARCHAR) AS bal_bucket,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM customer GROUP BY 2, 3, 4
          UNION ALL
          SELECT CAST(1 AS INT),
                 CAST(c_nationkey AS VARCHAR), c_mktsegment,
                 CAST(CAST(floor(c_acctbal / 2500.0) AS BIGINT) * 2500
                      AS VARCHAR),
                 CAST(COUNT(*) AS BIGINT)
          FROM customer GROUP BY 2, 3, 4
          UNION ALL
          SELECT CAST(2 AS INT),
                 CAST(c_nationkey AS VARCHAR), c_mktsegment, '*',
                 CAST(COUNT(*) AS BIGINT)
          FROM customer GROUP BY 2, 3, 4
          UNION ALL
          SELECT CAST(3 AS INT),
                 CAST(c_nationkey AS VARCHAR), '*', '*',
                 CAST(COUNT(*) AS BIGINT)
          FROM customer GROUP BY 2, 3, 4
        ),
        stats AS (
          SELECT level,
                 CAST(SUM(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
                   AS suppressed,
                 CAST(SUM(cnt) AS BIGINT) AS n
          FROM lv GROUP BY level
        ),
        chosen AS (
          SELECT coalesce(
                   MIN(CASE WHEN CAST(suppressed AS DOUBLE)
                                 <= 0.01 * CAST(n AS DOUBLE)
                            THEN level END),
                   MAX(level)) AS lvl
          FROM stats
        )
        SELECT level, nation, segment, bal_bucket, cnt
        FROM lv JOIN chosen ON lv.level = chosen.lvl
        WHERE cnt >= 5
        ORDER BY nation, segment, bal_bucket
    """,
    "q_source_entropy": _entropy_sql(),
    "q_pack_efficiency": """
        WITH t AS (
          SELECT CASE WHEN ntok <= 16 THEN 16 WHEN ntok <= 32 THEN 32
                      WHEN ntok <= 64 THEN 64 WHEN ntok <= 128 THEN 128
                      WHEN ntok <= 256 THEN 256 WHEN ntok <= 512 THEN 512
                      ELSE 1024 END AS bucket,
                 least(ntok, 1024) AS used
          FROM (SELECT length(text) - length(replace(text, ' ', '')) + 1
                         AS ntok
                FROM documents)
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(used) AS BIGINT) AS used_tokens,
               CAST(SUM(bucket - used) AS BIGINT) AS padded_tokens,
               round(CAST(SUM(bucket - used) AS DOUBLE) * 100.0
                       / CAST(SUM(bucket - used) + SUM(used) AS DOUBLE), 8)
                 AS waste_pct
        FROM t GROUP BY bucket ORDER BY bucket
    """,
    "q_dedup_source_matrix": f"""
        WITH {_GRAMS.format(km1=4).replace("gram", "shingle")},
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
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(n_inter AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
        )
        SELECT least(da.source, db.source) AS src_lo,
               greatest(da.source, db.source) AS src_hi,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs
        JOIN documents da ON da.doc_id = id_a
        JOIN documents db ON db.doc_id = id_b
        GROUP BY 1, 2 ORDER BY src_lo, src_hi
    """,
    "q_url_canonical": _URL_CANON_SQL,
    "q_vocab_coverage": """
        WITH tok AS (
          SELECT source, unnest(string_split(lower(text), ' ')) AS token
          FROM documents
        ),
        vocab AS (
          SELECT token FROM (
            SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
            ORDER BY freq DESC, token ASC LIMIT 100
          )
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM((token IN (SELECT token FROM vocab))::INT) AS BIGINT)
                 AS n_covered,
               round(CAST(SUM((token IN (SELECT token FROM vocab))::INT) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 8) AS coverage,
               round(CAST(COUNT(*) - SUM((token IN (SELECT token FROM vocab))::INT)
                          AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 8) AS oov_rate
        FROM tok GROUP BY source ORDER BY source
    """,
    "q_mix_weights": """
        WITH counts AS (
          SELECT source,
                 CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                      AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        )
        SELECT source, n_tokens,
               round(pow(CAST(n_tokens AS DOUBLE), 0.7)
                     / SUM(pow(CAST(n_tokens AS DOUBLE), 0.7)) OVER (), 8)
                 AS weight
        FROM counts ORDER BY source
    """,
    # weights exactly as q_mix_weights (8-dp round bounds the float-sum
    # order sensitivity), then budget/rate/per-doc coin re-derived; the
    # '0x'-hex uniform and the 2^32 scaling are exact on both engines
    "q_mix_apply": """
        WITH counts AS (
          SELECT source,
                 CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                      AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        ),
        w AS (
          SELECT source, n_tokens,
                 round(pow(CAST(n_tokens AS DOUBLE), 0.7)
                       / SUM(pow(CAST(n_tokens AS DOUBLE), 0.7)) OVER (), 8)
                   AS weight
          FROM counts
        ),
        t AS (SELECT MIN(CAST(n_tokens AS DOUBLE) / weight) AS _t FROM w),
        rates AS (
          SELECT source,
                 round(weight * (SELECT _t FROM t)
                       / CAST(n_tokens AS DOUBLE), 8) AS rate
          FROM w
        ),
        docs AS (
          SELECT d.source, d.doc_id, r.rate,
                 CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1
                      AS BIGINT) AS n_tok,
                 CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) AS u
          FROM documents d JOIN rates r ON d.source = r.source
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN CAST(u AS DOUBLE) < rate * 4294967296.0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN CAST(u AS DOUBLE) < rate * 4294967296.0
                             THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept,
               MIN(rate) AS rate
        FROM docs GROUP BY source ORDER BY source
    """,
    "q_embed_quantize": """
        WITH e AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        s AS (
          SELECT vec_id, label, v,
                 list_aggregate(v, 'min') AS mn,
                 CASE WHEN list_aggregate(v, 'max') > list_aggregate(v, 'min')
                      THEN (list_aggregate(v, 'max') - list_aggregate(v, 'min'))
                           / 255.0
                      ELSE 1.0 END AS sc
          FROM e
        ),
        c AS (
          SELECT vec_id, label,
                 list_transform(v, x -> CAST(round((x - mn) / sc) AS BIGINT))
                   AS codes,
                 list_transform(v, x -> abs(mn + round((x - mn) / sc) * sc - x))
                   AS errs
          FROM s
        )
        SELECT vec_id, label,
               CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
               CAST(len(list_filter(codes, c -> c <= 0 OR c >= 255)) AS BIGINT)
                 AS n_sat,
               round(list_aggregate(errs, 'max'), 6) AS max_abs_err
        FROM c ORDER BY vec_id
    """,
    "q_pii_redact": f"""
        WITH aug AS (SELECT doc_id, {_AUG} AS text FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_EMAIL}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text, '{_PHONE}')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(text, '{_IPV4}')) AS BIGINT) AS n_ipv4,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{_EMAIL}', '<EMAIL>', 'g'),
                   '{_PHONE}', '<PHONE>', 'g'),
                   '{_IPV4}', '<IP>', 'g') AS redacted
        FROM aug ORDER BY doc_id
    """,
    "q_contamination": f"""
        WITH {_GRAMS.format(km1=2)},
        bench AS (SELECT doc_id AS b_id, gram FROM sh0 WHERE doc_id % 97 = 0),
        train AS (SELECT doc_id AS t_id, gram FROM sh0 WHERE doc_id % 97 <> 0)
        SELECT t_id AS doc_id,
               COUNT(DISTINCT b_id) AS n_bench_docs,
               COUNT(DISTINCT gram) AS n_gram_hits
        FROM train JOIN bench USING (gram)
        GROUP BY 1 ORDER BY doc_id
    """,
    # decontamination manifest: the q_contamination_span chain at a
    # stricter 32-token threshold, unioned with the exact-copy case
    # (doc collapses to a benchmark-side rep) at doc grain
    "q_decontaminate": """
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
                 CAST(MAX(pos_b) - MIN(pos_b) + 8 AS BIGINT) AS span_tokens
          FROM isl GROUP BY bench_id, train_id, (pos_b - pos_t), grp
        ),
        spanagg AS (
          SELECT train_id AS rep_id,
                 CAST(COUNT(*) AS BIGINT) AS n_bench_spans,
                 MAX(span_tokens) AS max_span_tokens
          FROM sp WHERE span_tokens >= 32 GROUP BY train_id
        ),
        train AS (
          SELECT d.doc_id, r.rep_id
          FROM documents d JOIN reps r USING (text)
          WHERE d.doc_id % 5 <> 0
        )
        SELECT t.doc_id, t.rep_id,
               (t.rep_id % 5 = 0) AS exact_bench,
               COALESCE(s.n_bench_spans, 0) AS n_bench_spans,
               COALESCE(s.max_span_tokens, 0) AS max_span_tokens
        FROM train t LEFT JOIN spanagg s USING (rep_id)
        WHERE (t.rep_id % 5 = 0) OR s.rep_id IS NOT NULL
        ORDER BY doc_id
    """,
    # fixed-width lowercase hex compares lexicographically == numerically;
    # 0x4000/0x10000 = 0.25 and 0x8000/0x10000 = 0.5 exactly
    "q_sample_hash": """
        SELECT source, doc_id FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              < CASE WHEN length(source) = 4 THEN '4000' ELSE '8000' END
        ORDER BY doc_id
    """,
    # A-ES key in the log domain; the md5-derived uniform is integer-exact
    # and ln+round(8) has matched across engines throughout the suite
    "q_sample_weighted": """
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
               round(ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                                   1, 8)) AS BIGINT) AS DOUBLE)
                         + 1.0) / 4294967296.0)
                     / CAST(n_chars AS DOUBLE), 8) AS k
        FROM documents
        ORDER BY k DESC, doc_id ASC LIMIT 50
    """,
    # two lowercase hex chars compare lexicographically == numerically, so
    # the fold cuts 'cc' (204/256) and 'e6' (230/256) are integer-exact
    "q_split_train": """
        WITH s AS (
          SELECT source, doc_id,
                 CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                        THEN 'train'
                      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                        THEN 'val'
                      ELSE 'test' END AS split,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                      AS BIGINT) AS n_tok
          FROM documents
        )
        SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM s GROUP BY source, split ORDER BY source, split
    """,
    "q_sample_fixed": """
        SELECT source, doc_id, rk FROM (
          SELECT source, doc_id,
                 CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
          FROM documents)
        WHERE rk <= 5 ORDER BY source, rk
    """,
    "q_repetition": """
        WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                      FROM documents),
        bi AS (
          SELECT doc_id, array_to_string(t[gs : gs + 1], ' ') AS g
          FROM (SELECT *, unnest(generate_series(1, greatest(len(t) - 1, 1))) AS gs
                FROM toks) s
        ),
        bstats AS (SELECT doc_id, COUNT(*) AS nb, COUNT(DISTINCT g) AS nub
                   FROM bi GROUP BY doc_id),
        tstats AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS nt,
                          CAST(len(list_distinct(t)) AS BIGINT) AS nut
                   FROM toks)
        SELECT doc_id, nt AS n_tokens, nut AS n_uniq_tokens,
               CAST(nb AS BIGINT) AS n_bigrams,
               CAST(nub AS BIGINT) AS n_uniq_bigrams,
               round(1.0 - CAST(nut AS DOUBLE) / CAST(nt AS DOUBLE), 8)
                 AS dup_token_frac,
               round(1.0 - CAST(nub AS DOUBLE) / CAST(nb AS DOUBLE), 8)
                 AS dup_bigram_frac
        FROM tstats JOIN bstats USING (doc_id) ORDER BY doc_id
    """,
    "q_pack_chunks": """
        WITH toks AS (
          SELECT source, doc_id,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
                   AS n_tok
          FROM documents
        ),
        packed AS (
          SELECT source, n_tok,
                 CAST(floor(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / 512) AS BIGINT) AS chunk_id
          FROM toks
        )
        SELECT source, chunk_id, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM packed GROUP BY source, chunk_id ORDER BY source, chunk_id
    """,
    "q_pii_scan": f"""
        WITH aug AS (SELECT doc_id, {_AUG} AS text FROM documents)
        SELECT doc_id,
               array_to_string(list_sort(regexp_extract_all(text, '{_EMAIL}')),
                               '|') AS emails,
               array_to_string(list_sort(regexp_extract_all(text, '{_IPV4}')),
                               '|') AS ips,
               CAST(len(regexp_extract_all(text, '{_EMAIL}')) AS BIGINT)
                 AS n_spans
        FROM aug ORDER BY doc_id
    """,
    "q_chunk_overlap": """
        WITH t AS (
          SELECT doc_id, string_split(lower(text), ' ') AS toks,
                 len(string_split(lower(text), ' ')) AS n
          FROM documents
        ),
        s AS (
          SELECT doc_id, toks, n, gs AS start_tok,
                 CAST(gs // 48 AS BIGINT) AS chunk_idx
          FROM t JOIN generate_series(0, 100000, 48) AS g(gs)
            ON gs <= greatest(CAST(ceil((n - 64.0) / 48.0) AS BIGINT), 0) * 48
        )
        SELECT doc_id, chunk_idx, CAST(start_tok AS BIGINT) AS start_tok,
               array_to_string(list_slice(toks, start_tok + 1, start_tok + 64),
                               ' ') AS chunk_text,
               CAST(least(n - start_tok, 64) AS BIGINT) AS n_tok
        FROM s ORDER BY doc_id, chunk_idx
    """,
    "q_url_filter": """
        WITH aug AS (
          SELECT doc_id,
                 text || ' see https://' ||
                 (['spam.example','seo-farm.example','news.example',
                   'blog.example','docs.example'])[CAST(doc_id % 5 AS INTEGER) + 1]
                 || '/p' || CAST(doc_id AS VARCHAR) AS text
          FROM documents
        ),
        doms AS (
          SELECT doc_id,
                 lower(regexp_extract(text, 'https?://([A-Za-z0-9.-]+)', 1))
                   AS domain
          FROM aug
        )
        SELECT domain, COUNT(*) AS n_docs FROM doms
        WHERE domain NOT IN ('spam.example', 'seo-farm.example', 'adult.example')
        GROUP BY domain ORDER BY domain
    """,
    # transitive closure of the near-dup pair graph; component = min
    # reachable id — exactly connected_components' fixpoint
    "q_split_leakage_safe": f"""
        WITH RECURSIVE {_GRAMS.format(km1=4).replace("gram", "shingle")},
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
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(n_inter AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
        ),
        edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(id, r) AS (
          SELECT s, d FROM edges
          UNION
          SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d
        ),
        comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id),
        grouped AS (
          SELECT d.doc_id,
                 COALESCE(c.component, d.doc_id) AS group_key
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        ),
        s AS (
          SELECT doc_id, group_key,
                 CASE WHEN substr(md5(CAST(group_key AS VARCHAR)), 1, 2) < 'cc'
                        THEN 'train'
                      WHEN substr(md5(CAST(group_key AS VARCHAR)), 1, 2) < 'e6'
                        THEN 'val'
                      ELSE 'test' END AS split
          FROM grouped
        )
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT group_key) AS BIGINT) AS n_groups,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM s GROUP BY split ORDER BY split
    """,
    "q_cluster_keep": f"""
        WITH RECURSIVE {_GRAMS.format(km1=4).replace("gram", "shingle")},
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
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(n_inter AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
        ),
        edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(id, r) AS (
          SELECT s, d FROM edges
          UNION
          SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d
        ),
        comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id)
        SELECT component,
               first(doc_id ORDER BY n_chars DESC, doc_id ASC) AS kept_id,
               COUNT(*) AS cluster_size
        FROM comp JOIN documents ON comp.id = documents.doc_id
        GROUP BY component ORDER BY component
    """,
    # same transitive-closure prelude as q_cluster_keep, then the shard
    # writer's retention + placement + digest math re-derived in SQL:
    # '0x'-hex casts are the q_sample_weighted convention; shard sums of
    # 40-bit digests are integer-exact (no doubles anywhere)
    "q_shard_manifest": f"""
        WITH RECURSIVE {_GRAMS.format(km1=4).replace("gram", "shingle")},
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
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(n_inter AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
        ),
        edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(id, r) AS (
          SELECT s, d FROM edges
          UNION
          SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d
        ),
        comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id),
        best AS (
          SELECT component,
                 first(doc_id ORDER BY n_chars DESC, doc_id ASC) AS kept_id
          FROM comp JOIN documents ON comp.id = documents.doc_id
          GROUP BY component
        ),
        kept AS (
          SELECT d.doc_id, d.text
          FROM documents d
          LEFT JOIN comp c ON d.doc_id = c.id
          LEFT JOIN best b ON c.component = b.component
          WHERE c.id IS NULL OR d.doc_id = b.kept_id
        ),
        placed AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                                      1, 2)) AS BIGINT) % 16 AS shard,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
                                      1, 10)) AS BIGINT) AS row_hash,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                      AS BIGINT) AS n_tok,
                 md5('pos:' || CAST(doc_id AS VARCHAR)) AS pos_key
          FROM kept
        )
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(row_hash) AS BIGINT) AS content_sum,
               arg_min(doc_id, pos_key) AS first_doc,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM placed GROUP BY shard ORDER BY shard
    """,
    # the incremental append's delta: exact-digest novelty (the
    # q_dedup_incremental_exact convention) then the same placement +
    # digest math as q_shard_manifest, restricted to the appended rows
    "q_shard_delta": """
        WITH corpus AS (
          SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 4 <> 0
        ),
        batch AS (
          SELECT doc_id, text,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 4 = 0
          UNION ALL
          SELECT doc_id + 10000000, text,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
          FROM documents WHERE doc_id % 4 <> 0 AND doc_id % 16 = 1
        ),
        novel AS (
          SELECT b.doc_id, b.text FROM batch b
          LEFT JOIN (SELECT DISTINCT h FROM corpus) c ON b.h = c.h
          WHERE c.h IS NULL
        ),
        placed AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                                      1, 2)) AS BIGINT) % 16 AS shard,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
                                      1, 10)) AS BIGINT) AS row_hash,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                      AS BIGINT) AS n_tok
          FROM novel
        )
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(row_hash) AS BIGINT) AS content_sum,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM placed GROUP BY shard ORDER BY shard
    """,
    # the loader's epoch plan re-derived: same placement + pos_key math
    # as the shard writer, then the per-shard rank — no near-dup
    # retention (the base layout is built with empty components)
    "q_shard_epoch": """
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
        ),
        placed AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                                      1, 2)) AS BIGINT) % 16 AS shard,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                      AS BIGINT) AS n_tok,
                 md5('pos:' || CAST(doc_id AS VARCHAR)) AS pos_key
          FROM corpus
        ),
        r AS (
          SELECT shard,
                 CAST(row_number() OVER (PARTITION BY shard
                                         ORDER BY pos_key, doc_id)
                      AS BIGINT) AS pos,
                 doc_id, n_tok
          FROM placed
        )
        SELECT shard, pos, doc_id, n_tok FROM r
        WHERE pos <= 3 ORDER BY shard, pos
    """,
    # post-compaction FULL manifest: the base corpus plus the appended
    # novel rows, re-derived from documents directly — identical
    # placement/digest math as q_shard_manifest, with q_shard_delta's
    # exact-digest novelty for the appended half
    "q_shard_compact": """
        WITH corpus AS (
          SELECT doc_id, text,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 4 <> 0
        ),
        batch AS (
          SELECT doc_id, text,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 4 = 0
          UNION ALL
          SELECT doc_id + 10000000, text,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
          FROM documents WHERE doc_id % 4 <> 0 AND doc_id % 16 = 1
        ),
        novel AS (
          SELECT b.doc_id, b.text FROM batch b
          LEFT JOIN (SELECT DISTINCT h FROM corpus) c ON b.h = c.h
          WHERE c.h IS NULL
        ),
        all_rows AS (
          SELECT doc_id, text FROM corpus
          UNION ALL SELECT doc_id, text FROM novel
        ),
        placed AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                                      1, 2)) AS BIGINT) % 16 AS shard,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
                                      1, 10)) AS BIGINT) AS row_hash,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                      AS BIGINT) AS n_tok,
                 md5('pos:' || CAST(doc_id AS VARCHAR)) AS pos_key
          FROM all_rows
        )
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(row_hash) AS BIGINT) AS content_sum,
               arg_min(doc_id, pos_key) AS first_doc,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM placed GROUP BY shard ORDER BY shard
    """,
}
