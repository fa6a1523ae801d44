"""Scale evidence for the LSH dedup path: a skew-planted corpus must not
produce unbounded reducer fan-in.

At 100 TB the failure mode is a degenerate (band, bucket) — boilerplate
text puts 10⁶ documents in one bucket, whose self-join emits 10¹² pairs
into a single reducer. `lsh_candidates`' ``max_bucket`` cap is the defence;
these tests plant exactly that skew at test scale and assert (a) the cap
bounds candidate pair counts, (b) non-skewed near-dup pairs still come
through, and (c) the candidate join is a bucket equi-join, never a
cartesian/nested-loop plan (the "single reducer" shape).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fossa_spark.llm import dedup as D
from fossa_spark.plans import audit

HOT = 120          # docs sharing one boilerplate body — the planted skew
CAP = 20           # max_bucket for the test (HOT >> CAP)
BANDS = 8


@pytest.fixture(scope="module")
def skewed_docs(spark):
    """HOT near-identical boilerplate docs (one unique trailing word each)
    plus 3 disjoint-vocabulary near-dup pairs and some unrelated filler."""
    boiler = (
        "terms of service agreement please read carefully before using "
        "this website all rights reserved by the operator of the site"
    )
    rows = [(i, f"{boiler} unique{i}") for i in range(HOT)]
    pair_texts = [
        "quick brown fox jumps over the lazy dog near the quiet river bank today",
        "solar panels convert sunlight into electricity through photovoltaic cell arrays",
        "ancient mariners navigated oceans using stars currents and seasonal wind patterns",
    ]
    for j, t in enumerate(pair_texts):
        rows.append((1000 + 2 * j, t + " alpha"))
        rows.append((1000 + 2 * j + 1, t + " omega"))
    for j in range(20):
        rows.append((2000 + j, f"filler document number {j} with entirely distinct content word{j} token{j} item{j}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _candidates(df, max_bucket):
    sh = df.select("doc_id", D.word_shingles("text", 5).alias("shingles"))
    sigs = D.minhash_signatures(sh, num_hashes=16)
    return D.lsh_candidates(sigs, bands=BANDS, rows_per_band=2, max_bucket=max_bucket)


def test_skewed_corpus_blows_up_without_cap(skewed_docs):
    """Sanity: the planted skew is real — uncapped, the boilerplate group
    alone contributes ~HOT²/2 candidate pairs."""
    n = _candidates(skewed_docs, max_bucket=10**9).count()
    assert n >= HOT * (HOT - 1) // 2, n


def test_max_bucket_bounds_candidate_pairs(skewed_docs):
    """With the cap, every surviving bucket has ≤ CAP members, so the
    candidate set is bounded by bands × C(CAP, 2) — independent of HOT.
    This is the invariant that makes the join reducer-safe at corpus scale."""
    n = _candidates(skewed_docs, max_bucket=CAP).count()
    assert n <= BANDS * CAP * (CAP - 1) // 2, n
    # and it actually cut the blow-up (HOT²/2 ≈ 7140 pairs planted)
    assert n < HOT * (HOT - 1) // 4, n


def test_capped_run_still_finds_unskewed_pairs(skewed_docs):
    """The cap must only drop degenerate buckets: the 3 disjoint-vocab
    near-dup pairs (high Jaccard, tiny buckets) all survive end-to-end
    exact-Jaccard verification."""
    pairs = D.minhash_lsh_dedup(skewed_docs.filter(F.col("doc_id") >= 1000),
                                threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    for j in range(3):
        assert (1000 + 2 * j, 1000 + 2 * j + 1) in got, got


def test_bucket_sizes_bounded_after_cap(skewed_docs):
    """Direct check of the invariant the pair bound derives from: after the
    df-filter, no (band, bucket) group exceeds max_bucket."""
    sh = skewed_docs.select("doc_id", D.word_shingles("text", 5).alias("shingles"))
    sigs = D.minhash_signatures(sh, num_hashes=16).persist()
    try:
        # reconstruct band rows exactly as lsh_candidates does, via its own
        # code path: candidates with max_bucket=CAP must be consistent with
        # per-bucket membership ≤ CAP ⇒ per-pair bucket multiplicity ≤ BANDS
        cands = D.lsh_candidates(sigs, bands=BANDS, rows_per_band=2, max_bucket=CAP)
        # every id appears in ≤ BANDS buckets, each ≤ CAP ⇒ degree ≤ BANDS*(CAP-1)
        deg = (
            cands.select(F.col("id_a").alias("id"))
            .unionAll(cands.select(F.col("id_b").alias("id")))
            .groupBy("id").agg(F.count(F.lit(1)).alias("d"))
            .agg(F.max("d")).collect()[0][0]
        )
        assert deg is None or deg <= BANDS * (CAP - 1), deg
    finally:
        sigs.unpersist()


def test_lsh_50k_skewed_corpus_end_to_end(spark):
    """sf1-order evidence: a 50k-document corpus generated distributed
    (pure JVM expressions, no driver loop) with (a) a 2,000-doc boilerplate
    clique — the skew that would emit ~2M candidate pairs uncapped — and
    (b) 1,000 planted near-dup pairs (Jaccard ≈ 0.97). The full
    minhash → banded LSH → exact-Jaccard pipeline must recall essentially
    all planted pairs while the bucket cap keeps the candidate set orders
    of magnitude below the clique blow-up."""
    vocab = F.array(*[F.lit(f"w{i}") for i in range(50)])
    did = F.col("doc_id")
    # ids < 2000: identical 40-token boilerplate + unique tail
    # ids in [10000, 12000): pair (2k, 2k+1) shares a 60-token body, one
    #   differing tail token
    # rest: per-doc pseudo-random word soup
    body_seed = (
        F.when(did < 2000, F.lit(-1))
        .when((did >= 10000) & (did < 12000), F.floor(did / 2))
        .otherwise(did)
    )
    words = F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda i: F.element_at(
            vocab, (F.pmod(F.xxhash64(body_seed * 1000 + i), F.lit(50)) + 1).cast("int")
        ),
    )
    tail = (
        F.when(did < 2000, F.concat(F.lit("tail"), did.cast("string")))
        .when((did >= 10000) & (did < 12000) & (did % 2 == 0), F.lit("alpha"))
        .when((did >= 10000) & (did < 12000), F.lit("omega"))
        .otherwise(F.lit("end"))
    )
    docs = (
        spark.range(0, 50_000, 1, 16)
        .select(F.col("id").alias("doc_id"))
        .select("doc_id", F.concat_ws(" ", F.concat_ws(" ", words), tail).alias("text"))
    )
    pairs = D.minhash_lsh_dedup(docs, threshold=0.5)
    planted = pairs.filter(
        (F.col("id_a") >= 10000) & (F.col("id_a") < 12000)
        & (F.col("id_b") == F.col("id_a") + 1) & (F.col("id_a") % 2 == 0)
    ).count()
    assert planted >= 950, planted  # ≥95% recall on Jaccard≈0.97 pairs
    # the boilerplate clique alone would be ~2M candidate pairs; the cap
    # must keep the whole verified set far below that
    total = pairs.count()
    assert total < 200_000, total


def test_lsh_candidate_join_is_equi_join(skewed_docs):
    """Plan shape: candidate generation must never plan the
    single-reducer O(n²) shape (cartesian / broadcast-nested-loop).
    Round 15 replaced the (band, bucket) self-join with ONE
    groupBy(bucket) collect_list + in-group pair explode, so the plan
    now has NO join at all — assert that shape: join-free, and the
    bucket aggregate present (the cap filter runs on size(ids), so
    oversized buckets are dropped whole before the explode)."""
    cands = _candidates(skewed_docs, max_bucket=CAP)
    a = audit(cands)
    assert "CartesianProduct" not in a.formatted
    assert "BroadcastNestedLoopJoin" not in a.formatted
    assert not a.join_nodes, a.join_nodes
    assert "collect_list" in a.formatted, a.formatted[:2000]


def test_incremental_dedup_against_persisted_index(spark, skewed_docs, tmp_path):
    """Operational shape: corpus → bucketed index on disk; a NEW batch
    probes it. Correctness: a new doc near-identical to a corpus doc is
    dropped (dup_of set), a novel doc is kept; and the candidate probe
    joins the index WITHOUT shuffling the index side (bucketed scan)."""
    for t in ("bands", "shingles", "sizes"):
        spark.sql(f"DROP TABLE IF EXISTS t_idx_{t}")
    corpus = skewed_docs.filter(F.col("doc_id") < 2000)
    D.build_minhash_index(corpus, "t_idx", str(tmp_path / "idx"))

    batch = spark.createDataFrame(
        [
            # near-identical to corpus doc 1000 ("... alpha" vs "... beta")
            (9001, "quick brown fox jumps over the lazy dog near the quiet "
                   "river bank today beta"),
            # entirely novel vocabulary
            (9002, "completely novel content about quantum chromodynamics "
                   "lattice simulations and gluon field configurations"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           D.incremental_dedup(batch, spark, "t_idx", threshold=0.5).collect()}
    assert out[9001].keep is False and out[9001].dup_of in (1000, 1001)
    assert out[9001].jaccard >= 0.5
    assert out[9002].keep is True and out[9002].dup_of is None

    # plan evidence: with broadcast disabled, the bucket probe join must
    # shuffle ONLY the batch side — the index scan stays bucketed with no
    # Exchange above it (the pay-at-write-time co-location contract)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh = batch.select("doc_id", D.word_shingles("text", 5).alias("shingles"))
        sigs = D.minhash_signatures(sh, num_hashes=16)
        brows = D.band_rows(sigs, "doc_id", "minhash", 8, 2)
        probe = brows.join(spark.table("t_idx_bands"), "bucket")
        a = audit(probe)
        assert "Bucketed: true" in a.formatted, (
            f"index scan not bucketed:\n{a.formatted[:1500]}"
        )
        # the whole probe plan carries exactly the batch side's exchanges
        # (minhash agg + join repartition); the index side adds none
        import re

        n_exch = len(re.findall(r"\bExchange hashpartitioning", a.formatted))
        assert n_exch <= 4, f"unexpected exchanges ({n_exch}):\n{a.formatted[:1500]}"
        assert "CartesianProduct" not in a.formatted
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        for t in ("bands", "shingles", "sizes"):
            spark.sql(f"DROP TABLE IF EXISTS t_idx_{t}")


def test_incremental_index_append_roundtrip(spark, skewed_docs, tmp_path):
    """The daily loop closes: probe → keep novel docs → append them to the
    index → the NEXT batch sees them as duplicates. Appends must also keep
    the index scan bucketed (insertInto re-clusters into the bucket spec)."""
    for t in ("bands", "shingles", "sizes"):
        spark.sql(f"DROP TABLE IF EXISTS t_app_{t}")
    corpus = skewed_docs.filter(F.col("doc_id") < 2000)
    D.build_minhash_index(corpus, "t_app", str(tmp_path / "idx"))

    day1 = spark.createDataFrame(
        [(9100, "completely novel content about quantum chromodynamics "
                "lattice simulations and gluon field configurations")],
        "doc_id long, text string",
    )
    out1 = {r.doc_id: r for r in
            D.incremental_dedup(day1, spark, "t_app", threshold=0.5).collect()}
    assert out1[9100].keep is True
    D.append_to_minhash_index(day1.filter(F.col("doc_id") == 9100), spark, "t_app")

    # day 2: near-identical to the doc appended on day 1
    day2 = spark.createDataFrame(
        [(9200, "completely novel content about quantum chromodynamics "
                "lattice simulations and gluon field configuration")],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r for r in
            D.incremental_dedup(day2, spark, "t_app", threshold=0.5).collect()}
    assert out2[9200].keep is False and out2[9200].dup_of == 9100

    # bucketed-scan property survives the append
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh = day2.select("doc_id", D.word_shingles("text", 5).alias("shingles"))
        sigs = D.minhash_signatures(sh, num_hashes=16)
        brows = D.band_rows(sigs, "doc_id", "minhash", 8, 2)
        a = audit(brows.join(spark.table("t_app_bands"), "bucket"))
        assert "Bucketed: true" in a.formatted
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        for t in ("bands", "shingles", "sizes"):
            spark.sql(f"DROP TABLE IF EXISTS t_app_{t}")


def test_exact_index_probe_shape_and_roundtrip(spark, skewed_docs, tmp_path):
    """build_exact_index / incremental_exact_dedup (round 7): the digest
    probe must read the index bucketed with no index-side Exchange, an
    exact copy must attribute to its corpus source, a novel doc must
    keep, and appending (plain insertInto of (hash, id) rows) makes the
    appended doc findable by the next batch."""
    from pyspark.sql import functions as FF

    spark.sql("DROP TABLE IF EXISTS t_exact_idx")
    corpus = skewed_docs.filter(F.col("doc_id") < 2000)
    D.build_exact_index(corpus, spark, "t_exact_idx", str(tmp_path / "eidx"))

    copy_text = corpus.filter(F.col("doc_id") == 1000).first().text
    batch = spark.createDataFrame(
        [(9001, copy_text), (9002, "entirely novel sentence nothing shares")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           D.incremental_exact_dedup(batch, spark, "t_exact_idx").collect()}
    assert out[9001].keep is False and out[9001].dup_of == 1000
    assert out[9002].keep is True and out[9002].dup_of is None

    # plan: bucketed index scan, no Exchange above it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b = batch.select("doc_id", FF.md5(D.normalize("text")).alias("text_hash"))
        a = audit(b.join(spark.table("t_exact_idx"), "text_hash"))
        assert "Bucketed: true" in a.formatted, a.formatted[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))

    # append the kept novel doc; the next batch sees it as a duplicate
    novel = batch.filter(F.col("doc_id") == 9002)
    novel.select(
        FF.md5(D.normalize("text")).alias("text_hash"), "doc_id"
    ).write.insertInto("t_exact_idx")
    day2 = spark.createDataFrame(
        [(9100, "entirely novel sentence nothing shares")],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r for r in
            D.incremental_exact_dedup(day2, spark, "t_exact_idx").collect()}
    assert out2[9100].keep is False and out2[9100].dup_of == 9002
    spark.sql("DROP TABLE IF EXISTS t_exact_idx")


def test_ivf_index_lifecycle(spark, tmp_path):
    """build_ivf_index / ivf_index_topk / append_to_ivf_index (round 7):
    (a) a probe against the persisted index returns EXACTLY what the
    in-memory ivf_topk returns for the same seed/params/corpus (same
    capped-sample fit → same centroids → same cells), (b) the probe
    join reads the inverted lists bucketed with no index-side Exchange,
    (c) append assigns with the STORED quantizer and the appended vector
    is immediately findable at cosine 1.0."""
    from fossa_spark.llm import similarity as S
    from fossa_spark.queries._util import load
    from tests.conftest import SF_DIR

    for t in ("cells", "centroids", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS t_ivf_{t}")
    e = load(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    S.build_ivf_index(c, spark, "t_ivf", str(tmp_path / "ivf"), n_centroids=16)

    memory = sorted(
        map(tuple, S.ivf_topk(q, c, k=5, n_centroids=16, nprobe=4).collect())
    )
    persisted = sorted(
        map(tuple, S.ivf_index_topk(q, spark, "t_ivf", k=5, nprobe=4).collect())
    )
    assert memory == persisted, f"persisted probe diverged\n{memory}\n{persisted}"

    # plan property: inverted lists scan bucketed, no Exchange above it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        centroids = S._load_ivf_centroids(spark, "t_ivf")
        q_b = q.withColumn(
            "_p", S._nearest_centroids_udf(centroids, 4)(F.col("q_vec"))
        ).select("q_id", F.explode("_p").alias("cell"))
        a = audit(q_b.join(spark.table("t_ivf_cells"), "cell"))
        assert "Bucketed: true" in a.formatted, a.formatted[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))

    # append-after-train: planted copy of q_id=3's vector surfaces at 1.0
    planted = q.filter(F.col("q_id") == 3).select(
        F.lit(99_003).cast("long").alias("c_id"), F.col("q_vec").alias("c_vec")
    )
    S.append_to_ivf_index(planted, spark, "t_ivf")
    spark.catalog.refreshTable("t_ivf_cells")
    res = {
        r.rk: r
        for r in S.ivf_index_topk(
            q.filter(F.col("q_id") == 3), spark, "t_ivf", k=3
        ).collect()
    }
    assert res[1].c_id == 99_003 and res[1].score == 1.0, res
    for t in ("cells", "centroids", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS t_ivf_{t}")


def test_ivf_index_exhaustive_probe_is_exact(spark, tmp_path):
    """nprobe = n_centroids probes EVERY inverted list, so the persisted
    index search must equal brute-force cosine top-k row for row — the
    FAISS nprobe=nlist exactness idiom and the premise of the
    oracle-backed q_sim_index_exact (round 8, VERDICT r7 item 2)."""
    from fossa_spark.llm import similarity as S
    from fossa_spark.queries._util import load
    from tests.conftest import SF_DIR

    for t in ("cells", "centroids", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS t_ivfe_{t}")
    e = load(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    S.build_ivf_index(c, spark, "t_ivfe", str(tmp_path / "ivfe"), n_centroids=16)
    exact = sorted(map(tuple, S.brute_force_topk(q, c, k=5).collect()))
    probed = sorted(
        map(tuple, S.ivf_index_topk(q, spark, "t_ivfe", k=5, nprobe=16).collect())
    )
    assert probed == exact, f"exhaustive probe diverged\n{probed}\n{exact}"
    for t in ("cells", "centroids", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS t_ivfe_{t}")


def test_bloom_join_prunes_fact_before_shuffle(spark):
    """q_join_bloom's pre-filter must (a) keep EVERY true-match fact row
    (no false negatives — correctness), (b) prune a large share of
    non-matching rows before the join (the 100 TB point: pruned rows never
    reach the exchange), and (c) stay codegen'd — the membership test is
    bitwise ops over a single ArrayType literal, no Python UDF in the
    plan."""
    import os

    from fossa_spark.queries.joins import q_join_bloom
    from fossa_spark.queries._util import load

    sf = os.environ.get("FOSSA_TEST_SF_DIR", "/root/testdata/sf0.001")
    out = {r["o_orderpriority"]: r["n_orders"]
           for r in q_join_bloom(spark, sf).collect()}
    c = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    plain = (
        load(spark, sf, "orders")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderpriority").count().collect()
    )
    assert out == {r["o_orderpriority"]: r["count"] for r in plain}
    plan = q_join_bloom(spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join evidence: a join where one key carries ~100x the rows
    of any other must get its reducer split by AQE (skew=true in the final
    adaptive plan) once the skew thresholds are crossed — the runtime
    defence salted_join complements for the extreme cases."""
    import contextlib
    import io

    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 300_000, 1, 8).select(
            F.when(F.col("id") % 3 != 0, F.lit(7)).otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        dim = spark.range(0, 300_000, 1, 4).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        # the plan must be JOIN-TERMINAL: a downstream aggregation adds a
        # re-shuffle requirement and AQE then vetoes the skew split (unless
        # forceOptimizeSkewedJoin). The action must run j's OWN
        # QueryExecution (a .write wraps it in a new one), so drain a local
        # iterator instead of collecting 300k rows at once.
        j = big.join(dim, "k")
        n = sum(1 for _ in j.toLocalIterator())
        assert n == 300_000  # finalize AQE plan
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "Final Plan" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


SF1_EMB = "/root/repo/testdata_sf1/embeddings.parquet"


@pytest.mark.skipif(
    not __import__("os").path.exists(SF1_EMB), reason="sf1 fixture absent"
)
def test_locality_subblock_recall_vs_random_split_sf1(spark):
    """r04 verdict item 2: at sf1 (the first scale where labels overflow
    the 256 cap and sub-blocking actually engages), the KMeans locality
    split must recover AT LEAST the near-dup pairs the r04 md5 random
    split found on the same fixture — recall by construction, not luck.
    (At verify scales both reduce to plain label blocking.)"""
    from fossa_spark.llm import similarity as S

    e = spark.read.parquet(SF1_EMB)
    max_label = (
        e.groupBy("label").count().agg(F.max("count")).first()[0]
    )
    assert max_label > 256, "fixture too small for the sub-block branch"

    loc = S.locality_subblocked(e, "label", "vec_id", "embedding", cap=256)
    n_loc = S.blocked_cosine_pairs(
        loc, "blk", "vec_id", "embedding", threshold=0.35
    ).count()

    # the r04 baseline: md5(vec_id) % ceil(n_label/256) random sub-split
    h16 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    counts = e.groupBy("label").agg(
        F.ceil(F.count(F.lit(1)) / 256.0).cast("long").alias("_subs")
    )
    rnd = e.join(F.broadcast(counts), "label").withColumn(
        "blk", F.col("label").cast("long") * 65536 + (h16 % F.col("_subs"))
    )
    n_rnd = S.blocked_cosine_pairs(
        rnd, "blk", "vec_id", "embedding", threshold=0.35
    ).count()
    assert n_loc >= n_rnd, (n_loc, n_rnd)


def test_compact_exact_index_invariance(spark, skewed_docs, tmp_path):
    """compact_exact_index (round 9, VERDICT r8 item 2): after two daily
    appends the digest index carries extra files per bucket; compaction
    must strictly reduce the file count to one per non-empty bucket while
    leaving (a) probe RESULTS and (b) the bucketed zero-shuffle probe
    plan bit-identical — the manifest-parity contract for index
    maintenance."""
    import os

    from pyspark.sql import functions as FF

    spark.sql("DROP TABLE IF EXISTS t_cpt_idx")
    corpus = skewed_docs.filter(F.col("doc_id") < 2000)
    path = str(tmp_path / "cidx")
    D.build_exact_index(corpus, spark, "t_cpt_idx", path)
    for day, text in enumerate(
        ["first appended daily document body", "second appended daily body"]
    ):
        D.append_to_exact_index(
            spark.createDataFrame([(9000 + day, text)], "doc_id long, text string"),
            spark, "t_cpt_idx",
        )

    copy_text = corpus.filter(F.col("doc_id") == 1000).first().text
    batch = spark.createDataFrame(
        [(9901, copy_text),
         (9902, "first appended daily document body"),
         (9903, "utterly novel probe sentence")],
        "doc_id long, text string",
    )
    before = sorted(
        map(tuple, D.incremental_exact_dedup(batch, spark, "t_cpt_idx").collect())
    )

    def n_files() -> int:
        return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))

    files_pre = n_files()
    ret = D.compact_exact_index(spark, "t_cpt_idx")
    assert ret[0] == files_pre and ret[1] < ret[0], ret
    assert n_files() == ret[1]

    after = sorted(
        map(tuple, D.incremental_exact_dedup(batch, spark, "t_cpt_idx").collect())
    )
    assert after == before
    # the appended docs and the base corpus both survived the rewrite
    got = {r[0]: r for r in after}
    assert got[9901][1] == 1000 and got[9902][1] == 9000
    assert got[9903][2] is True

    # bucketed zero-shuffle probe plan survives the re-register
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b = batch.select("doc_id", FF.md5(D.normalize("text")).alias("text_hash"))
        a = audit(b.join(spark.table("t_cpt_idx"), "text_hash"))
        assert "Bucketed: true" in a.formatted, a.formatted[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_cpt_idx")


def test_compact_minhash_index_invariance(spark, skewed_docs, tmp_path):
    """compact_minhash_index: all three bucketed tables are rewritten to
    one file per bucket, the format marker survives, and a near-dup probe
    answers identically before/after — including attribution to a doc
    APPENDED (not built) into the index."""
    import os

    for t in ("bands", "shingles", "sizes", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS t_cptmh_{t}")
    corpus = skewed_docs.filter(F.col("doc_id") < 2000)
    path = str(tmp_path / "mhidx")
    D.build_minhash_index(corpus, "t_cptmh", path)
    appended = spark.createDataFrame(
        [(9100, "completely novel content about quantum chromodynamics "
                "lattice simulations and gluon field configurations")],
        "doc_id long, text string",
    )
    D.append_to_minhash_index(appended, spark, "t_cptmh")

    batch = spark.createDataFrame(
        [(9200, "completely novel content about quantum chromodynamics "
                "lattice simulations and gluon field configuration"),
         (9201, "orthogonal vocabulary untouched by anything in the corpus")],
        "doc_id long, text string",
    )
    before = sorted(map(
        tuple, D.incremental_dedup(batch, spark, "t_cptmh", threshold=0.5).collect()
    ))

    counts = D.compact_minhash_index(spark, "t_cptmh")
    assert set(counts) == {"bands", "shingles", "sizes"}
    for sub, (pre, post) in counts.items():
        assert post < pre, (sub, pre, post)
        on_disk = sum(
            1 for f in os.listdir(os.path.join(path, sub))
            if f.endswith(".parquet")
        )
        assert on_disk == post, (sub, on_disk, post)

    # format marker untouched → the post-compaction format check passes
    # (memo cleared to force a real re-check)
    D._FORMAT_OK.discard((spark.sparkContext.applicationId, "t_cptmh"))
    after = sorted(map(
        tuple, D.incremental_dedup(batch, spark, "t_cptmh", threshold=0.5).collect()
    ))
    assert after == before
    got = {r[0]: r for r in after}
    assert got[9200][1] == 9100  # appended doc still attributable
    for t in ("bands", "shingles", "sizes", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS t_cptmh_{t}")


def test_compact_ivf_index_invariance(spark, tmp_path):
    """compact_ivf_index (round 9): after an append the cells table
    carries extra files; compaction must reduce the file count, keep the
    bucketed probe plan, and leave probe results — including the
    APPENDED vector's rank-1 hit — bit-identical."""
    import os

    from fossa_spark.llm import similarity as S
    from fossa_spark.queries._util import load
    from tests.conftest import SF_DIR

    for t in ("cells", "centroids", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS t_civf_{t}")
    e = load(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    path = str(tmp_path / "civf")
    S.build_ivf_index(c, spark, "t_civf", path, n_centroids=16)
    planted = q.filter(F.col("q_id") == 3).select(
        F.lit(99_003).cast("long").alias("c_id"), F.col("q_vec").alias("c_vec")
    )
    S.append_to_ivf_index(planted, spark, "t_civf")
    spark.catalog.refreshTable("t_civf_cells")
    before = sorted(
        map(tuple, S.ivf_index_topk(q, spark, "t_civf", k=5, nprobe=4).collect())
    )

    cells_dir = os.path.join(path, "cells")
    files_pre = sum(1 for f in os.listdir(cells_dir) if f.endswith(".parquet"))
    pre, post = S.compact_ivf_index(spark, "t_civf")
    assert pre == files_pre and post < pre, (pre, post, files_pre)

    after = sorted(
        map(tuple, S.ivf_index_topk(q, spark, "t_civf", k=5, nprobe=4).collect())
    )
    assert after == before
    got = {(r[0], r[3]): r[1] for r in after}  # (q_id, rk) -> c_id
    assert got.get((3, 1)) == 99_003  # appended vector survived the rewrite

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        centroids = S._load_ivf_centroids(spark, "t_civf")
        q_b = q.withColumn(
            "_p", S._nearest_centroids_udf(centroids, 4)(F.col("q_vec"))
        ).select("q_id", F.explode("_p").alias("cell"))
        a = audit(q_b.join(spark.table("t_civf_cells"), "cell"))
        assert "Bucketed: true" in a.formatted, a.formatted[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        for t in ("cells", "centroids", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS t_civf_{t}")


def test_round_half_up_matches_spark_round(spark):
    """ml._round_half_up (the driver-side replication of Spark's
    HALF_UP double rounding, round 14) must agree with F.round(·, 8)
    bit-for-bit — including x.xxxxxxx5 half-boundary patterns, where
    banker's rounding (Python's round()) would diverge."""
    import random

    from pyspark.sql import functions as F

    from fossa_spark.ml import _round_half_up

    rng = random.Random(7)
    vals = [(i * 2 + 1) / 2e8 + i for i in range(500)]  # half boundaries
    vals += [rng.randrange(1, 10**12) / rng.randrange(1, 10**6)
             for _ in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r["r"] for r in df.select(F.round("v", 8).alias("r")).collect()]
    assert [_round_half_up(v, 8) for v in vals] == got
