"""Direct tests of the LLM-pipeline library operators (beyond the
query-inventory parity): recall of the approximate paths against exact
ground truth, determinism across runs, and the multimodal plumbing contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fossa_spark.llm import dedup as D
from fossa_spark.llm import multimodal as M
from fossa_spark.llm import similarity as S
from fossa_spark.llm import text as X
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_dedup_counts(docs):
    out = D.exact_dedup(docs).collect()
    assert sum(r.n_copies for r in out) == docs.count()
    assert all(r.n_copies >= 1 for r in out)


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH (8 bands × 2 rows ⇒ knee ≈ 0.35) must recover every pair whose
    true 5-shingle Jaccard is ≥ 0.7 — far above the S-curve knee."""
    sh = docs.select("doc_id", D.word_shingles("text", 5).alias("shingles"))
    rows = sh.select("doc_id", F.explode("shingles").alias("_sh"))
    sizes = rows.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = rows.select(F.col("doc_id").alias("id_a"), "_sh")
    b = rows.select(F.col("doc_id").alias("id_b"), "_sh")
    inter = (
        a.join(b, "_sh").filter("id_a < id_b").groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.join(sizes.selectExpr("doc_id id_a", "n na"), "id_a")
        .join(sizes.selectExpr("doc_id id_b", "n nb"), "id_b")
        .withColumn("j", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
        .filter("j >= 0.7")
    )
    truth_pairs = {(r.id_a, r.id_b) for r in truth.collect()}
    found = {(r.id_a, r.id_b)
             for r in D.minhash_lsh_dedup(docs, threshold=0.5).collect()}
    assert truth_pairs, "fixture should contain planted near-duplicates"
    missed = truth_pairs - found
    assert not missed, f"LSH missed high-similarity pairs: {sorted(missed)[:5]}"


def test_shingle_hash_rows_matches_hof_path(spark, docs):
    """The Arrow shingle fast path (shingle_hash_rows) must be
    set-isomorphic to explode(word_shingles)+xxhash64: same per-doc
    distinct-shingle counts AND same pairwise intersection counts (the
    two quantities every count-based consumer derives), on the fixture
    corpus plus edge cases (short doc, empty text, null text,
    repeated-spaces tokenization)."""
    edge = spark.createDataFrame(
        [
            (9001, "one two"),              # shorter than k → 1 shingle
            (9002, ""),                     # empty → 1 shingle ("")
            (9003, None),                   # null → no rows
            (9004, "a  b   a  b a"),        # empty tokens kept by split(' ')
            (9005, "a a a a a a a a"),      # one distinct shingle, n > k
            # ADVICE r5: pin the Python str.lower() ↔ JVM lower() parity
            # boundary on Unicode special-casing hard cases — İ (i +
            # combining dot), Greek FINAL SIGMA (context-dependent),
            # titlecase ǅ, ligatures, Cyrillic.  Probed equal on this
            # JVM/Python pair; this test keeps that from rotting.
            (9006, "İstanbul ΒΑΣΙΛΕΙΑΣ ΤΕΛΟΣ ΣΊΣΥΦΟΣ words pad pad"),
            (9007, "ǅungla ﬀ ĲSBERG МОСКВА ПРИВЕТ ÅÄÖ éèç pad"),
        ],
        "doc_id long, text string",
    )
    corpus = docs.select("doc_id", "text").unionByName(edge)
    old = corpus.select(
        "doc_id", F.explode(D.word_shingles("text", 5)).alias("s")
    ).select("doc_id", F.xxhash64("s").alias("_sh"))
    new = D.shingle_hash_rows(corpus, "text", "doc_id", 5)
    oc = {r.doc_id: r.n for r in old.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    nc = {r.doc_id: r.n for r in new.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert oc == nc
    assert 9003 not in nc and nc[9001] == 1 and nc[9002] == 1 and nc[9005] == 1

    def inter_counts(rows):
        a = rows.select(F.col("doc_id").alias("id_a"), "_sh")
        b = rows.select(F.col("doc_id").alias("id_b"), "_sh")
        got = (
            a.join(b, "_sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n"))
        )
        return {(r.id_a, r.id_b): r.n for r in got.collect()}

    assert inter_counts(old) == inter_counts(new)


def test_index_format_guard_rejects_stale_index(spark, docs, tmp_path):
    """A persisted index whose meta version (or _sh dtype) doesn't match
    the current format must fail loudly on probe/append — never return
    silently-empty matches (advisor r04, medium)."""
    D.build_minhash_index(docs.limit(50), "t_fmt", str(tmp_path / "idx"))
    # sanity: a fresh index passes
    D._check_index_format(spark, "t_fmt")
    # simulate an older-format index: wrong meta version.  The passing
    # check above memoized (session, prefix) — discard it, as this
    # simulates a DIFFERENT session probing an index left by old code
    # (within one session the module's own writers can't regress the
    # format; see _check_index_format).
    spark.createDataFrame([(2,)], "format_version int").write.mode(
        "overwrite"
    ).option("path", str(tmp_path / "meta2")).saveAsTable("t_fmt_meta")
    D._FORMAT_OK.clear()
    with pytest.raises(ValueError, match="Rebuild"):
        D.incremental_dedup(docs.limit(5), spark, "t_fmt")
    # and a missing meta table entirely (pre-r05 index)
    spark.sql("DROP TABLE t_fmt_meta")
    D._FORMAT_OK.clear()
    with pytest.raises(ValueError, match="Rebuild"):
        D.append_to_minhash_index(docs.limit(5), spark, "t_fmt")
    for t in ("t_fmt_bands", "t_fmt_shingles", "t_fmt_sizes"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_minhash_deterministic(docs):
    one = {(r.id_a, r.id_b, r.jaccard) for r in D.minhash_lsh_dedup(docs).collect()}
    two = {(r.id_a, r.id_b, r.jaccard) for r in D.minhash_lsh_dedup(docs).collect()}
    assert one == two


def test_simhash_matches_unbanded(docs):
    """The banded chunk-join must produce exactly the cross-join result
    (pigeonhole guarantees no recall loss for hamming <= chunks-1)."""
    sample = docs.filter("doc_id < 100")
    banded = {(r.id_a, r.id_b, r.hamming)
              for r in D.simhash_pairs(sample, max_hamming=3).collect()}
    sigs = D.simhash_table(sample).selectExpr("doc_id as _id", "sig")
    a = sigs.selectExpr("_id id_a", "sig sig_a")
    b = sigs.selectExpr("_id id_b", "sig sig_b")
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.crossJoin(b)
        .filter("id_a < id_b")
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter("hamming <= 3")
        .collect()
    }
    assert banded == brute


def test_simhash_md5_source_matches_unbanded(docs):
    """The md5 bit source (round 12, the oracle-backed q_dedup_simhash
    configuration: 60 bits, radius 3 → 4 chunks × 15 bits) must keep the
    pigeonhole exactness of the banded join, and must refuse widths the
    15-hex-char hash can't fill."""
    import pytest as _pytest

    sample = docs.filter("doc_id < 100")
    sigs = D.simhash_table(sample, bits=60, bit_source="md5")
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_pairs(
            sample, max_hamming=3,
            sigs=sigs.selectExpr("doc_id", "sig"), bits=60,
        ).collect()
    }
    s = sigs.selectExpr("doc_id as _id", "sig")
    a = s.selectExpr("_id id_a", "sig sig_a")
    b = s.selectExpr("_id id_b", "sig sig_b")
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.crossJoin(b)
        .filter("id_a < id_b")
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter("hamming <= 3")
        .collect()
    }
    assert banded == brute
    # every md5 signature fits in 60 bits (no sign-bit surprises)
    assert sigs.filter("sig < 0 or sig >= 1152921504606846976").count() == 0
    with _pytest.raises(ValueError):
        D.simhash_table(sample, bits=64, bit_source="md5")
    with _pytest.raises(ValueError):
        D.simhash_table(sample, bit_source="sha1")


def test_simhash_dedup_attribution_matches_brute_force(docs):
    """simhash_dedup (round 12, 120-bit wide sigs) must emit exactly:
    for every doc with a smaller-id doc within the radius, the
    smallest such id reachable in one signature hop via group minima,
    with the hamming to that group's signature — brute-forced from the
    signature table."""
    import pytest as _pytest

    sample = docs.filter("doc_id < 200")
    wide = D.simhash_table_wide(sample)
    sigs = {r.doc_id: (r.sig1, r.sig2) for r in wide.collect()}
    assert all(
        0 <= s1 < 2**60 and 0 <= s2 < 2**60 for s1, s2 in sigs.values()
    )
    gmin: dict = {}
    for d, s in sigs.items():
        gmin[s] = min(gmin.get(s, d), d)
    expect = {}
    for d, s in sigs.items():
        best = None
        for t, g in gmin.items():
            h = bin(s[0] ^ t[0]).count("1") + bin(s[1] ^ t[1]).count("1")
            if h <= 3 and (best is None or g < best[0]):
                best = (g, h)
        if best and best[0] < d:
            expect[d] = best
    got = {
        r.doc_id: (r.dup_of, r.hamming)
        for r in D.simhash_dedup(sample, max_hamming=3, sigs=wide).collect()
    }
    assert got == expect
    assert len(got) > 0, "fixture premise: sample must contain near-dups"
    with _pytest.raises(ValueError):
        D.simhash_dedup(sample, max_hamming=4, sigs=wide)  # width 24 ∤ 60


def test_brute_force_topk_contract(vecs):
    q = vecs.filter("vec_id < 3").selectExpr("vec_id q_id", "embedding q_vec")
    c = vecs.selectExpr("vec_id c_id", "embedding c_vec")
    out = S.brute_force_topk(q, c, k=4).collect()
    assert len(out) == 3 * 4
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append((r.rk, r.score, r.c_id))
    for rows in by_q.values():
        rows.sort()
        scores = [s for _, s, _ in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(abs(s) <= 1.0 + 1e-9 for s in scores)
        assert not any(cid == rid for rid, row in by_q.items()
                       for _, _, cid in row if rid != rid)  # self excluded


def test_brute_force_scores_equal_cosine(vecs):
    """Each side's norm is computed once, before the cross join; every
    unrounded pair score is the same double cosine() computes per pair."""
    q = vecs.filter("vec_id < 8").selectExpr("vec_id q_id", "embedding q_vec")
    c = vecs.selectExpr("vec_id c_id", "embedding c_vec")
    pairs = S._cosine_pairs(q, c, "q_id", "c_id", "q_vec", "c_vec").select(
        "score", S.cosine(F.col("q_vec"), F.col("c_vec")).alias("ref"))
    rows = pairs.collect()
    assert len(rows) == 8 * (c.count() - 1)
    assert all(r.score == r.ref for r in rows)


def test_srp_lsh_recall(vecs):
    q = vecs.filter("vec_id < 10").selectExpr("vec_id q_id", "embedding q_vec")
    c = vecs.selectExpr("vec_id c_id", "embedding c_vec")
    exact = {(r.q_id, r.c_id) for r in S.brute_force_topk(q, c, k=5).collect()}
    approx = {(r.q_id, r.c_id)
              for r in S.lsh_topk(q, c, k=5, bits=4, tables=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"SRP-LSH recall collapsed: {recall:.2f}"


def test_quality_features_ranges(docs):
    out = X.quality_features(docs).select(
        "doc_id", "punct_ratio", "stop_ratio", "avg_token_len"
    ).collect()
    for r in out:
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.stop_ratio <= 1.0
        assert r.avg_token_len > 0


def test_fingerprint_invariance(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "fox brown the quick"),
         (3, "THE QUICK brown fox"), (4, "a different doc")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fp for r in df.select("doc_id", X.fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3]  # order/case insensitive
    assert fps[1] != fps[4]


def test_langid_scores_english(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog sat in a house that is for everyone with love"),
         (2, "der hund und die katze ist nicht mit ein haus zu gross auf immer")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in X.language_scores(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"


def test_multimodal_pipeline(spark):
    media = M.synthetic_media(spark, n=30)
    feats = M.extract_features(media, decode_stub=True)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == 8 for r in rows)
    assert all(r.n_bytes > 0 for r in rows)
    frames = M.frame_sample(media, every_nth=10).collect()
    assert frames and all(r.frame_idx % 10 == 0 for r in frames)


def test_multimodal_resize(spark):
    """resize_images decodes, nearest-neighbor downsamples with integer
    index mapping, and re-encodes a valid PNG whose pixels equal the
    numpy-side reference sampling of the original."""
    import numpy as np

    media = M.synthetic_media(spark, n=9)
    out = {r.media_id: r for r in M.resize_images(media, 16, 12).collect()}
    assert len(out) == 3  # ids 0,3,6 are images
    for mid, r in out.items():
        assert (r.width, r.height) == (16, 12)
        small = M._decode_png(r.payload)
        assert small.shape == (12, 16)
        w, h = 64 + mid % 8, 64 + mid % 4
        src = M._image_pixels(mid, w, h).astype(np.uint8)
        ys = (np.arange(12) * h) // 12
        xs = (np.arange(16) * w) // 16
        assert (small == src[np.ix_(ys, xs)]).all()


def test_png_codec_roundtrip():
    """Pure-stdlib PNG encode → decode is pixel-exact; the decoder also
    handles filtered scanlines (types 1-4) per the spec."""
    import struct
    import zlib

    import numpy as np

    px = M._image_pixels(7, 65, 33).astype(np.uint8)
    assert (M._decode_png(M._encode_png(px)) == px).all()

    # hand-build a PNG whose rows use Sub/Up/Average/Paeth filters
    h, w = 4, 6
    img = np.arange(h * w, dtype=np.uint8).reshape(h, w) * 9 % 256

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    lines = []
    for y, ftype in enumerate([1, 2, 3, 4]):
        row = img[y].astype(np.int32)
        prev = img[y - 1].astype(np.int32) if y > 0 else np.zeros(w, dtype=np.int32)
        enc = np.zeros(w, dtype=np.int32)
        for x in range(w):
            a = int(img[y][x - 1]) if x > 0 else 0
            b = int(prev[x])
            c = int(prev[x - 1]) if x > 0 else 0
            if ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[x] = (int(row[x]) - pred) & 0xFF
        lines.append(bytes([ftype]) + enc.astype(np.uint8).tobytes())
    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(b"".join(lines)))
               + chunk(b"IEND", b""))
    assert (M._decode_png(payload) == img).all()


def test_multimodal_real_decode(spark):
    """decode_stub=False runs the real PNG decode for images end-to-end;
    features come from decoded pixels (bounded in [0,1], min<=mean<=max)
    and differ from the stub's byte-histogram features."""
    media = M.synthetic_media(spark, n=12)
    real = {r.media_id: r for r in
            M.extract_features(media, decode_stub=False).collect()}
    stub = {r.media_id: r for r in
            M.extract_features(media, decode_stub=True).collect()}
    imgs = [m for m in real if m % 3 == 0]
    assert imgs
    for m in imgs:
        f = real[m].feature
        mean, std, mn, mx = f[0], f[1], f[2], f[3]
        assert 0.0 <= mn <= mean <= mx <= 1.0
        assert f != stub[m].feature
        # direct check against the generator's pixel pattern
        import numpy as np

        w, h = 64 + m % 8, 64 + m % 4
        px = M._image_pixels(m, w, h).astype(np.float64)
        assert abs(mean - px.mean() / 255.0) < 1e-6
    # audio rows decode through the real WAV path: duration matches the
    # generator's sample count, amplitude features bounded, quarter-RMS ≤ peak
    auds = [m for m in real if m % 3 == 1]
    assert auds
    for m in auds:
        f = real[m].feature
        dur, rms, peak, zcr = f[0], f[1], f[2], f[3]
        assert abs(dur - (256 + (m % 5) * 64) / 16000.0) < 1e-6
        assert 0.0 < rms <= peak <= 1.0 and 0.0 <= zcr <= 1.0
        assert all(q <= peak + 1e-9 for q in f[4:8])
        assert f != stub[m].feature
        # direct check against the generator's samples
        import numpy as np

        x = M._audio_samples(m, 256 + (m % 5) * 64).astype(np.float64) / 32768.0
        # feature column is array<float> (float32) — tolerance accordingly
        assert abs(rms - float(np.sqrt(np.mean(x * x)))) < 1e-6
    # video rows decode through the real Y4M path: duration matches the
    # generator's frame count at 25 fps; luma features bounded; panning
    # + brightness ramp means real motion energy (tdiff > 0)
    vids = [m for m in real if m % 3 == 2]
    assert vids
    for m in vids:
        f = real[m].feature
        dur, mean, std, tdiff = f[0], f[1], f[2], f[3]
        nf = 10 * (1 + m % 3) + 1
        assert abs(dur - nf / 25.0) < 1e-6
        assert 0.0 <= mean <= 1.0 and std > 0.0 and tdiff > 0.0
        assert f != stub[m].feature
        # direct check against the generator's frames
        import numpy as np

        fr = M._video_frames(m, nf, 32, 24).astype(np.float64) / 255.0
        assert abs(mean - fr.mean()) < 1e-6


def test_y4m_roundtrip_and_frame_seek(spark):
    """Y4M encode/decode is frame-exact; frame_sample(decode=True) seeks
    to the right frames and reports their true mean luma."""
    import numpy as np

    frames = M._video_frames(5, 13, 16, 12)
    back, fps = M._decode_y4m(M._encode_y4m(frames))
    assert fps == 25.0
    assert (back == frames).all()

    media = M.synthetic_media(spark, n=9)
    rows = M.frame_sample(media, every_nth=10, decode=True).collect()
    assert rows and all(r.frame_idx % 10 == 0 for r in rows)
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, {})[r.frame_idx] = r.mean_luma
    for mid, sampled in by_id.items():
        nf = 10 * (1 + mid % 3) + 1
        fr = M._video_frames(mid, nf, 32, 24).astype(np.float64) / 255.0
        assert set(sampled) == set(range(0, nf, 10))
        for k, luma in sampled.items():
            assert abs(luma - fr[k].mean()) < 1e-9


def test_wav_roundtrip():
    """WAV encode/decode is exact for 16-bit PCM."""
    import numpy as np

    samples = M._audio_samples(7, 300)
    back, rate = M._decode_wav(M._encode_wav(samples, rate=16000))
    assert rate == 16000
    assert (back == samples).all()


@pytest.mark.parametrize("small_edges", [10**6, 0], ids=["unionfind", "distributed"])
def test_connected_components_chain_and_clique(spark, small_edges):
    """Chain 1-2-3-4 plus clique {10,11,12} plus isolated pair (20,21):
    component = min reachable id for every member — identical via the
    driver union-find fast path and the distributed min-label loop."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comps = {
        r.doc_id: r.component
        for r in D.connected_components(pairs, small_graph_edges=small_edges).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_pipeline_keeps_one_per_component(spark, docs):
    """After the component-based keep rule, no two surviving docs are in
    the same near-dup component."""
    from fossa_spark.pipelines import TrainingDataPipeline

    p = TrainingDataPipeline(spark=spark, min_chars=0, max_punct_ratio=1.0)
    cleaned = p.transform(docs)
    kept = {r.doc_id for r in cleaned.select("doc_id").collect()}
    p.release()
    pairs = D.minhash_lsh_dedup(docs, threshold=0.5)
    comps = D.connected_components(pairs).collect()
    by_comp = {}
    for r in comps:
        by_comp.setdefault(r.component, []).append(r.doc_id)
    for comp, members in by_comp.items():
        survivors = [m for m in members if m in kept]
        assert len(survivors) <= 1, f"component {comp}: multiple survivors {survivors}"


def test_connected_components_long_chain(spark):
    """25-node chain (diameter > default max_iter under one-hop-only
    propagation): pointer jumping must converge it well within max_iter.
    Forces the distributed path — the chain is the worst case for it."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "id_a long, id_b long"
    )
    comps = {
        r.doc_id: r.component
        for r in D.connected_components(pairs, small_graph_edges=0).collect()
    }
    assert set(comps.values()) == {0}
    assert len(comps) == 26


def test_semantic_dedup_planted_groups(spark):
    """Two planted near-duplicate embedding groups plus singletons:
    each group collapses to ONE kept representative — the member farthest
    from its KMeans centroid (the SemDeDup keep rule) — and singletons
    never appear in the output."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    # group A: ids 0-2 around a base vector; group B: ids 10-12 around an
    # orthogonal-ish base; singletons 20-24 random
    base_a = rng.normal(size=8)
    base_b = rng.normal(size=8) + 5.0
    for i in range(3):
        rows.append((i, (base_a + rng.normal(scale=0.01, size=8)).tolist()))
        rows.append((10 + i, (base_b + rng.normal(scale=0.01, size=8)).tolist()))
    for i in range(20, 25):
        rows.append((i, rng.normal(size=8).tolist()))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = D.semantic_dedup(df, n_clusters=4, threshold=0.95).collect()
    sizes = sorted(r.size for r in out)
    assert sizes == [3, 3], out
    kept = {r.kept_id for r in out}
    assert len(kept) == 2
    assert any(k in (0, 1, 2) for k in kept)
    assert any(k in (10, 11, 12) for k in kept)
    # determinism: same seed → identical result
    out2 = D.semantic_dedup(df, n_clusters=4, threshold=0.95).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_ivf_topk_recall(vecs):
    """IVF (16 centroids, nprobe=4) recall vs exact brute force — the
    coarse-quantized scale path must stay useful on this corpus."""
    q = vecs.filter("vec_id < 10").selectExpr("vec_id q_id", "embedding q_vec")
    c = vecs.selectExpr("vec_id c_id", "embedding c_vec")
    exact = {(r.q_id, r.c_id) for r in S.brute_force_topk(q, c, k=5).collect()}
    ivf = {(r.q_id, r.c_id)
           for r in S.ivf_topk(q, c, k=5, n_centroids=16, nprobe=4).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.4, f"IVF recall collapsed: {recall:.2f}"
    # determinism: same seed → same result
    ivf2 = {(r.q_id, r.c_id)
            for r in S.ivf_topk(q, c, k=5, n_centroids=16, nprobe=4).collect()}
    assert ivf == ivf2


def test_pca_ivf_topk_recall_and_rerank_exactness(vecs):
    """Funnel ANN (round 7): PCA 64d→8d shortlist + exact full-dim
    re-rank.  Recall vs brute force must hold, the same seed must
    reproduce bit-identically, and — the re-rank contract — any returned
    pair that brute force also returns must carry the IDENTICAL full-dim
    cosine (the funnel may lose recall, never precision)."""
    q = vecs.filter("vec_id < 10").selectExpr("vec_id q_id", "embedding q_vec")
    c = vecs.selectExpr("vec_id c_id", "embedding c_vec")
    exact = {(r.q_id, r.c_id) for r in S.brute_force_topk(q, c, k=5).collect()}
    fun = {(r.q_id, r.c_id)
           for r in S.pca_ivf_topk(q, c, k=5, shortlist=20).collect()}
    recall = len(exact & fun) / len(exact)
    assert recall >= 0.4, f"funnel recall collapsed: {recall:.2f}"
    fun2 = {(r.q_id, r.c_id)
            for r in S.pca_ivf_topk(q, c, k=5, shortlist=20).collect()}
    assert fun == fun2
    bf = {(r.q_id, r.c_id): r.score
          for r in S.brute_force_topk(q, c, k=5).collect()}
    for r in S.pca_ivf_topk(q, c, k=5, shortlist=20).collect():
        if (r.q_id, r.c_id) in bf:
            assert r.score == bf[(r.q_id, r.c_id)]


def test_pq_topk_recall_and_determinism(vecs):
    """PQ (m=8, ksub=16, shortlist=50) recall vs exact brute force — the
    compressed-scan scale path; with exact re-rank on a 50-deep shortlist
    recall should be high on this corpus. Same seed → same result."""
    q = vecs.filter("vec_id < 10").selectExpr("vec_id q_id", "embedding q_vec")
    c = vecs.selectExpr("vec_id c_id", "embedding c_vec")
    exact = {(r.q_id, r.c_id) for r in S.brute_force_topk(q, c, k=5).collect()}
    pq = {(r.q_id, r.c_id) for r in S.pq_topk(q, c, k=5).collect()}
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.5, f"PQ recall collapsed: {recall:.2f}"
    pq2 = {(r.q_id, r.c_id) for r in S.pq_topk(q, c, k=5).collect()}
    assert pq == pq2
    # exact re-rank contract: scores of true hits match brute force exactly
    bf = {(r.q_id, r.c_id): r.score for r in S.brute_force_topk(q, c, k=5).collect()}
    for r in S.pq_topk(q, c, k=5).collect():
        if (r.q_id, r.c_id) in bf:
            assert r.score == bf[(r.q_id, r.c_id)]


def test_pq_topk_shortlist_none_is_exact(vecs):
    """shortlist=None ⇒ every candidate reaches the exact re-rank, so the
    output must equal brute force ROW FOR ROW — without the caller paying
    a count() to size the shortlist (r8 verdict nit; the oracle-backed
    q_sim_pq_exact runs the same config under DuckDB at sf0.01)."""
    q = vecs.filter("vec_id < 5").selectExpr("vec_id q_id", "embedding q_vec")
    c = vecs.selectExpr("vec_id c_id", "embedding c_vec")
    exact = sorted(map(tuple, S.brute_force_topk(q, c, k=5).collect()))
    full = sorted(map(tuple, S.pq_topk(q, c, k=5, shortlist=None).collect()))
    assert full == exact


def test_ngram_hot_shingle_cap_bounds_pairs(spark):
    """A boilerplate shingle shared by every document must not generate the
    O(n²) all-pairs blow-up: with max_df below the corpus size the planted
    boilerplate is excluded from the shingle universe, so pair counts stay
    bounded by genuine (capped-universe) overlap."""
    boiler = "all rights reserved by the publisher"  # 6 tokens → shared 5-grams
    rows = [(i, f"{boiler} unique body {i} alpha beta gamma delta {i}")
            for i in range(40)]
    # two genuine near-dups sharing a long distinctive run
    core = "the quick brown fox jumps over the lazy dog again and again"
    rows += [(100, f"{core} tail one"), (101, f"{core} tail two")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = D.ngram_jaccard_pairs(docs, k=5, min_jaccard=0.0, max_df=10**9)
    capped = D.ngram_jaccard_pairs(docs, k=5, min_jaccard=0.0, max_df=10)
    n_uncapped, n_capped = uncapped.count(), capped.count()
    assert n_uncapped >= 40 * 39 // 2  # boilerplate links every doc pair
    assert n_capped < 40  # cap kills the boilerplate clique
    # the genuine near-dup pair survives the cap
    assert capped.filter("id_a = 100 AND id_b = 101").count() == 1
    # dropped shingles are auditable and are exactly the boilerplate 5-grams
    hot = D.hot_shingles(docs, k=5, max_df=10).collect()
    assert all(r.df >= 40 for r in hot)
    assert {r.shingle for r in hot} >= {
        "all rights reserved by the",
        "rights reserved by the publisher",
    }


def test_bpe_train_known_corpus(spark):
    """The classic BPE example: {low×5, lowest×2, newer×6, wider×3} —
    first merges must follow exact greedy pair frequencies with
    deterministic tie-breaks, matching a hand-run of the algorithm."""
    rows = (["low"] * 5 + ["lowest"] * 2 + ["newer"] * 6 + ["wider"] * 3)
    df = spark.createDataFrame([(" ".join(rows),)], "text string")
    out = X.bpe_train(df, n_merges=4).collect()
    got = [(r.merge_rank, r.left, r.right, r.pair_count) for r in out]
    # hand derivation: r1 (e,r)=9 (newer 6 + wider 3); r2 (l,o)=7 ties
    # (o,w)=7, 'l'<'o' wins; r3 (lo,w)=7; r4 three-way tie at 6 —
    # (e,w) / (n,e) / (w,er) — 'e' wins the left-asc tie-break
    assert got[0] == (1, "e", "r", 9)
    assert got[1] == (2, "l", "o", 7)
    assert got[2] == (3, "lo", "w", 7)
    assert got[3] == (4, "e", "w", 6)


def test_bpe_train_handles_quotes(spark):
    """Symbols containing single quotes must not break the fold-expression
    interpolation."""
    df = spark.createDataFrame([("o'o o'o o'o",)], "text string")
    out = X.bpe_train(df, n_merges=2).collect()
    # (o,')=3 ties (',o)=3; left-asc tie-break: "'" < "o"
    assert (out[0].left, out[0].right, out[0].pair_count) == ("'", "o", 3)
    assert (out[1].left, out[1].right, out[1].pair_count) == ("o", "'o", 3)


def test_pca_project_properties(vecs):
    """PCA: components orthonormal, projected variance non-increasing,
    projection exactly reproducible run-to-run (exact integer Gram fit),
    and centered: projected means ~ 0."""
    import numpy as np

    out = S.pca_project(vecs, n_components=8, dim=64).collect()
    assert len(out) == vecs.count()
    m = np.vstack([r.pca for r in out])
    assert m.shape[1] == 8
    var = m.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-6 for i in range(7)), var
    assert np.abs(m.mean(axis=0)).max() < 1e-3
    out2 = S.pca_project(vecs, n_components=8, dim=64).collect()
    assert sorted(map(tuple, ((r.vec_id, *r.pca) for r in out))) == sorted(
        map(tuple, ((r.vec_id, *r.pca) for r in out2))
    )


def test_bpe_apply_roundtrip(spark):
    """bpe_apply: greedy lowest-rank merges segment exactly as the
    reference algorithm — known merges on a tiny corpus produce the
    expected piece counts, and piece count never exceeds char count."""
    df = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "ab cd cd")],
        "doc_id long, text string",
    )
    # merges: (a,b)->ab rank0, (ab,ab)->abab rank1
    out = {r.doc_id: r for r in
           X.bpe_apply(df, [("a", "b"), ("ab", "ab")]).collect()}
    # doc1: 'abab'->1 piece (x2), 'cd'->2 pieces => words 3, pieces 4
    assert (out[1].n_words, out[1].n_pieces) == (3, 4)
    # doc2: 'ab'->1, 'cd'->2 (x2) => words 3, pieces 5
    assert (out[2].n_words, out[2].n_pieces) == (3, 5)
    # no merges -> every char is a piece
    out0 = {r.doc_id: r for r in X.bpe_apply(df, []).collect()}
    assert out0[1].n_pieces == len("ababababcd")


def test_setsim_candidate_mass_matches_join(spark, docs):
    """The one-aggregate mass estimate must equal the EXACT prefix-join
    row count the setsim engine would generate (same prefix formula)."""
    rows = D.shingle_hash_rows(docs.limit(200), "text", "doc_id", k=3).select(
        "doc_id", F.col("_sh").alias("tok")
    )
    est = D.setsim_candidate_mass(rows, 0.5)
    # brute-force the same prefix join and count its rows
    dfreq = rows.groupBy("tok").agg(F.count(F.lit(1)).alias("dfreq"))
    ranked = (
        rows.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("dfreq", "tok"))).alias("st"))
        .select("doc_id", F.col("st.tok").alias("toks"), F.size("st").alias("n"))
    )
    plen = F.col("n") - F.ceil(F.col("n") * 0.5 - 1e-9).cast("int") + 4
    prefix = ranked.select(
        "doc_id", F.explode(F.slice("toks", 1, plen)).alias("tok")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    n_join = a.join(
        b,
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()
    assert est["candidate_rows"] == n_join
    assert est["n_docs"] == 200
    assert est["max_prefix_df"] >= 1 and est["n_prefix_tokens"] >= 1


def test_dedup_auto_branches(spark, docs):
    """dedup_pairs_auto: the exact branch must equal setsim_join's pairs
    with strategy='exact_prefix'; forcing the cap to 0 must flip every
    row to the LSH-verified path, whose pairs are a SUBSET of exact
    (perfect precision — each emitted pair is exactly verified) with the
    same schema."""
    d = docs.limit(200)
    auto = D.dedup_pairs_auto(d, threshold=0.5, k=3)
    assert auto.columns == ["id_a", "id_b", "jaccard", "strategy"]
    got = {(r.id_a, r.id_b) for r in auto.collect()}
    assert {r.strategy for r in auto.collect()} <= {"exact_prefix"}
    sh = D.shingle_hash_rows(d, "text", "doc_id", k=3).select(
        "doc_id", F.col("_sh").alias("tok")
    )
    exact = {
        (r.id_a, r.id_b)
        for r in D.setsim_join(d, threshold=0.5, tok_rows=sh).collect()
    }
    assert got == exact

    forced = D.dedup_pairs_auto(d, threshold=0.5, k=3, mass_per_doc_cap=0)
    rows = forced.collect()
    assert {r.strategy for r in rows} <= {"lsh_verified"}
    lsh_pairs = {(r.id_a, r.id_b) for r in rows}
    # exact verification after LSH: no false positives at k=3... the LSH
    # fallback shingles with the SAME k, so verified Jaccard >= 0.5 pairs
    # are a subset of the exact-branch pairs
    assert lsh_pairs <= exact
    assert all(r.jaccard >= 0.5 for r in rows)


def test_rrf_fuse_hand_example(spark):
    """RRF on a hand example: item in both lists beats items in one;
    absent ranks stay NULL; 1/(k0+rk) terms match the closed form."""
    dense = spark.createDataFrame(
        [(1, 1), (2, 2)], ["doc_id", "rk_dense"]
    )
    sparse = spark.createDataFrame(
        [(2, 1), (3, 2)], ["doc_id", "rk_sparse"]
    )
    out = {
        r.doc_id: r
        for r in S.rrf_fuse(
            [(dense, "rk_dense"), (sparse, "rk_sparse")], k0=60, k=10
        ).collect()
    }
    assert out[2].rk == 1  # in both lists
    assert abs(out[2].rrf - round(1 / 62 + 1 / 61, 8)) < 1e-12
    assert out[1].rk_sparse is None and out[3].rk_dense is None
    assert abs(out[1].rrf - round(1 / 61, 8)) < 1e-12


def test_pq_topk_full_shortlist_is_exact(vecs):
    """shortlist >= |corpus| means the exact re-rank covers every
    candidate, so PQ must reproduce brute-force top-k row for row — the
    exactness-on-demand premise of the oracle-backed q_sim_pq_exact
    (round 8)."""
    q = vecs.filter("vec_id < 5").selectExpr("vec_id q_id", "embedding q_vec")
    c = vecs.selectExpr("vec_id c_id", "embedding c_vec")
    n = c.count()
    exact = sorted(map(tuple, S.brute_force_topk(q, c, k=5).collect()))
    pq = sorted(map(tuple, S.pq_topk(q, c, k=5, shortlist=n).collect()))
    assert pq == exact


def test_quality_lr_learns_and_composes(spark):
    """train_quality_lr (round 9, VERDICT r8 item 3): the fixed-point GD
    must actually LEARN — training accuracy clearly above the majority
    baseline on the fixture label — and the keep gate must compose with
    the rule-based q_text_quality features as a joint curation filter."""
    import os

    from fossa_spark.llm import classifier as CL
    from fossa_spark.llm import text as X
    from fossa_spark.queries._util import load

    sf = os.environ.get("FOSSA_TEST_SF_DIR", "/root/testdata/sf0.001")
    d = load(spark, sf, "documents")
    label = F.col("n_chars") >= 300
    w, mt = CL.train_quality_lr(d, label=label, iters=3)
    scored = CL.score_quality_lr(d, w, mt)
    joined = scored.join(
        d.select("doc_id", label.cast("int").alias("y")), "doc_id"
    )
    agg = joined.agg(
        F.avg((F.col("keep").cast("int") == F.col("y")).cast("int")).alias("acc"),
        F.avg("y").alias("pos_rate"),
    ).first()
    base = max(agg.pos_rate, 1 - agg.pos_rate)
    assert agg.acc >= base + 0.15, (agg.acc, base)

    # deterministic across runs (fixed-point contract): identical weights
    w2, _ = CL.train_quality_lr(d, label=label, iters=3)
    assert sorted(map(tuple, w.collect())) == sorted(map(tuple, w2.collect()))

    # composition: the trained gate ANDs with the rule-based quality
    # features into one curation filter (pure column predicates)
    gated = (
        X.quality_features(d)
        .join(scored.select("doc_id", "keep"), "doc_id")
        .filter(F.col("keep") & (F.col("n_tokens") >= 5))
    )
    n_gated, n_keep = gated.count(), scored.filter("keep").count()
    assert 0 < n_gated <= n_keep


def test_image_phash_near_dup_recovers_planted_copies(spark):
    """Every planted perturbed copy must pair with its original within
    the Hamming radius; no cross-pair between distinct random images
    (48 random 64-bit hashes: a band collision AND hamming <= 3 between
    unrelated images is ~impossible, and the rng is seeded)."""
    base = M.synthetic_random_images(spark, n=48)
    media = base.unionByName(M.perturb_images(base, every=4, flips=20))
    pairs = M.phash_near_dup(
        M.image_phash(media), max_hamming=3
    ).collect()
    planted = {(r.id_a, r.id_b) for r in pairs if r.id_b - r.id_a == 100_000}
    assert planted == {(i, i + 100_000) for i in range(0, 48, 4)}
    assert all(r.hamming <= 3 for r in pairs)
    assert not [r for r in pairs if r.id_b - r.id_a != 100_000]


def test_image_phash_is_stable_and_distinct(spark):
    h = {r.media_id: r.phash
         for r in M.image_phash(M.synthetic_random_images(spark, n=8)).collect()}
    h2 = {r.media_id: r.phash
          for r in M.image_phash(M.synthetic_random_images(spark, n=8)).collect()}
    assert h == h2                       # pure function of media_id
    assert len(set(h.values())) == 8     # random images hash apart


def test_phash_near_dup_guards_pigeonhole_premise(spark):
    import pytest as _pt

    hashes = M.image_phash(M.synthetic_random_images(spark, n=4))
    with _pt.raises(ValueError, match="pigeonhole"):
        M.phash_near_dup(hashes, max_hamming=64)
    with _pt.raises(ValueError, match="pigeonhole"):
        M.phash_near_dup(hashes, max_hamming=-1)


def test_audio_fingerprint_near_dup_recovers_planted_copies(spark):
    base = M.synthetic_random_audio(spark, n=48)
    media = base.unionByName(M.perturb_audio(base, every=4, amp=512))
    pairs = M.phash_near_dup(
        M.audio_fingerprint(media), max_hamming=3
    ).collect()
    planted = {(r.id_a, r.id_b) for r in pairs if r.id_b - r.id_a == 100_000}
    assert planted == {(i, i + 100_000) for i in range(0, 48, 4)}
    assert not [r for r in pairs if r.id_b - r.id_a != 100_000]


def test_audio_fingerprint_is_stable_and_distinct(spark):
    base = M.synthetic_random_audio(spark, n=8)
    h = {r.media_id: r.phash for r in M.audio_fingerprint(base).collect()}
    h2 = {r.media_id: r.phash for r in M.audio_fingerprint(base).collect()}
    assert h == h2
    assert len(set(h.values())) == 8


def test_image_phash_refuses_images_smaller_than_grid(spark):
    import numpy as np
    import pytest as _pt

    from fossa_spark.llm.multimodal import _ahash

    with _pt.raises(ValueError, match="smaller than hash grid"):
        _ahash(np.zeros((4, 64), dtype=np.uint8), hash_dim=8)
    with _pt.raises(ValueError, match="smaller than hash grid"):
        _ahash(np.zeros((64, 7), dtype=np.uint8), hash_dim=8)


def test_video_fingerprint_near_dup_recovers_planted_copies(spark):
    base = M.synthetic_random_videos(spark, n=48)
    media = base.unionByName(M.perturb_videos(base, every=4, amp=3))
    pairs = M.phash_near_dup(
        M.video_fingerprint(media), max_hamming=3
    ).collect()
    planted = {(r.id_a, r.id_b) for r in pairs if r.id_b - r.id_a == 100_000}
    assert planted == {(i, i + 100_000) for i in range(0, 48, 4)}
    assert not [r for r in pairs if r.id_b - r.id_a != 100_000]


def test_video_fingerprint_is_stable_and_distinct(spark):
    base = M.synthetic_random_videos(spark, n=8)
    h = {r.media_id: r.phash for r in M.video_fingerprint(base).collect()}
    h2 = {r.media_id: r.phash for r in M.video_fingerprint(base).collect()}
    assert h == h2
    assert len(set(h.values())) == 8


def test_lm_bigram_matches_python_replay(spark):
    """lm_bigram_score (round 12) vs a pure-Python replay on a tiny
    corpus with a forced OOV (vocab_k below the distinct-token count):
    same bigram counts, same add-one log-probs (1e8-int convention),
    same per-doc sums; a 1-token doc contributes no row."""
    import math

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "cat and dog and cat"),
        (4, "zzz"),               # single token: no bigram, no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k = 6
    out = {r.doc_id: r for r in X.lm_bigram_score(df, vocab_k=k).collect()}
    assert 4 not in out and set(out) == {1, 2, 3}

    toks = {d: t.lower().split(" ") for d, t in rows}
    uni: dict = {}
    for t in toks.values():
        for w in t:
            uni[w] = uni.get(w, 0) + 1
    vocab = {w for w, _ in sorted(uni.items(), key=lambda x: (-x[1], x[0]))[:k]}
    OOV = "\x01oov"
    m = lambda w: w if w in vocab else OOV  # noqa: E731
    v_total = len({m(w) for t in toks.values() for w in t})
    cb: dict = {}
    for t in toks.values():
        for a, b in zip(t, t[1:]):
            cb[(m(a), m(b))] = cb.get((m(a), m(b)), 0) + 1
    cl: dict = {}
    for (a, _b), n in cb.items():
        cl[a] = cl.get(a, 0) + n
    lp = {
        pair: round(math.log((n + 1.0) / (cl[pair[0]] + float(v_total))) * 1e8)
        for pair, n in cb.items()
    }
    for d in (1, 2, 3):
        grams = [(m(a), m(b)) for a, b in zip(toks[d], toks[d][1:])]
        assert out[d].n_bigrams == len(grams)
        assert out[d].n_oov_bigrams == sum(
            1 for a, b in grams if OOV in (a, b)
        )
        assert out[d].sum_lp == sum(lp[g] for g in grams), d


def test_domain_kl_matches_python_replay(spark):
    """domain_kl (round 12) vs a pure-Python replay: same grid, same
    termwise-rounded 1e8-int KL contributions, same totals; a domain
    whose distribution IS the corpus scores ~0, a disjoint-vocabulary
    domain scores clearly higher."""
    import math

    rows = (
        [(i, "alpha beta gamma delta", "a") for i in range(8)]
        + [(100 + i, "alpha beta gamma delta", "b") for i in range(8)]
        + [(200 + i, "omega psi chi phi", "c") for i in range(8)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.domain: r for r in X.domain_kl(df, vocab_k=6).collect()}

    toks = [(s, w) for _d, t, s in rows for w in t.lower().split(" ")]
    uni: dict = {}
    for _s, w in toks:
        uni[w] = uni.get(w, 0) + 1
    vocab = {w for w, _ in sorted(uni.items(), key=lambda x: (-x[1], x[0]))[:6]}
    OOV = "\x01oov"
    m = lambda w: w if w in vocab else OOV  # noqa: E731
    mtoks = [(s, m(w)) for s, w in toks]
    cc: dict = {}
    cd: dict = {}
    nd: dict = {}
    for s, w in mtoks:
        cc[w] = cc.get(w, 0) + 1
        cd[(s, w)] = cd.get((s, w), 0) + 1
        nd[s] = nd.get(s, 0) + 1
    n_total, v_total = float(len(mtoks)), float(len(cc))
    for s in nd:
        kl = 0
        for w, c in cc.items():
            pd = (float(cd.get((s, w), 0)) + 1.0) / (float(nd[s]) + v_total)
            pc = (float(c) + 1.0) / (n_total + v_total)
            kl += round(pd * (math.log(pd) - math.log(pc)) * 1e8)
        assert out[s].kl_scaled == kl, s
        assert out[s].n_tokens == nd[s]
    # a and b are identical halves of the corpus, c is disjoint: the
    # disjoint domain must diverge strictly more (add-one smoothing
    # gives a/b real mass too — absent c-vocabulary still costs them —
    # so the right invariant is ordering, not orders of magnitude)
    assert out["a"].kl_scaled == out["b"].kl_scaled
    assert out["c"].kl_scaled > out["a"].kl_scaled


def test_eval_ndcg_perfect_and_zero_retrieval(spark, tmp_path):
    """NDCG@10 sanity on planted geometry: tight same-label clusters →
    every query's top-k is all-relevant (ndcg = 1.0 over the truncated
    ideal); a singleton label has IDCG 0 → ndcg NULL.  Uses the
    registered query machinery on a temp parquet dir so the label/
    ranking plumbing is exercised end-to-end."""
    import math

    from fossa_spark.queries.llm_queries import _NDCG_CUM, _NDCG_DISC

    # discount table premise: strictly decreasing, cum strictly increasing
    ds = [_NDCG_DISC[i] for i in range(1, 11)]
    assert ds == sorted(ds, reverse=True) and ds[0] == 100000000
    assert all(
        _NDCG_CUM[m] == sum(ds[:m]) for m in range(1, 11)
    )
    assert _NDCG_DISC[3] == round(1e8 / math.log2(4))
    rows = []
    # two tight clusters of 12 (labels 0, 1) + one singleton label 9
    for i in range(12):
        rows.append((i, [10.0 + 0.001 * i, 0.0, 0.0], 0))
        rows.append((100 + i, [0.0, 10.0 + 0.001 * i, 0.0], 1))
    rows.append((500, [0.0, 0.0, 10.0], 9))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    from fossa_spark.llm import similarity as S2

    q = df.filter("vec_id < 20").selectExpr(
        "vec_id q_id", "embedding q_vec", "label q_label"
    )
    top = S2.brute_force_topk(
        q.selectExpr("q_id", "q_vec"),
        df.selectExpr("vec_id c_id", "embedding c_vec"),
        k=10,
    )
    got = top.join(
        df.selectExpr("vec_id c_id", "label c_label"), "c_id"
    ).join(q.select("q_id", "q_label"), "q_id")
    # every query is in cluster 0 (vec_id < 20 → ids 0..11): top-10 all
    # label 0 (11 same-cluster members fill the list)
    bad = got.filter("q_label <> c_label").count()
    assert bad == 0
    # End-to-end through the REGISTERED query (ADVICE r12: the docstring
    # promised this; now the body delivers): plant the frame as an
    # embeddings.parquet fixture, add a singleton-label query (vec 15,
    # label 7, orthogonal direction — never enters a cluster's top-10)
    # so the IDCG-0 → NULL path is exercised too.
    from fossa_spark.queries.llm_queries import q_eval_ndcg

    df.unionByName(
        spark.createDataFrame(
            [(15, [0.0, 0.0, 10.0], 7)],
            "vec_id long, embedding array<double>, label int",
        )
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r.q_id: r for r in q_eval_ndcg(spark, str(tmp_path)).collect()
    }
    assert set(out) == set(range(12)) | {15}
    for qid in range(12):
        # 12-member label → ideal depth 10; top-10 all relevant
        assert out[qid].ndcg == 1.0, qid
        assert out[qid].n_rel_topk == 10
    assert out[15].ndcg is None  # singleton label: IDCG 0 → NULL
    assert out[15].idcg_scaled == 0


def test_shared_span_pairs_planted_geometry(spark):
    """shared_span_pairs on planted docs: a 20-token verbatim run is
    recovered as ONE maximal span with exact 1-based positions; two
    disjoint runs give two rows; a sub-threshold run gives none; exact
    replicas collapse to the min-id representative before pairing."""
    w = [f"w{i}" for i in range(40)]
    base = w[:30]                       # doc 0: tokens w0..w29
    shared = base[5:25]                 # 20-token run at doc0 pos 6..25
    doc1 = ["p1", "p2", "p3", "p4", "p5"] + shared + ["s1", "s2"]
    # doc 4 shares TWO disjoint 16-token runs with doc 0
    doc4 = base[0:16] + ["gapx"] + base[14:30]
    # doc 5 shares only 10 tokens (< 16): filtered out
    doc5 = ["q1", "q2"] + base[20:30] + ["q3"]
    rows = [
        (0, " ".join(base)),
        (1, " ".join(doc1)),
        (2, " ".join(base)),            # exact replica of doc 0
        (3, " ".join(f"z{i}" for i in range(20))),
        (4, " ".join(doc4)),
        (5, " ".join(doc5)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.shared_span_pairs(df, k=8, min_tokens=16).orderBy(
        "id_a", "id_b", "start_a"
    )
    got = [tuple(r) for r in out.collect()]
    # replica doc 2 never appears (collapsed into rep 0); doc 5's
    # 10-token overlap is sub-threshold; doc 3 matches nothing
    assert got == [
        (0, 1, 6, 6, 20),
        # doc4 run 1: base[0:16] at doc0 pos 1..16, doc4 pos 1..16
        (0, 4, 1, 1, 16),
        # doc4 run 2: base[14:30] at doc0 pos 15..30, doc4 pos 18..33
        (0, 4, 15, 18, 16),
    ]
    # every doc pair with a shared ≥16-token run shares all its 8-gram
    # anchors; doc1's span also pairs with the replica-collapsed rep
    # only once — rerun with replicas dropped up front must be identical
    out2 = D.shared_span_pairs(df.filter("doc_id <> 2"), k=8, min_tokens=16)
    assert sorted(tuple(r) for r in out2.collect()) == sorted(got)


def test_shared_span_pairs_hot_anchor_cap(spark):
    """The occurrence cap drops boilerplate anchors: with max_df below
    the anchor's occurrence count the span disappears; with a generous
    cap it is found."""
    shared = [f"b{i}" for i in range(20)]
    rows = [(i, " ".join([f"u{i}x{j}" for j in range(3)] + shared))
            for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # every anchor inside the shared run occurs 6 times (once per doc)
    generous = D.shared_span_pairs(df, k=8, min_tokens=16, max_df=10)
    assert generous.count() == 15  # C(6,2) pairs, one span each
    capped = D.shared_span_pairs(df, k=8, min_tokens=16, max_df=5)
    assert capped.count() == 0


def test_shared_span_pairs_cap_precedes_collect(spark):
    """The hot-anchor cap must run BEFORE the occurrence lists are
    built (r13 verdict's one `weak`): a boilerplate anchor with 10⁸
    occurrences at 100 TB must die in the count-gated join, never
    reaching a collect_list aggregation buffer.  Assert on the
    optimized plan: the `_occ` count/filter subtree hangs UNDER the
    collect_list aggregate (parents print before children in the tree
    dump), and no post-aggregation filter on size(g) remains."""
    shared = [f"b{i}" for i in range(20)]
    rows = [(i, " ".join([f"u{i}x{j}" for j in range(3)] + shared))
            for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.shared_span_pairs(df, k=8, min_tokens=16, max_df=5)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "_occ" in plan  # the count gate exists
    # no Filter node on the materialized list's size (size(g…) also
    # appears legitimately inside the pair-expansion lambda)
    assert not [
        ln for ln in plan.splitlines()
        if "Filter" in ln and "size(g" in ln
    ]
    # the filter on _occ is a DESCENDANT of the collect_list aggregate:
    # it executes first, so the hot anchor's rows never reach the
    # list-building buffer
    assert plan.index("collect_list") < plan.index("_occ")


def test_shared_span_pairs_short_docs_and_nulls(spark):
    """Docs shorter than k tokens carry no anchors; the pipeline
    tolerates them (and they never pair)."""
    rows = [(0, "a b c"), (1, "a b c"), (2, " ".join(f"m{i}" for i in range(20)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert D.shared_span_pairs(df, k=8, min_tokens=16).count() == 0


def test_remove_shared_spans_round_trip(spark):
    """Planted 20-token quote in docs 0 and 1 (doc 0 = min id keeps):
    only doc 1 is rewritten, its new_text is exactly its unique prefix/
    suffix with the quote spliced out, and the keeper never appears.
    A third doc sharing the SAME quote also loses it (still one keeper
    per sharing set)."""
    quote = [f"q{i}" for i in range(20)]
    rows = [
        (0, " ".join(["k0a", "k0b"] + quote + ["k0c"])),
        (1, " ".join(["u1a"] + quote + ["u1b", "u1c"])),
        (2, " ".join(quote + ["u2a", "u2b", "u2c", "u2d"])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["rep_id"]: r
        for r in D.remove_shared_spans(df, k=8, min_tokens=16).collect()
    }
    assert sorted(out) == [1, 2]  # keeper 0 untouched
    assert out[1]["new_text"] == "u1a u1b u1c"
    assert out[1]["removed_tokens"] == 20 and out[1]["n_tokens"] == 23
    assert out[2]["new_text"] == "u2a u2b u2c u2d"
    # doc2 is id_b in pairs with BOTH 0 and 1 → 2 intervals, same
    # positions: the union never double-counts
    assert out[2]["n_spans"] == 2 and out[2]["removed_tokens"] == 20


def test_remove_shared_spans_overlapping_intervals(spark):
    """Two overlapping shared runs on one doc (quotes from two
    different keepers sharing a middle section) remove the POSITION
    UNION, not the sum of interval lengths."""
    a = [f"a{i}" for i in range(16)]
    b = [f"b{i}" for i in range(16)]
    rows = [
        (0, " ".join(["k0"] * 4 + a)),
        (1, " ".join(b + ["k1"] * 4)),
        # doc 2: a then b overlapping? keep disjoint-adjacent: a ++ b
        (2, " ".join(a + b)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["rep_id"]: r
        for r in D.remove_shared_spans(df, k=8, min_tokens=16).collect()
    }
    # doc2 loses both runs (32 tokens) and rewrites to empty
    assert out[2]["removed_tokens"] == 32
    assert out[2]["new_text"] == ""


def test_winnow_span_candidates_guarantee(spark):
    """Any shared run of >= w + k - 1 = 16 tokens yields at least one
    winnowed candidate on the span's diagonal inside the span — the
    Schleimer guarantee the q_dedup_span_winnow query measures."""
    quote = [f"g{i}" for i in range(24)]
    rows = [
        (0, " ".join([f"x{i}" for i in range(10)] + quote)),
        (1, " ".join(quote + [f"y{i}" for i in range(10)])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    anchors = D.span_anchors(df, "text", "doc_id", k=8)
    truth = D.shared_span_pairs(df, k=8, min_tokens=16, anchors=anchors)
    t = truth.collect()[0]
    cand = D.winnow_span_candidates(
        D.winnow_fingerprints(anchors, w=9)
    ).collect()
    aligned = [
        c
        for c in cand
        if c["id_a"] == t["id_a"] and c["id_b"] == t["id_b"]
        and c["_diag"] == t["start_a"] - t["start_b"]
        and t["start_a"] <= c["pos_a"] <= t["start_a"] + t["span_tokens"] - 8
    ]
    assert aligned, "no aligned winnowed candidate for a 24-token run"


def test_srp_sigs_md5_matches_python(spark):
    """The Arrow-matmul signatures must equal a pure-Python integer
    replay of the same md5-literal planes over the quantized vector —
    the engine-portability contract q_sim_recall's oracle leans on
    (exact int64 dot products: order-independent by construction)."""
    from fossa_spark import ml

    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        "vec_id < 8"
    )
    got = {
        (r.vec_id, r.tbl): r.sig
        for r in S.srp_sigs_md5(
            vecs, "vec_id", "embedding", bits=4, tables=3, dim=64
        ).collect()
    }
    planes = S.srp_planes_md5(4, 3, 64)
    rows = ml.quantize_vectors(vecs).collect()
    assert all(isinstance(p, int) for p in planes[0][0])
    for r in rows:
        for t in range(3):
            sig = 0
            for b in range(4):
                proj = sum(
                    int(x) * y for x, y in zip(r.qv, planes[t][b])
                )
                if proj > 0:
                    sig += 2**b
            assert got[(r.vec_id, t)] == sig, (r.vec_id, t)


def test_sim_recall_invariants(spark):
    """q_sim_recall output invariants on the fixture: one row per
    (path, query), hits ≤ min(k, n_cand), recall in [0, 1], and both
    approximate paths recover a nontrivial share of the exact top-10
    (the planted-cluster fixture makes near neighbors easy)."""
    from fossa_spark.queries.llm_queries import q_sim_recall

    out = q_sim_recall(spark, SF_DIR).collect()
    assert len(out) == 40  # 2 paths x 20 queries
    by_path: dict[str, list] = {}
    for r in out:
        assert 0 <= r.n_hits <= 10
        assert r.n_hits <= r.n_cand
        assert r.recall_at_10 == r.n_hits / 10.0
        by_path.setdefault(r.path, []).append(r)
    assert set(by_path) == {"ivf_nprobe4", "srp_lsh_b4x8"}
    for path, rows in by_path.items():
        mean_recall = sum(r.n_hits for r in rows) / (10.0 * len(rows))
        assert mean_recall >= 0.3, (path, mean_recall)


def test_dedup_recall_s_curve_sanity(spark):
    """q_dedup_recall invariants on the fixture: buckets are Jaccard
    deciles >= 5, counts are consistent (0 <= n_found <= n_truth,
    recall = n_found/n_truth), and the top bucket (near-exact dups,
    j >= 0.9) sits far above the 8x2 banding knee (~0.35) so its
    recall must be 1.0 — the S-curve's flat top."""
    from fossa_spark.queries.llm_queries import q_dedup_recall

    rows = q_dedup_recall(spark, SF_DIR).collect()
    assert rows, "fixture must contain true near-dup pairs"
    for r in rows:
        assert 5 <= r.jaccard_bucket <= 10
        assert 0 <= r.n_found <= r.n_truth
        assert r.recall == round(r.n_found / r.n_truth, 8)
    top = max(rows, key=lambda r: r.jaccard_bucket)
    assert top.jaccard_bucket >= 9 and top.recall == 1.0


def test_rerank_pairs_numpy_equals_jvm_fold(spark):
    """rerank_pairs' Arrow cosine (cumsum = left-to-right recurrence)
    must reproduce the JVM sequential fold EXACTLY — same rounded score
    on every pair, same ranks — or q_sim_recall's oracle parity breaks."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pairs = (
        e.selectExpr("vec_id q_id")
        .filter("q_id < 6")
        .crossJoin(e.selectExpr("vec_id c_id").filter("c_id < 200"))
        .filter("q_id <> c_id")
    )
    fast = {
        (r.q_id, r.c_id): (r.score, r.rk)
        for r in S.rerank_pairs(pairs, e, k=50).collect()
    }
    ea = e.selectExpr("vec_id q_id", "embedding _vq")
    eb = e.selectExpr("vec_id c_id", "embedding _vc")
    from pyspark.sql import Window as W

    scored = (
        pairs.join(ea, "q_id").join(eb, "c_id")
        .withColumn("score", F.round(S.cosine(F.col("_vq"), F.col("_vc")), 6))
    )
    w = W.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id").asc())
    slow = {
        (r.q_id, r.c_id): (r.score, r.rk)
        for r in scored.withColumn(
            "rk", F.row_number().over(w).cast("long")
        ).filter("rk <= 50").select("q_id", "c_id", "score", "rk").collect()
    }
    assert fast == slow


def test_cross_span_pairs_planted_contamination(spark):
    """cross_span_pairs finds the planted benchmark-side quotation with
    exact positions, ignores train-train span pairs, and never reports
    bench-bench pairs (only cross-side rows by construction)."""
    w = [f"c{i}" for i in range(40)]
    rows = [
        (0, " ".join(w[:30])),                      # bench (0 % 5 == 0)
        # train doc quoting bench tokens 5..24 after a 3-token prefix
        (1, " ".join(["t1", "t2", "t3"] + w[5:25])),
        # two train docs sharing a span with EACH OTHER only
        (2, " ".join(f"x{i}" for i in range(25))),
        (3, " ".join(["y0"] + [f"x{i}" for i in range(20)])),
        (4, " ".join(f"z{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    anchors = D.span_anchors(df, "text", "doc_id", k=8)
    out = D.cross_span_pairs(
        anchors, F.col("rep_id") % 5 == 0, k=8, min_tokens=16
    ).collect()
    assert [tuple(r) for r in out] == [(0, 1, 6, 4, 20)]


def test_winnow_guarantee_and_density(spark):
    """Winnowing invariants (Schleimer et al. 2003): (1) GUARANTEE —
    two docs sharing a verbatim run of >= w+k-1 tokens share at least
    one selected fingerprint; (2) density ~ 2/(w+1) on random text;
    (3) short docs (< w anchors) carry exactly one fingerprint."""
    w = [f"g{i}" for i in range(60)]
    rows = [
        (0, " ".join(w[:40])),
        # shares tokens 10..29 of doc 0 (20 tokens >= w+k-1 = 16)
        (1, " ".join(["a1", "a2"] + w[10:30] + ["a3"])),
        (2, " ".join(f"u{i}" for i in range(9))),   # 2 anchors < w
        (3, " ".join(f"v{i}" for i in range(200))),  # density probe
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    anchors = D.span_anchors(df, "text", "doc_id", k=8)
    fp = D.winnow_fingerprints(anchors, w=9)
    by_doc: dict[int, set] = {}
    for r in fp.collect():
        by_doc.setdefault(r.rep_id, set()).add(r.h)
    assert by_doc[0] & by_doc[1], "guarantee violated: no shared fingerprint"
    assert len(by_doc[2]) == 1  # short-doc global-min rule
    n3 = anchors.filter("rep_id = 3").count()
    dens = len(by_doc[3]) / n3
    assert 0.1 < dens < 0.35, dens  # ~2/(w+1) = 0.2 on random text


# -- one-aggregation LSH verify and collect-once components vs the
#    exploded-row reference (the plan shape minhash_lsh_dedup had before)

def _sibling_corpus(name: str) -> str:
    import os

    path = os.path.join(os.path.dirname(SF_DIR), name)
    if not os.path.exists(f"{path}/documents.parquet"):
        pytest.skip(f"no {name} corpus next to {SF_DIR}")
    return path


def _exploded_row_pairs(docs, threshold: float):
    """Signatures from exploded (id, _sh) rows, candidates from
    lsh_candidates, |A∩B| from a join on the shingle value and per-doc
    sizes from row counts."""
    sh = D.shingle_hash_rows(docs)
    cands = D.lsh_candidates(D._signatures_from_rows(sh, "doc_id", 16),
                             bands=8, rows_per_band=2)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cands.join(sh.selectExpr("doc_id id_a", "_sh"), "id_a")
        .join(sh.selectExpr("doc_id id_b", "_sh"), ["id_b", "_sh"])
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sizes.selectExpr("doc_id id_a", "n na"), "id_a")
        .join(sizes.selectExpr("doc_id id_b", "n nb"), "id_b")
        .select("id_a", "id_b", (F.col("i").cast("double") / (
            F.col("na") + F.col("nb") - F.col("i")).cast("double")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _union_find_components(pairs) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("corpus", ["sf0.001", "sf0.01"])
def test_minhash_lsh_dedup_equals_exploded_row_reference(spark, corpus):
    """The per-doc-array verify returns the reference's pairs with
    bit-identical jaccard doubles, and the collected components equal a
    union-find over the reference pairs, at every threshold."""
    docs = spark.read.parquet(f"{_sibling_corpus(corpus)}/documents.parquet")
    for threshold in (0.3, 0.5, 0.8):
        ref = sorted(tuple(r) for r in _exploded_row_pairs(docs, threshold).collect())
        pairs = D.minhash_lsh_dedup(docs, threshold=threshold)
        got = sorted(tuple(r) for r in pairs.collect())
        assert ref, f"{corpus}@{threshold}: fixture should hold near-duplicates"
        assert got == ref, f"{corpus}@{threshold}: {sorted(set(got) ^ set(ref))[:5]}"
        comps = {r.doc_id: r.component
                 for r in D.connected_components(pairs).collect()}
        assert comps == _union_find_components((a, b) for a, b, _ in ref)


def test_connected_components_returns_local_relation(spark):
    """The small-graph path hands back a LocalRelation (exact size
    statistics, so a downstream anti-join broadcasts it) built without a
    Python RDD."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    comps = D.connected_components(pairs)
    plan = comps._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert sorted(tuple(r) for r in comps.collect()) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]


def test_connected_components_large_graph_path_computes_pairs_once(spark, docs):
    """Forced past the small-graph cap, the distributed path builds its
    edges from the pair rows the gate already computed: over lazy minhash
    pairs it runs fewer extra Spark jobs, against the same pairs handed in
    as a local relation, than one more computation of the pairs costs."""
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    pairs = D.minhash_lsh_dedup(docs, threshold=0.5)
    pair_jobs, rows = jobs("cc_pairs", pairs.collect)
    local = spark.createDataFrame([(r.id_a, r.id_b) for r in rows], "id_a long, id_b long")

    def components(p):
        return lambda: sorted(
            tuple(r) for r in D.connected_components(p, small_graph_edges=0).collect())

    local_jobs, want = jobs("cc_local", components(local))
    lazy_jobs, got = jobs("cc_lazy", components(pairs))
    assert got == want
    assert lazy_jobs - local_jobs < pair_jobs, (lazy_jobs, local_jobs, pair_jobs)


# -- lsh_candidates bucket cap


def _constant_signatures(spark, n: int, value: int):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.array(*[F.lit(value).cast("long")] * 16).alias("minhash"),
    )


def test_lsh_candidates_drops_overcap_buckets_before_member_lists(spark):
    """Plan shape: the bucket size is a window count over the bucket hash
    partitioning and the cap filter runs below the member-list aggregate,
    so an over-cap bucket never becomes a collect_list buffer; the plan
    still shuffles on bucket exactly once."""
    cands = D.lsh_candidates(_constant_signatures(spark, 10, 7), max_bucket=4)
    plan = cands._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[-1].splitlines()

    def first(fragment):
        return next(i for i, line in enumerate(lines) if fragment in line)

    assert first("Window [count(1)") > first("partial_collect_list"), plan
    assert sum("Exchange hashpartitioning(bucket" in line for line in lines) == 1, plan
    assert cands.count() == 0  # every band of the 10 identical docs is over cap


def test_lsh_candidates_100k_member_bucket_keeps_pair_set(spark):
    """A 100k-member boilerplate bucket (every band of 100,000 identical
    signatures collides) is dropped whole; the planted pairs, which share
    one band each, come out exactly as they do without the skew."""
    planted = spark.createDataFrame(
        [
            (10**6 + 2 * j + s,
             [10**4 + j, 2 * 10**4 + j] + [10**8 + 100 * j + 16 * s + i for i in range(14)])
            for j in range(5) for s in (0, 1)
        ],
        "doc_id long, minhash array<long>",
    )
    expected = {(10**6 + 2 * j, 10**6 + 2 * j + 1) for j in range(5)}
    alone = {tuple(r) for r in D.lsh_candidates(planted).collect()}
    skewed = {tuple(r) for r in D.lsh_candidates(
        _constant_signatures(spark, 100_000, 7).unionByName(planted)).collect()}
    assert alone == expected
    assert skewed == expected
