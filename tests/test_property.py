"""Property-based tests (hypothesis) for the pure-Python engine pieces and
the cents determinism contract — the SURVEY §5 gap the reference never
filled (no property tests anywhere in the reference repo).
"""

from __future__ import annotations

import math
import threading
import time
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from fossa_spark.connect import ConnectorResolver, EngineUrl
from fossa_spark.engine import Engine, InvalidTaskSpec, Job, JobStatus
from fossa_spark.model import Model

# -- the cents contract: round-trip of 2-decimal values is exact


@given(st.integers(min_value=-(10**15), max_value=10**15))
def test_cents_roundtrip_exact(cents_value):
    """Any 2-decimal money value survives double → *100 → round exactly
    (the invariant every aggregate in the oracle contract leans on)."""
    x = cents_value / 100.0  # the double the fixture files store
    assert int(round(x * 100.0)) == cents_value


@given(
    st.lists(st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=200)
)
def test_cents_sum_order_independent(cents_list):
    """Integer-cents sums are permutation-invariant where double sums are
    not — the reason the engine aggregates in cents."""
    doubles = [c / 100.0 for c in cents_list]
    total_fwd = sum(int(round(x * 100.0)) for x in doubles)
    total_rev = sum(int(round(x * 100.0)) for x in reversed(doubles))
    assert total_fwd == total_rev == sum(cents_list)
    # and the final single division is deterministic
    assert total_fwd / 100.0 == total_rev / 100.0


# -- resolver templating


@given(
    st.dictionaries(
        st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True),
        st.from_regex(r"[A-Za-z0-9_/\.]{1,20}", fullmatch=True),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=50)
def test_resolver_resolves_all_placeholders(ctx):
    r = ConnectorResolver()
    template = "parquet:///base/" + "/".join("{%s}" % k for k in ctx)
    with r.context(**ctx):
        resolved = r.resolve(template)
    for v in ctx.values():
        assert v in resolved
    assert "{" not in resolved


@given(st.sampled_from(["csv", "parquet", "json", "orc", "text"]),
       st.from_regex(r"(/[A-Za-z0-9_\.]{1,12}){1,4}", fullmatch=True))
def test_engine_url_parse_total(scheme, path):
    url = EngineUrl.parse(f"{scheme}://{path}")
    assert url.scheme == scheme
    assert url.path.endswith(path.rsplit("/", 1)[-1])


# -- jaccard ratio determinism (ints → single division)


@given(st.integers(1, 10**6), st.integers(1, 10**6), st.integers(0, 10**6))
def test_jaccard_ratio_deterministic(na, nb, inter):
    inter = min(inter, na, nb)
    union = na + nb - inter
    j1 = inter / union
    j2 = inter / union
    assert j1 == j2 and 0.0 <= j1 <= 1.0 and not math.isnan(j1)


# -- PNG codec: encode→decode is the identity for any 8-bit grayscale image


@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_codec_identity(w, h, seed):
    import numpy as np

    from fossa_spark.llm import multimodal as M

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    assert (M._decode_png(M._encode_png(px)) == px).all()


# -- Y4M codec: encode → decode is frame-exact for any mono clip


@given(
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_y4m_codec_identity(w, h, n, seed):
    import numpy as np

    from fossa_spark.llm import multimodal as M

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, h, w), dtype=np.uint8)
    back, fps = M._decode_y4m(M._encode_y4m(frames))
    assert fps == 25.0
    assert (back == frames).all()


# -- int8 quantization: reconstruction error is bounded by half a step


@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=2,
        max_size=64,
    )
)
@settings(max_examples=60, deadline=None)
def test_quantize_error_bound_pure(vals):
    """The numpy body of quantize_int8 (same math as the pandas UDF):
    codes are in [0, 255] and |reconstruction - x| <= scale/2 always."""
    import numpy as np

    m = np.asarray([vals], dtype=np.float64)
    mn = m.min(axis=1, keepdims=True)
    mx = m.max(axis=1, keepdims=True)
    scale = np.where(mx > mn, (mx - mn) / 255.0, 1.0)
    codes = np.floor((m - mn) / scale + 0.5).astype(np.int64)
    err = np.abs(mn + codes * scale - m)
    assert codes.min() >= 0 and codes.max() <= 255
    assert (err <= scale / 2.0 + 1e-9 * np.maximum(np.abs(m), 1.0)).all()


# -- the ℓ-prefix count filter's recall lemma (llm/dedup._setsim_core)


@given(
    st.lists(
        st.lists(st.integers(0, 30), min_size=1, max_size=25),
        min_size=2,
        max_size=12,
    ),
    st.sampled_from([0.07, 0.1, 0.3, 0.5, 0.7, 0.8]),
)
@settings(max_examples=300, deadline=None)
def test_l_prefix_count_filter_has_no_false_negatives(raw_docs, t):
    """Pure-Python mirror of _setsim_core's candidate rule (AdaptJoin
    ℓ-prefix scheme, round 5): every pair with true set-Jaccard ≥ t must
    share at least min(ℓ, ceil(t·max(na, nb))) tokens between their
    EXTENDED (n − ⌈t·n⌉ + ℓ) rarity-ordered prefixes AND pass the
    symmetric length filter — the lemma that lets the Spark plan replace
    the all-intersections join with a prefix join + count filter without
    recall loss.  Brute-force checked over random small set families.

    ADVICE r5: the mirror previously used math.ceil(len(d)*t) — the SAME
    fp-contaminated product as the old Spark expression, so an
    exact-boundary false negative (100·0.07 → ceil 8, not 7) reproduced
    in both and the test could never catch it.  The mirror now copies
    the FP-ROBUST epsilon formulas Spark actually executes, while the
    recall obligation ("is this a true pair?") is decided in EXACT
    rational arithmetic (Fraction) — any over-estimated ceiling now
    fails the lemma instead of hiding in matching fp error."""
    from fractions import Fraction

    L = 4
    EPS = 1e-9  # must match _setsim_core._EPS
    t_exact = Fraction(t)  # exact binary value of the double threshold
    docs = [sorted(set(d)) for d in raw_docs]
    df: dict[int, int] = {}
    for d in docs:
        for tok in d:
            df[tok] = df.get(tok, 0) + 1
    order = lambda tok: (df[tok], tok)  # noqa: E731 — the global total order

    def ext_prefix(d):
        # the Spark side: n - ceil(n*t - eps) + L
        ranked = sorted(d, key=order)
        plen = len(d) - math.ceil(len(d) * t - EPS) + L
        return set(ranked[: max(plen, 0)])

    prefixes = [ext_prefix(d) for d in docs]
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = set(docs[i]), set(docs[j])
            inter = len(a & b)
            # recall obligation decided EXACTLY: J(a,b) >= t as rationals
            if not inter or Fraction(inter, len(a | b)) < t_exact:
                continue  # not a true pair — no recall obligation
            na, nb = len(a), len(b)
            # the Spark side's symmetric length filter must keep it
            assert nb >= t * na - EPS and na >= t * nb - EPS
            shared = len(prefixes[i] & prefixes[j])
            need = min(L, math.ceil(t * max(na, nb) - EPS))
            assert shared >= need, (docs[i], docs[j], t, shared, need)


def test_l_prefix_ceil_is_fp_robust():
    """Deterministic regression for the ADVICE-r5 fp-ceil bug
    (100·0.07 → 7.000000000000001 → ceil 8 instead of 7): sweep
    (n, t) densely and assert the epsilon formula ceil(n·t − 1e-9) used
    by _setsim_core never EXCEEDS the decimal-exact ceiling (exceeding
    shortens the prefix / raises the count threshold → recall loss) and
    never undershoots it by more than the one step that only admits
    extra candidates.  Also proves the old formula ceil(n·t) really was
    wrong somewhere in the sweep."""
    import math as m
    from fractions import Fraction

    EPS = 1e-9
    diffs_old = 0
    for n in range(1, 301):
        for t in (0.07, 0.1, 0.14, 0.3, 0.39, 0.5, 0.7, 0.8, 0.9):
            exact = m.ceil(Fraction(n) * Fraction(str(t)))  # decimal-exact
            robust = m.ceil(n * t - EPS)
            old = m.ceil(n * t)
            assert robust <= exact, (n, t, robust, exact)
            # robust never exceeds the decimal-exact ceiling (recall-safe)
            # and never undershoots by a whole step either:
            assert robust >= exact - 1, (n, t, robust, exact)
            if old > exact:
                diffs_old += 1
    # the bug was real: the old formula over-estimates somewhere in range
    assert diffs_old > 0


# -- connected_components: distributed path ≡ reference union-find
#    (VERDICT r5 item 4: the one iterative algorithm whose correctness
#    rested on a convergence argument rather than an oracle)


def _uf_components(edges):
    """Reference union-find (independent of the implementation under
    test): component = min reachable id, for every node that appears."""
    parent: dict[int, int] = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    return {x: find(x) for x in parent}


def _random_graph_batch(seed, n_graphs=80):
    """n_graphs small graphs, ids namespaced per graph (graph g's node v
    → g·1000 + v) so ONE distributed CC run checks the whole batch —
    components cannot cross namespaces.  Mix: sparse random graphs,
    CHAIN topologies (A≈B≈C but A̸≈C — the shape that kills min-pair
    dropping and exercises pointer jumping over multiple rounds), stars,
    and self-loop/duplicate-edge noise."""
    import random

    rng = random.Random(seed)
    edges = []
    for g in range(n_graphs):
        base = g * 1000
        kind = rng.randrange(4)
        if kind == 0:  # sparse random
            n = rng.randrange(2, 13)
            for _ in range(rng.randrange(1, 19)):
                edges.append(
                    (base + rng.randrange(n), base + rng.randrange(n))
                )
        elif kind == 1:  # chain — diameter up to 30
            n = rng.randrange(2, 31)
            edges += [(base + i, base + i + 1) for i in range(n - 1)]
        elif kind == 2:  # star
            n = rng.randrange(2, 15)
            hub = base + rng.randrange(n)
            edges += [(hub, base + i) for i in range(n)]
        else:  # two chains bridged at one point + duplicate edges
            n = rng.randrange(3, 12)
            edges += [(base + i, base + i + 1) for i in range(n - 1)]
            edges += [(base + 100 + i, base + 100 + i + 1) for i in range(n - 1)]
            edges.append((base + n // 2, base + 100 + n // 2))
            edges.append(edges[-1])  # duplicate
    return edges


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=3, deadline=None)
def test_connected_components_distributed_equals_union_find(seed):
    """Force the DISTRIBUTED min-label + pointer-jumping path
    (small_graph_edges=0) on ~80 namespaced graphs per example and
    assert node-exact equality with the reference union-find.  3
    examples × 80 graphs = 240 random graphs per run, chains included."""
    from pyspark.sql import SparkSession

    from fossa_spark.llm.dedup import connected_components

    spark = SparkSession.getActiveSession()
    if spark is None:
        from fossa_spark.session import get_spark

        spark = get_spark(app_name="fossa_spark_tests", shuffle_partitions=8)
    edges = _random_graph_batch(seed)
    expect = _uf_components(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got_df = connected_components(pairs, small_graph_edges=0)
    got = {r["doc_id"]: r["component"] for r in got_df.collect()}
    assert got == expect


def test_connected_components_small_path_equals_union_find(spark):
    """The driver union-find fast path must agree with the reference on
    the same batch (both paths behind one contract)."""
    from fossa_spark.llm.dedup import connected_components

    edges = _random_graph_batch(7, n_graphs=40)
    expect = _uf_components(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got_df = connected_components(pairs)  # default gate → driver path
    got = {r["doc_id"]: r["component"] for r in got_df.collect()}
    assert got == expect


# -- round-10 classical-ML determinism contracts (pure-Python mirrors of
#    the fixed-point math both engines must agree on)


@given(
    st.integers(min_value=-(10**17), max_value=10**17),
    st.integers(min_value=1, max_value=10**9),
)
def test_floordiv_modulus_form_is_floor(s, n):
    """ml._floordiv's two-engine-safe form — subtract the positive
    modulus, then ANY truncating division — equals Python's floor
    division for every sign combination."""
    m = ((s % n) + n) % n
    q = (s - m) // n  # exact multiple: truncation == floor
    assert q == s // n
    assert q * n + m == s


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=100_000),
        ),
        min_size=2,
        max_size=60,
    )
)
@settings(max_examples=60)
def test_ols_moments_form_matches_fraction_ground_truth(pts):
    """The Cramer's-rule slope from exact integer moments equals the
    rational ground truth to within one double rounding — the contract
    q_linreg's oracle relies on (both engines evaluate the SAME
    expression over the SAME exact integers)."""
    from fractions import Fraction

    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    den = n * sxx - sx * sx
    if den == 0:
        return  # degenerate x: q_linreg's groups never are
    slope_double = (float(n) * float(sxy) - float(sx) * float(sy)) / (
        float(n) * float(sxx) - float(sx) * float(sx)
    )
    slope_exact = Fraction(n * sxy - sx * sy, den)
    assert math.isclose(slope_double, float(slope_exact), rel_tol=1e-9)


@given(st.integers(min_value=0, max_value=(1 << 64) - 1), st.integers(min_value=0, max_value=3))
@settings(max_examples=120)
def test_phash_banding_pigeonhole(h, flips):
    """Any pair within Hamming <= 3 shares at least one of the 4 16-bit
    band slices — the premise phash_near_dup's candidate join rests on.
    Flip `flips` random-ish bit positions derived from the hash itself
    (deterministic) and check band agreement."""
    g = h
    for i in range(flips):
        g ^= 1 << ((h >> (i * 6)) % 64)
    bands_h = [(h >> (i * 16)) & 0xFFFF for i in range(4)]
    bands_g = [(g >> (i * 16)) & 0xFFFF for i in range(4)]
    hamming = bin(h ^ g).count("1")
    if hamming <= 3:
        assert any(a == b for a, b in zip(bands_h, bands_g))


# -- the BPE oracle-equivalence lemma (round 11, _bpe_tokenize_oracle):
# one greedy pass per rank in rank order == the lowest-rank-first encode
# loop, BECAUSE a single greedy pass of (l, r) leaves no (l, r)
# occurrence and later ranks can never recreate one (their merged
# symbols are new; l/r of rank k can only be built by ranks < k).


def _bpe_greedy_pass(syms, l, r):
    """One left-to-right greedy application of merge (l, r) — the exact
    rule llm/text.py bpe_train folds and bpe_apply's encode scans."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_train_ref(word_counts, k):
    """Reference trainer: argmax pair (count desc, l asc, r asc), greedy
    rewrite — mirrors bpe_train; returns (merges, final word table)."""
    tbl = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(k):
        counts = {}
        for w, syms in tbl.items():
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + word_counts[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        tbl = {w: _bpe_greedy_pass(s, *best) for w, s in tbl.items()}
    return merges, tbl


def _bpe_encode_lowest_rank_first(word, merges):
    """bpe_apply's encode loop: repeatedly apply the lowest-rank pair
    present, one full greedy pass per iteration."""
    rank = {m: i for i, m in enumerate(merges)}
    syms = list(word)
    while len(syms) > 1:
        best = None
        for pair in zip(syms, syms[1:]):
            rk = rank.get(pair)
            if rk is not None and (best is None or rk < best[0]):
                best = (rk, pair)
        if best is None:
            break
        syms = _bpe_greedy_pass(syms, *best[1])
    return syms


@given(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=12),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=300, deadline=None)
def test_bpe_sequential_passes_equal_encode_loop(words, k):
    """The lemma the tokenize oracle stands on: encoding by one greedy
    pass per TRAINED rank in rank order equals the lowest-rank-first
    loop — and equals the trainer's own final word table."""
    wc = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    merges, final_tbl = _bpe_train_ref(wc, k)
    for w in wc:
        seq = list(w)
        for m in merges:
            seq = _bpe_greedy_pass(seq, *m)
        loop = _bpe_encode_lowest_rank_first(w, merges)
        assert seq == loop, (w, merges, seq, loop)
        assert seq == final_tbl[w], (w, merges)


@given(
    st.lists(st.sampled_from(["a", "b", "ab", "ba", "aa"]),
             min_size=2, max_size=30),
    st.sampled_from([("a", "b"), ("a", "a"), ("ab", "a"), ("b", "ba")]),
)
@settings(max_examples=300, deadline=None)
def test_bpe_greedy_pass_leaves_no_occurrence(syms, pair):
    """A single greedy pass of (l, r) leaves NO adjacent (l, r) — the
    reason no rank ever needs a second pass (checked for l == r runs,
    overlapping-shape symbols, and merged-symbol operands alike)."""
    out = _bpe_greedy_pass(list(syms), *pair)
    assert all(
        not (x == pair[0] and y == pair[1]) for x, y in zip(out, out[1:])
    ), (syms, pair, out)


# -- Engine invariants under concurrent clients


class CountingModel(Model):
    """Sleeps a few ms; records the task id it ran under and the peak
    number of model bodies running at once."""

    lock = threading.Lock()
    runs: list[str] = []
    live = peak = 0

    def build(self):
        k = type(self)
        with k.lock:
            k.live += 1
            k.peak = max(k.peak, k.live)
            k.runs.append(self.spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
        time.sleep(0.003)
        with k.lock:
            k.live -= 1


@settings(max_examples=20, deadline=None)
@given(
    capacity=st.integers(min_value=1, max_value=3),
    clients=st.lists(
        st.lists(st.one_of(st.sampled_from("abcde"), st.none()), min_size=1, max_size=6),
        min_size=2, max_size=4,
    ),
)
def test_engine_invariants_under_concurrent_clients(spark, capacity, clients):
    """Client threads submit ids drawn from a small alphabet (so duplicates
    race) plus generated ones: each explicit id is accepted and runs
    exactly once, every rejection is a duplicate of an accepted id, every
    accepted job reaches a terminal status through wait(), no more jobs
    run at once than the capacity, and the engine ends idle."""
    CountingModel.runs.clear()
    CountingModel.peak = 0
    eng = Engine(spark, max_concurrent_tasks=capacity)
    eng.register_model(CountingModel)
    outcomes: list[tuple[str | None, object]] = []

    def client(ids):
        for tid in ids:
            try:
                got = eng.submit(Job(model_class="CountingModel", task_id=tid),
                                 block_if_full=True, timeout=60.0)
            except InvalidTaskSpec as e:
                got = e
            outcomes.append((tid, got))

    threads = [threading.Thread(target=client, args=(ids,)) for ids in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    try:
        accepted = [got for _, got in outcomes if isinstance(got, str)]
        assert len(set(accepted)) == len(accepted)
        explicit = {tid for ids in clients for tid in ids if tid is not None}
        assert explicit <= set(accepted)
        for tid, got in outcomes:
            if not isinstance(got, str):
                assert "duplicate task_id" in str(got) and tid in accepted, (tid, got)
        assert all(eng.wait(t, timeout=60).status is JobStatus.COMPLETE for t in accepted)
        assert Counter(CountingModel.runs) == Counter(accepted)
        assert CountingModel.peak <= capacity
        assert eng.capacity == capacity
        assert eng.node_summary()["running_tasks"] == []
    finally:
        eng.shutdown()
